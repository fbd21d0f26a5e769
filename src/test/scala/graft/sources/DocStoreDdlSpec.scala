package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** Metadata-only schema evolution (add/drop/widen column): one rowless
  * commit that carries EVERY data file by reference and changes only the
  * stored schema — O(1) in data bytes at any corpus size. DDL is a commit
  * like any mutation: the generation advances, time travel serves the old
  * schema, CDC stays exact, and all three verbs are convergent-idempotent
  * (what makes the SQL TVFs safe under analyzer double-evaluation).
  */
class DocStoreDdlSpec extends SparkTestBase {
  import spark.implicits._

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    new java.io.File(d).delete()
    d
  }

  private def liveGen(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path, "_MANIFEST")).trim

  private def physicalBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum

  private def links(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, "_LINKS")
    if (!java.nio.file.Files.exists(p)) Nil
    else java.nio.file.Files.readString(p).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def seeded(path: String, n: Int = 400, files: Int = 4): Unit = {
    DocStore.insertMany((0 until n).map(i => (i.toLong, (i % 7).toLong, s"doc-$i"))
      .toDF("id", "grp", "body"), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), files, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
  }

  test("addColumn is metadata-only, null-reading, backfillable, and convergent") {
    val path = freshPath()
    seeded(path)
    val before = liveGen(path)
    assert(DocStore.addColumn(spark, path, "score", LongType))
    val lg = liveGen(path)
    assert(lg != before, "DDL is a commit: the generation advances")
    // metadata-only: every data file carried, at most a rowless part
    assert(links(s"$path/$lg").size == 4)
    assert(physicalBytes(s"$path/$lg") < 4096)
    val live = DocStore.find(spark, path)
    assert(live.schema("score").dataType == LongType)
    assert(live.filter(col("score").isNotNull).isEmpty)
    assert(live.count() == 400 && DocStore.countFast(spark, path) == 400L)
    // CDC across the DDL commit: an all-null new column changes no row
    val gens = DocStore.generations(spark, path)
    assert(DocStore.diffGenerations(spark, path, gens.init.last, gens.last, "id").isEmpty)
    // a $set backfills it through the normal COW mutation path
    assert(DocStore.updateMany(spark, path, col("id") < 100L,
      Map("score" -> lit(5L))) == 100L)
    assert(DocStore.find(spark, path).filter(col("score") === 5L).count() == 100)
    // convergent: same (name, type) again commits nothing
    val gensNow = DocStore.generations(spark, path)
    assert(!DocStore.addColumn(spark, path, "score", LongType))
    assert(DocStore.generations(spark, path) == gensNow)
    // a DIFFERENT type is a real conflict, loud
    assert(intercept[IllegalArgumentException] {
      DocStore.addColumn(spark, path, "score", StringType)
    }.getMessage.contains("already exists"))
  }

  test("dropColumn is metadata-only; time travel still serves the old schema") {
    val path = freshPath()
    seeded(path)
    val preDrop = DocStore.generations(spark, path).last
    assert(DocStore.dropColumn(spark, path, "body"))
    val lg = liveGen(path)
    assert(links(s"$path/$lg").size == 4)
    assert(physicalBytes(s"$path/$lg") < 4096)
    val live = DocStore.find(spark, path)
    assert(!live.columns.contains("body"))
    assert(live.count() == 400 && DocStore.countFast(spark, path) == 400L)
    // pruning still works over the carried stats
    val probe = DocStore.find(spark, path, Some(col("id") === 5L))
    assert(probe.count() == 1 && probe.inputFiles.length == 1)
    // the PRE-drop snapshot still serves the column (schema is per-generation)
    val old = DocStore.findAsOf(spark, path, preDrop)
    assert(old.columns.contains("body"))
    assert(old.filter(col("body") === "doc-5").count() == 1)
    // CDC across the drop truthfully reports visible-row changes
    val gens = DocStore.generations(spark, path)
    val diff = DocStore.diffGenerations(spark, path, gens.init.last, gens.last, "id")
    assert(diff.filter(col("change") === "updated").count() == 400)
    // convergent: dropping an absent column is a no-op
    assert(!DocStore.dropColumn(spark, path, "body"))
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))
  }

  test("widenColumn upcasts carried narrow files in place; non-widenings refuse") {
    val path = freshPath()
    seeded(path)
    // an int32 column arrives by append (the drift-healing scenario)
    DocStore.insertMany(
      (1000 until 1100).map(i => (i.toLong, (i % 7).toLong, s"doc-$i", i))
        .toDF("id", "grp", "body", "w").repartition(1), path)
    assert(DocStore.find(spark, path).schema("w").dataType == IntegerType)
    assert(DocStore.widenColumn(spark, path, "w", LongType))
    val lg = liveGen(path)
    assert(links(s"$path/$lg").size == 5)
    assert(physicalBytes(s"$path/$lg") < 4096)
    val live = DocStore.find(spark, path)
    assert(live.schema("w").dataType == LongType)
    // the int32 file serves exactly under the widened schema
    assert(live.filter(col("id") === 1050L).select("w").as[Long].head() == 1050L)
    assert(live.filter(col("w").isNotNull).count() == 100)
    // CDC across the widen: values unchanged, no diff rows
    val gens = DocStore.generations(spark, path)
    assert(DocStore.diffGenerations(spark, path, gens.init.last, gens.last, "id").isEmpty)
    // convergent: already at the target type commits nothing
    assert(!DocStore.widenColumn(spark, path, "w", LongType))
    // long -> double is not scan-servable; absent column is loud
    assert(intercept[IllegalArgumentException] {
      DocStore.widenColumn(spark, path, "grp", DoubleType)
    }.getMessage.contains("not a scan-servable widening"))
    assert(intercept[IllegalArgumentException] {
      DocStore.widenColumn(spark, path, "nope", LongType)
    }.getMessage.contains("does not exist"))
  }

  test("SQL TVFs drive the same verbs and stay safe under double-evaluation") {
    val path = freshPath()
    seeded(path)
    assert(spark.sql(s"SELECT * FROM docstore_add_column('$path', 'score', 'bigint')")
      .head().getAs[Boolean]("committed"))
    // the analyzer may evaluate a TVF twice: convergence makes that a no-op
    assert(!spark.sql(s"SELECT * FROM docstore_add_column('$path', 'score', 'bigint')")
      .head().getAs[Boolean]("committed"))
    assert(DocStore.find(spark, path).schema("score").dataType == LongType)
    assert(spark.sql(s"SELECT * FROM docstore_drop_column('$path', 'body')")
      .head().getAs[Boolean]("committed"))
    assert(!DocStore.find(spark, path).columns.contains("body"))
    // widen via SQL over an appended int32 column
    DocStore.insertMany(
      (1000 until 1010).map(i => (i.toLong, (i % 7).toLong, i))
        .toDF("id", "grp", "w").repartition(1), path)
    assert(spark.sql(s"SELECT * FROM docstore_widen_column('$path', 'w', 'bigint')")
      .head().getAs[Boolean]("committed"))
    assert(DocStore.find(spark, path).schema("w").dataType == LongType)
    assert(DocStore.find(spark, path).count() == 410)
  }

  test("a pre-schema store refuses DDL loudly (no source of truth to alter)") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "body"), path) // json, no schema
    assert(intercept[IllegalStateException] {
      DocStore.addColumn(spark, path, "score", LongType)
    }.getMessage.contains("no stored schema"))
  }

  test("case-colliding add refuses; drop/widen resolve case-insensitively") {
    val path = freshPath()
    seeded(path)
    // a different-cased SAME-type add converges — the analyzer resolves
    // both spellings to the one stored column, so an ensure-column
    // script keeps working whatever casing created it
    assert(!DocStore.addColumn(spark, path, "GRP", LongType))
    // a different-TYPE add through any casing would commit a twin:
    // AMBIGUOUS_REFERENCE for every later col("grp") — refuse loudly
    assert(intercept[IllegalArgumentException] {
      DocStore.addColumn(spark, path, "GRP", StringType)
    }.getMessage.contains("already exists"))
    assert(!DocStore.addColumn(spark, path, "grp", LongType))
    // drop resolves the stored casing
    assert(DocStore.dropColumn(spark, path, "BODY"))
    assert(!DocStore.find(spark, path).columns.contains("body"))
  }

  test("re-adding a dropped column refuses while its bytes physically remain") {
    val path = freshPath()
    seeded(path)
    assert(DocStore.dropColumn(spark, path, "body"))
    // SAME type: a metadata-only re-add would silently resurrect the
    // dropped values (the drop promised no read surface serves them)
    assert(intercept[IllegalStateException] {
      DocStore.addColumn(spark, path, "body", StringType)
    }.getMessage.contains("physically present"))
    // DIFFERENT type: worse — every read of a carried file would fail
    // with a parquet conversion error until a compact
    assert(intercept[IllegalStateException] {
      DocStore.addColumn(spark, path, "body", LongType)
    }.getMessage.contains("physically present"))
    // the refusal committed nothing and the collection still reads
    assert(!DocStore.find(spark, path).columns.contains("body"))
    assert(DocStore.find(spark, path).count() == 400)
    // compact purges the dropped bytes — the re-add is then legitimate
    // and reads null everywhere (a genuinely NEW column)
    DocStore.compact(spark, path, targetFiles = 2)
    assert(DocStore.addColumn(spark, path, "body", LongType))
    val live = DocStore.find(spark, path)
    assert(live.schema("body").dataType == LongType)
    assert(live.filter(col("body").isNotNull).isEmpty)
    assert(live.count() == 400)
  }

  test("a COW-carried store re-adds a never-dropped name normally (guard has no false positive)") {
    val path = freshPath()
    seeded(path)
    // carried links present (a selective mutation), then an add of a
    // genuinely new name: the physical union contains no such column and
    // the add must go through
    DocStore.updateMany(spark, path, col("id") === 3L, Map("grp" -> lit(9L)))
    assert(DocStore.addColumn(spark, path, "score", DoubleType))
    assert(DocStore.find(spark, path).schema("score").dataType == DoubleType)
  }

  test("history is the metadata-only commit log across mutations and DDL") {
    val path = freshPath()
    seeded(path)                                           // insert/compact/cluster
    DocStore.updateMany(spark, path, col("id") === 5L,
      Map("body" -> lit("x")), token = Some("h-1"))        // COW + token
    DocStore.addColumn(spark, path, "score", LongType)     // dataless DDL
    val h = DocStore.history(spark, path).collect()
    assert(h.map(_.getAs[Int]("generation")).toSeq == h.map(_.getAs[Int]("generation")).toSeq.sorted)
    assert(h.count(_.getAs[Boolean]("live")) == 1)
    val live = h.find(_.getAs[Boolean]("live")).get
    // the DDL generation: zero physical data files, everything carried
    assert(live.getAs[Int]("data_files") == 0)
    assert(live.getAs[Int]("carried_files") == 4)
    assert(live.getAs[Long]("physical_bytes") == 0L)
    assert(live.getAs[Int]("schema_fields") == 4) // id, grp, body, score
    assert(live.getAs[Boolean]("fully_readable"))
    assert(!live.getAs[Boolean]("has_token"))
    // the token landed on the mutation's generation
    assert(h.exists(r => r.getAs[Boolean]("has_token")))
    // every retained generation is still fully readable
    assert(h.forall(_.getAs[Boolean]("fully_readable")))
    // SQL surface parity
    val sql = spark.sql(s"SELECT * FROM docstore_history('$path')").collect()
    assert(sql.map(_.toSeq).toSeq == h.map(_.toSeq).toSeq)
    // a vacuumed-away home eventually reads as not fully readable: covered
    // by the fsck unreadable-generation test; here history on a missing
    // collection is simply empty
    assert(DocStore.history(spark, freshPath()).isEmpty)
  }

  test("renameColumn is an honest rewrite: data follows, stats follow, replay converges") {
    val path = freshPath()
    seeded(path)
    assert(DocStore.renameColumn(spark, path, "grp", "category"))
    val live = DocStore.find(spark, path)
    assert(live.columns.toSet == Set("id", "category", "body"))
    assert(live.filter(col("category") === 3L).count() ==
      (0 until 400).count(_ % 7 == 3))
    assert(live.count() == 400 && DocStore.countFast(spark, path) == 400L)
    // replayed verb converges; real conflicts stay loud
    assert(!DocStore.renameColumn(spark, path, "grp", "category"))
    assert(intercept[IllegalArgumentException] {
      DocStore.renameColumn(spark, path, "nope", "x")
    }.getMessage.contains("neither"))
    assert(intercept[IllegalArgumentException] {
      DocStore.renameColumn(spark, path, "id", "category")
    }.getMessage.contains("already exists"))
    // renaming the CLUSTERED KEY itself: the stats geometry follows, so
    // selective reads keep pruning under the new name
    assert(DocStore.renameColumn(spark, path, "id", "doc_id"))
    val probe = DocStore.find(spark, path, Some(col("doc_id") === 5L))
    assert(probe.count() == 1)
    assert(probe.inputFiles.length < 4, "stats did not follow the rename")
    assert(DocStore.countFast(spark, path) == 400L)
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))
  }

  test("renameColumn commits schema + stats ATOMICALLY: a crash right after the commit leaves a fully consistent store") {
    val path = freshPath()
    seeded(path)
    // crash at the exact point the old flow's follow-up stats/schema
    // restoration would have run: the committed generation must ALREADY
    // carry the renamed stored schema and the re-keyed stats rows —
    // nothing after the manifest swing is load-bearing
    intercept[RuntimeException] {
      DocStore.renameColumnSeamed(spark, path, "id", "doc_id",
        retain = 2, retries = 3,
        () => throw new RuntimeException("crash after commit"))
    }
    val live = DocStore.find(spark, path)
    assert(live.columns.toSet == Set("doc_id", "grp", "body"))
    assert(live.count() == 400 && DocStore.countFast(spark, path) == 400L,
      "metadata-exact count lost — stats did not commit with the rename")
    val probe = DocStore.find(spark, path, Some(col("doc_id") === 5L))
    assert(probe.count() == 1)
    assert(probe.inputFiles.length < 4,
      "pruning lost — stats rows were not inside the committed generation")
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))

    // same pin for the json-store schema persistence: the metadata-only
    // column must survive a rename whose follow-up never ran
    val jp = freshPath()
    DocStore.insertMany((0 until 50).map(i => (i.toLong, s"d$i"))
      .toDF("id", "body"), jp)
    DocStore.compact(spark, jp, targetFiles = 1) // stays json
    DocStore.collectStats(spark, jp, Seq("id"))
    assert(DocStore.addColumn(spark, jp, "flag", LongType))
    intercept[RuntimeException] {
      DocStore.renameColumnSeamed(spark, jp, "body", "text",
        retain = 2, retries = 3,
        () => throw new RuntimeException("crash after commit"))
    }
    val got = DocStore.find(spark, jp)
    assert(got.columns.toSet == Set("id", "text", "flag"),
      s"metadata-only column lost: ${got.columns.toSet}")
    assert(DocStore.addColumn(spark, jp, "extra", StringType),
      "later DDL bricked — the stored schema did not commit with the rename")
  }

  test("compact commits its re-stat atomically; metadata-only columns survive json compaction") {
    val path = freshPath()
    seeded(path) // parquet, clustered, statted on id
    intercept[RuntimeException] {
      DocStore.compactSeamed(spark, path, targetFiles = 2, retain = 2,
        format = None, () => throw new RuntimeException("crash after commit"))
    }
    assert(DocStore.countFast(spark, path) == 400L,
      "metadata-exact count lost — compact's stats did not ride its commit")
    val probe = DocStore.find(spark, path, Some(col("id") === 5L))
    assert(probe.count() == 1 && probe.inputFiles.length < 2,
      "pruning lost after a crash-adjacent compact")
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))

    // json store with stats + a metadata-only column: compaction now
    // persists the READ schema instead of re-inferring over files that
    // carry no trace of an all-null field — the column survives
    val jp = freshPath()
    DocStore.insertMany((0 until 50).map(i => (i.toLong, s"d$i"))
      .toDF("id", "body"), jp)
    DocStore.compact(spark, jp, targetFiles = 2) // stays json
    DocStore.collectStats(spark, jp, Seq("id"))
    assert(DocStore.addColumn(spark, jp, "flag", LongType))
    DocStore.compact(spark, jp, targetFiles = 1)
    val got = DocStore.find(spark, jp)
    assert(got.columns.toSet == Set("id", "body", "flag"),
      s"json compaction dropped the metadata-only column: ${got.columns.toSet}")
    assert(got.filter(col("flag").isNotNull).isEmpty && got.count() == 50)
  }

  test("json compaction preserves a stored schema that exists WITHOUT stats rows") {
    // the state an external writer (or an older engine version) leaves: a
    // json store whose _STATS dir holds only the schema sidecar, no stats
    // rows. The schema carry across compact() must key on the STORED
    // SCHEMA's presence, not on stats geometry — gating on stats would
    // drop the schema here and silently erase the metadata-only column.
    val jp = freshPath()
    DocStore.insertMany((0 until 30).map(i => (i.toLong, s"d$i"))
      .toDF("id", "body"), jp)
    DocStore.compact(spark, jp, targetFiles = 1) // generational, json
    val statsDir = java.nio.file.Paths.get(jp, liveGen(jp), "_STATS")
    java.nio.file.Files.createDirectories(statsDir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("body", StringType), StructField("flag", LongType)))
    java.nio.file.Files.writeString(statsDir.resolve("_schema.json"), schema.json)
    assert(DocStore.find(spark, jp).columns.toSet == Set("id", "body", "flag"))
    DocStore.compact(spark, jp, targetFiles = 1)
    val got = DocStore.find(spark, jp)
    assert(got.columns.toSet == Set("id", "body", "flag"),
      s"schema-only sidecar dropped by compaction: ${got.columns.toSet}")
    assert(got.filter(col("flag").isNotNull).isEmpty && got.count() == 30)
    // and DDL still works — the schema source of truth survived
    assert(DocStore.addColumn(spark, jp, "extra", StringType))
  }

  test("docstore_rename_column TVF drives the same rewrite") {
    val path = freshPath()
    seeded(path, n = 60, files = 2)
    assert(spark.sql(
      s"SELECT * FROM docstore_rename_column('$path', 'body', 'text')")
      .head().getBoolean(0))
    assert(DocStore.find(spark, path).columns.toSet == Set("id", "grp", "text"))
    // analyzer double-evaluation / replay: convergent no-op
    assert(!spark.sql(
      s"SELECT * FROM docstore_rename_column('$path', 'body', 'text')")
      .head().getBoolean(0))
  }

  test("dotted-path $set: nested replace stays COW; new nested field evolves; null struct stays null") {
    val path = freshPath()
    val df = (0 until 400).map(i => (i.toLong, (i % 7).toLong, s"doc-$i"))
      .toDF("id", "grp", "body")
      .withColumn("meta", struct(
        // power-of-two divisor: exact doubles on both write and compare
        (col("id").cast("double") / lit(4.0d)).as("score"),
        lit("en").as("lang")))
    DocStore.insertMany(df, path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), 4, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
    // same-type nested replace on one clustered file: must stay COW
    assert(DocStore.updateMany(spark, path, col("id").between(0L, 49L),
      Map("meta.score" -> lit(0.9d))) == 50L)
    val lg = liveGen(path)
    val lnk = links(s"$path/$lg")
    assert(lnk.size == 3, s"nested same-type $$set should be COW, links=$lnk")
    val live = DocStore.find(spark, path)
    assert(live.filter(col("meta.score") === 0.9d).count() == 50)
    // untouched docs keep their value and sibling fields survive
    assert(live.filter(col("id") === 200L).select("meta.score")
      .head().getDouble(0) == 50.0)
    assert(live.filter(col("meta.lang") =!= "en").isEmpty)
    // a NEW nested field is schema evolution: full rewrite, null elsewhere
    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("meta.stars" -> lit(3L))) == 1L)
    val evolved = DocStore.find(spark, path)
    assert(evolved.filter(col("id") === 5L).select("meta.stars")
      .head().getLong(0) == 3L)
    assert(evolved.filter(col("meta.stars").isNotNull).count() == 1)
    // loud errors: missing top level, non-struct top level
    assert(intercept[IllegalArgumentException] {
      DocStore.updateMany(spark, path, col("id") === 1L,
        Map("nope.x" -> lit(1)))
    }.getMessage.contains("does not exist"))
    assert(intercept[IllegalArgumentException] {
      DocStore.updateMany(spark, path, col("id") === 1L,
        Map("body.x" -> lit(1)))
    }.getMessage.contains("not a struct"))
    // a NULL struct stays null (withField cannot manufacture the parent)
    val metaType = evolved.schema("meta").dataType
    DocStore.insertMany((Seq((9999L, 0L, "late"))).toDF("id", "grp", "body")
      .withColumn("meta", lit(null).cast(metaType)), path)
    assert(DocStore.updateMany(spark, path, col("id") === 9999L,
      Map("meta.score" -> lit(1.0d))) == 1L)
    assert(DocStore.find(spark, path).filter(col("id") === 9999L)
      .select("meta").head().isNullAt(0))
  }

  test("renameColumn preserves the stored schema on a stats-less json store") {
    val path = freshPath()
    DocStore.insertMany((0 until 50).map(i => (i.toLong, s"d$i"))
      .toDF("id", "body"), path)
    DocStore.compact(spark, path, targetFiles = 1) // stays json
    DocStore.collectStats(spark, path, Seq("id"))
    assert(DocStore.addColumn(spark, path, "flag", LongType)) // metadata-only
    // manufacture the stats-less-but-schema'd state (a partial sidecar
    // cleanup): stats ROWS gone, _schema.json intact
    val live = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_MANIFEST")).trim
    val statsDir = new java.io.File(s"$path/$live/_STATS")
    statsDir.listFiles().filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(_.delete())
    // the rewrite-based rename must re-persist the renamed STORED schema
    // even with no stats geometry to re-collect — dropping it would
    // erase the all-null metadata-only column (the JSON writer leaves no
    // physical trace of it) and brick later DDL
    assert(DocStore.renameColumn(spark, path, "body", "text"))
    val got = DocStore.find(spark, path)
    assert(got.columns.toSet == Set("id", "text", "flag"))
    assert(got.filter(col("flag").isNotNull).isEmpty)
    assert(got.count() == 50)
    // later DDL still has its source of truth
    assert(DocStore.addColumn(spark, path, "extra", StringType))
    assert(DocStore.find(spark, path).columns.toSet ==
      Set("id", "text", "flag", "extra"))
  }

  test("dotted $set stays COW under a foreign non-nullable nested schema") {
    val path = freshPath()
    val df = (0 until 400).map(i => (i.toLong, s"doc-$i")).toDF("id", "body")
      .withColumn("meta", struct(
        (col("id").cast("double") / lit(4.0d)).as("score")))
    DocStore.insertMany(df, path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), 4, Seq("id"))
    // a foreign producer can commit a stored schema whose nested field is
    // NON-nullable (this engine's own writes never do — JSON inference
    // and parquet reads relax everything); the dotted $set's struct
    // rebuild relaxes that field to nullable, and comparing schemas
    // without normalizing nullability would silently escalate the
    // prunable COW update into a corpus rewrite
    val lg0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_MANIFEST")).trim
    val schemaFile = java.nio.file.Paths.get(path, lg0, "_STATS", "_schema.json")
    val stored = org.apache.spark.sql.types.DataType.fromJson(
      java.nio.file.Files.readString(schemaFile))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val strict = org.apache.spark.sql.types.StructType(stored.map {
      case f if f.name == "meta" =>
        val st = f.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        f.copy(dataType = org.apache.spark.sql.types.StructType(
          st.map(_.copy(nullable = false))))
      case f => f
    })
    java.nio.file.Files.writeString(schemaFile, strict.json)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path, lg0, "_STATS", "._schema.json.crc"))
    assert(DocStore.updateMany(spark, path, col("id").between(0L, 49L),
      Map("meta.score" -> lit(0.9d))) == 50L)
    val lg = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_MANIFEST")).trim
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, lg, "_LINKS")),
      "nullability-only nested drift escalated the COW update to a full rewrite")
    val got = DocStore.find(spark, path)
    assert(got.filter(col("meta.score") === 0.9d).count() == 50)
    assert(got.filter(col("id") === 200L).select("meta.score")
      .head().getDouble(0) == 50.0)
  }
}
