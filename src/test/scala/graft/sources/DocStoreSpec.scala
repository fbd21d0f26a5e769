package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class DocStoreSpec extends SparkTestBase {
  import spark.implicits._

  // an existing empty directory is a collection that does not exist yet
  private def freshPath() =
    java.nio.file.Files.createTempDirectory("graft-docstore").toString

  test("insert heterogeneous batches; find infers the union schema") {
    val path = freshPath()
    assert(DocStore.insertMany(
      Seq((1L, "widget"), (2L, "gadget")).toDF("id", "name"), path) == 2)
    // second batch has an extra field — schemaless collections allow this
    DocStore.insertMany(
      Seq((3L, "gizmo", 9.5)).toDF("id", "name", "price"), path)
    val all = DocStore.find(spark, path)
    assert(all.count() == 3)
    assert(all.columns.toSet == Set("id", "name", "price"))
    // docs from the first batch read the missing field as null
    assert(all.filter(col("price").isNull).count() == 2)
    val q = DocStore.find(spark, path, Some(col("name") === "gadget"))
    assert(q.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("updateMany applies $set to matching docs only, counts matches") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "grp", "v"), path)
    val n = DocStore.updateMany(spark, path, col("grp") === "a",
      Map("v" -> lit(0.0), "flag" -> lit("reset")))
    assert(n == 2)
    val after = DocStore.find(spark, path).orderBy("id")
      .select("id", "v", "flag").collect()
    assert(after.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 0.0), (2L, 2.0), (3L, 0.0)))
    assert(after.map(r => Option(r.getString(2))).toSeq ==
      Seq(Some("reset"), None, Some("reset")))
  }

  test("updateMany $set of a numeric value into a new field keeps its type") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"), path)
    assert(DocStore.updateMany(spark, path, col("grp") === "a",
      Map("price" -> lit(9.5), "qty" -> lit(3L))) == 1)
    val after = DocStore.find(spark, path)
    assert(after.schema("price").dataType == org.apache.spark.sql.types.DoubleType)
    assert(after.schema("qty").dataType == org.apache.spark.sql.types.LongType)
    // numeric filters work on the evolved field — the coercion bug broke this
    assert(after.filter(col("price") > 9.0).select("id").as[Long].collect().toSeq == Seq(1L))
    assert(after.filter(col("price").isNull).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("updateMany counts matches on pre-update values when $set writes a filter column") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "pending"), (2L, "pending"), (3L, "done"))
      .toDF("id", "status"), path)
    // canonical $set pattern: the set overwrites the very column the
    // filter reads — matched must reflect the pre-update state (2), not
    // the post-update one (0)
    val n = DocStore.updateMany(spark, path, col("status") === "pending",
      Map("status" -> lit("done")))
    assert(n == 2)
    assert(DocStore.find(spark, path).filter(col("status") === "done").count() == 3)
  }

  test("one on-disk layout: an empty dir becomes gen 1; a root holding data files is refused untouched") {
    // (a) an EXISTING empty directory is a collection that does not exist
    // yet: reads see nothing, and the first insert commits gen 1 + manifest
    val empty = freshPath()
    assert(DocStore.find(spark, empty).isEmpty)
    assert(DocStore.countFast(spark, empty) == 0L)
    assert(DocStore.cowStats(spark, empty).isEmpty)
    assert(DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"), empty) == 2)
    assert(new java.io.File(s"$empty/gen-000001/_SUCCESS").exists())
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(empty, "_MANIFEST")).trim == "gen-000001")
    assert(new java.io.File(empty).list().toSet.filterNot(_.startsWith(".")) ==
      Set("_MANIFEST", "gen-000001"))
    // ...and the generational surfaces work on it from the first commit
    val cur = DocStore.cursor(spark, empty)
    assert(cur.generation == 1 && cur.files.nonEmpty)
    DocStore.insertMany(Seq((3L, "c")).toDF("id", "grp"), empty)
    val (changes, next) = DocStore.changesSince(spark, empty, cur, "id")
    assert(changes.select("id", "change").as[(Long, String)].collect().toSeq ==
      Seq((3L, "inserted")))
    assert(DocStore.updateMany(spark, empty, col("id") === 1L, Map("grp" -> lit("z"))) == 1)
    val (changes2, _) = DocStore.changesSince(spark, empty, next, "id")
    assert(changes2.select("id", "change").as[(Long, String)].collect().toSeq ==
      Seq((1L, "updated")))
    assert(DocStore.cowStats(spark, empty).count() >= 1L)

    // (b) a root holding a data file and no generation (the pre-manifest
    // layout) is refused by every surface with the one message, before
    // anything is written
    val flat = freshPath()
    java.nio.file.Files.write(java.nio.file.Paths.get(flat, "part-0.json"),
      "{\"id\": 1, \"grp\": \"a\"}\n{\"id\": 2, \"grp\": \"b\"}".getBytes)
    def snapshot(): Map[String, Seq[Byte]] =
      new java.io.File(flat).listFiles().map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val before = snapshot()
    def refused(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("unsupported pre-manifest layout") &&
        e.getMessage.contains("must be rebuilt"), e.getMessage)
    }
    refused(DocStore.find(spark, flat))
    refused(DocStore.insertMany(Seq((3L, "c")).toDF("id", "grp"), flat))
    refused(DocStore.updateMany(spark, flat, col("id") === 1L, Map("grp" -> lit("z"))))
    refused(DocStore.cursor(spark, flat))
    refused(DocStore.cowStats(spark, flat))
    // byte-for-byte untouched: no manifest, no empty-generation debris
    assert(snapshot() == before)
    assert(new java.io.File(flat).list().toSeq == Seq("part-0.json"))
  }

  test("an interrupted manifest commit recovers to the newest complete generation") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"), path)
    DocStore.updateMany(spark, path, col("grp") === "a", Map("grp" -> lit("z")))
    // crash window: manifest deleted, generations on disk — reads and
    // mutations must resolve to the newest COMPLETE generation
    assert(new java.io.File(s"$path/_MANIFEST").delete())
    assert(DocStore.find(spark, path).filter(col("grp") === "z").count() == 1)
    // an incomplete (no _SUCCESS) generation is never trusted
    val partial = new java.io.File(s"$path/gen-000099")
    partial.mkdirs()
    java.nio.file.Files.write(partial.toPath.resolve("part-zzz.json"),
      """{"id": 666, "grp": "junk"}""".getBytes)
    assert(new java.io.File(s"$path/_MANIFEST").delete())
    assert(DocStore.find(spark, path).filter(col("id") === 666).count() == 0)
    // and appends keep working against the recovered generation
    DocStore.insertMany(Seq((3L, "c")).toDF("id", "grp"), path)
    assert(DocStore.find(spark, path).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
  }

  test("concurrent readers keep a valid snapshot across one mutation") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"), path)
    // reader plans its scan (file list fixed at read time)...
    val snapshot = DocStore.find(spark, path)
    snapshot.count() // force planning against the pre-mutation generation
    // ...a mutation commits a new generation...
    assert(DocStore.deleteMany(spark, path, Some(col("grp") === "a")) == 1)
    // ...and the reader's snapshot still collects (previous generation is
    // retained for one mutation), while new reads see the new state
    assert(snapshot.select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(DocStore.find(spark, path).select("id").as[Long].collect().toSet == Set(2L))
  }

  test("a failure while materializing the rewrite leaves the collection intact") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "grp", "v"), path)
    // the $set expression throws mid-job — simulates a crash before the swap
    intercept[Exception] {
      DocStore.updateMany(spark, path, col("grp") === "a",
        Map("v" -> raise_error(lit("simulated mid-rewrite crash")).cast("double")))
    }
    val after = DocStore.find(spark, path).orderBy("id")
    assert(after.count() == 2)
    assert(after.select("v").as[Double].collect().toSeq == Seq(1.0, 2.0))
  }

  test("time travel: retained generations read as-of, pruned ones fail loudly") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "v0"), (2L, "v0")).toDF("id", "state"), path)
    DocStore.updateMany(spark, path, col("id") === 1, Map("state" -> lit("v1")), retain = 3)
    DocStore.updateMany(spark, path, col("id") === 2, Map("state" -> lit("v2")), retain = 3)
    val gens = DocStore.generations(spark, path)
    assert(gens.size == 3) // insert gen + two retained rewrites
    // oldest retained generation still shows the pre-update world
    assert(DocStore.findAsOf(spark, path, gens.head)
      .filter(col("state") === "v0").count() == 2)
    assert(DocStore.findAsOf(spark, path, gens(1))
      .filter(col("state") === "v1").count() == 1)
    // default retention (2) prunes history on the next mutation
    DocStore.updateMany(spark, path, col("id") === 1, Map("state" -> lit("v3")))
    assert(DocStore.generations(spark, path).size == 2)
    intercept[IllegalArgumentException] { DocStore.findAsOf(spark, path, gens.head) }
    // live view unaffected throughout
    assert(DocStore.find(spark, path).filter(col("state") === "v3").count() == 1)
  }

  test("compact merges append-accumulated small files into one, losslessly") {
    val path = freshPath()
    (1 to 5).foreach { b =>
      DocStore.insertMany(
        Seq((b.toLong, s"batch$b")).toDF("id", "tag").repartition(2), path)
    }
    def dataFiles(dir: String): Int =
      new java.io.File(dir).listFiles()
        .count(f => f.isFile && f.getName.startsWith("part-"))
    val before = DocStore.find(spark, path).collect().map(_.toSeq).toSet
    val liveBefore = DocStore.generations(spark, path).last
    assert(dataFiles(s"$path/gen-00000$liveBefore") >= 5)
    assert(DocStore.compact(spark, path) == 5L)
    val liveAfter = DocStore.generations(spark, path).last
    assert(liveAfter == liveBefore + 1)
    assert(dataFiles(f"$path/gen-$liveAfter%06d") == 1)
    assert(DocStore.find(spark, path).collect().map(_.toSeq).toSet == before)
  }

  test("data skipping: a selective filter on a clustered store reads fewer files") {
    val path = freshPath()
    DocStore.insertMany((0L until 1000L).map(i => (i, s"doc-$i", i % 7))
      .toDF("id", "text", "grp"), path)
    assert(DocStore.cluster(spark, path, col("id"), targetFiles = 8,
      statsCols = Seq("id", "grp")) == 1000L)
    // clustered by id into 8 files: an id range covering ~1/8 of the key
    // space must plan a scan over a strict subset of the files
    val q = DocStore.find(spark, path,
      Some(col("id") >= 100L && col("id") < 150L))
    val allFiles = DocStore.find(spark, path).inputFiles.length
    assert(allFiles == 8, s"expected 8 clustered files, got $allFiles")
    assert(q.inputFiles.length < allFiles,
      s"selective filter still reads all $allFiles files")
    // and the pruned read returns exactly the right rows
    assert(q.select("id").as[Long].collect().sorted.toSeq == (100L until 150L))
    // equality prunes too
    val eq = DocStore.find(spark, path, Some(col("id") === 500L))
    assert(eq.inputFiles.length == 1 && eq.count() == 1)
    // a filter on an unstatted column reads everything but stays correct
    val unstatted = DocStore.find(spark, path, Some(col("text") === "doc-42"))
    assert(unstatted.count() == 1)
    // appended files are statted incrementally: they're found when in
    // range AND pruned when out of range (skip rate survives appends)
    DocStore.insertMany(Seq((2000L, "late", 0L)).toDF("id", "text", "grp"), path)
    val late = DocStore.find(spark, path, Some(col("id") >= 2000L))
    assert(late.select("id").as[Long].collect().toSeq == Seq(2000L))
    val qAfter = DocStore.find(spark, path,
      Some(col("id") >= 100L && col("id") < 150L))
    assert(qAfter.inputFiles.length == q.inputFiles.length,
      "appended out-of-range file should be pruned via its incremental stats")
    // a batch bringing a NEW column widens the stored schema: filters on
    // it resolve even when pruning drops every pre-append file
    DocStore.insertMany(Seq((3000L, "x", 1L, "fresh"))
      .toDF("id", "text", "grp", "tag"), path)
    val tagQ = DocStore.find(spark, path,
      Some(col("id") >= 2500L && col("tag") === "fresh"))
    assert(tagQ.select("id").as[Long].collect().toSeq == Seq(3000L))
    // OR of recognizable disjuncts prunes to the UNION of matching files
    val or = DocStore.find(spark, path,
      Some(col("id") === 5L || col("id") === 999L))
    assert(or.count() == 2)
    assert(or.inputFiles.length <= 3,
      s"OR should prune to the disjunct union, read ${or.inputFiles.length}")
    // an unanalyzable disjunct poisons its OR (dropping it would prune
    // files the predicate might match): full scan, correct rows
    val orOpaque = DocStore.find(spark, path,
      Some(col("id") === 5L || col("text").endsWith("c-999")))
    assert(orOpaque.count() == 2) // id 5 plus doc-999's text
    // ... but an unanalyzable CONJUNCT under AND still lets its sibling prune
    val andOpaque = DocStore.find(spark, path,
      Some(col("id") === 500L && col("text").contains("doc")))
    assert(andOpaque.count() == 1 && andOpaque.inputFiles.length <= 3)
    // IN-lists prune to the union of matching files
    val in = DocStore.find(spark, path, Some(col("id").isin(5L, 6L, 7L)))
    assert(in.inputFiles.length < allFiles && in.count() == 3)
    // compaction re-stats the compacted generation: skipping survives
    DocStore.compact(spark, path, targetFiles = 4)
    val allAfter = DocStore.find(spark, path).inputFiles.length
    val qComp = DocStore.find(spark, path,
      Some(col("id") >= 100L && col("id") < 150L))
    assert(qComp.inputFiles.length < allAfter,
      "compacted store lost its data skipping")
    assert(qComp.select("id").as[Long].collect().sorted.toSeq == (100L until 150L))
  }

  test("bloom skipping: equality probes prune where min/max ranges all overlap") {
    val path = freshPath()
    DocStore.insertMany((0L until 1000L).map(i => (i, s"doc-$i"))
      .toDF("id", "text"), path)
    // cluster by id % 8: every file's [min,max] id range spans nearly the
    // whole key space, so range stats CANNOT prune an id equality — the
    // exact scenario blooms exist for
    assert(DocStore.cluster(spark, path, col("id") % 8, targetFiles = 8,
      statsCols = Seq("id"), bloomCols = Seq("id", "text")) == 1000L)
    val all = DocStore.find(spark, path).inputFiles.length
    assert(all == 8, s"expected 8 files, got $all")
    val eq = DocStore.find(spark, path, Some(col("id") === 500L))
    assert(eq.inputFiles.length <= 2,
      s"bloom should prune an id probe to ~1 file, read ${eq.inputFiles.length}")
    assert(eq.select("id").as[Long].collect().toSeq == Seq(500L))
    // the same probe via min/max alone would read everything — prove the
    // ranges really do overlap by checking a range query can't prune
    val range = DocStore.find(spark, path,
      Some(col("id") >= 500L && col("id") < 510L))
    assert(range.inputFiles.length == all,
      "test premise broken: ranges were supposed to overlap every file")
    // IN-list: union of the matching files' blooms
    val in = DocStore.find(spark, path, Some(col("id").isin(5L, 500L)))
    assert(in.inputFiles.length <= 3 && in.count() == 2)
    // string column blooms prune too
    val s = DocStore.find(spark, path, Some(col("text") === "doc-42"))
    assert(s.inputFiles.length <= 2 && s.count() == 1)
    // a value present nowhere prunes every file, and the read stays typed
    val none = DocStore.find(spark, path, Some(col("id") === 777777L))
    assert(none.count() == 0 && none.columns.contains("text"))
    // appended files get blooms via the incremental stat pass: probing a
    // duplicated id reads the owning file + the appended one, nothing more
    DocStore.insertMany(Seq((313L, "dup")).toDF("id", "text"), path)
    val dup = DocStore.find(spark, path, Some(col("id") === 313L))
    assert(dup.count() == 2)
    assert(dup.inputFiles.length <= 3,
      s"append degraded bloom pruning to ${dup.inputFiles.length} files")
    // compaction preserves the bloom configuration
    DocStore.compact(spark, path, targetFiles = 4)
    val afterAll = DocStore.find(spark, path).inputFiles.length
    val eqC = DocStore.find(spark, path, Some(col("id") === 500L))
    assert(eqC.inputFiles.length < afterAll,
      "compacted store lost its bloom skipping")
    assert(eqC.select("id").as[Long].collect().toSeq == Seq(500L))
  }

  test("bloom probing is type-gated: cross-type equality must not falsely prune") {
    val path = freshPath()
    // a DOUBLE column: stored bloom bits hash "1.5"/"5.0"-style renderings
    DocStore.insertMany((0L until 100L).map(i => (i, i.toDouble))
      .toDF("id", "score"), path)
    DocStore.cluster(spark, path, col("id") % 4, targetFiles = 4,
      statsCols = Seq.empty, bloomCols = Seq("score", "id"))
    // integer literal vs double column: Spark's coercion matches rows
    // (5.0 = 5) but "5" never hashed — the probe must NOT prune
    val crossTyped = DocStore.find(spark, path, Some(col("score") === 5))
    assert(crossTyped.count() == 1,
      "cross-type bloom probe pruned a file containing a matching row")
    // same-type probe on the long column still prunes and still finds
    val sameTyped = DocStore.find(spark, path, Some(col("id") === 5L))
    assert(sameTyped.count() == 1 && sameTyped.inputFiles.length <= 2)
  }

  test("interleaved appends between reads keep pruning exact, through compact") {
    val path = freshPath()
    DocStore.insertMany((0L until 400L).map(i => (i, s"base-$i"))
      .toDF("id", "text"), path)
    DocStore.cluster(spark, path, col("id"), targetFiles = 4,
      statsCols = Seq("id"))
    def idsWhere(c: org.apache.spark.sql.Column): Seq[Long] =
      DocStore.find(spark, path, Some(c)).select("id").as[Long]
        .collect().sorted.toSeq
    // append A (out of the clustered range), read, append B, read: each
    // append is statted incrementally and each read sees exactly the docs
    // present at that point — the sequential-interleave contract the
    // single-writer note promises
    DocStore.insertMany((1000L until 1040L).map(i => (i, s"a-$i"))
      .toDF("id", "text"), path)
    assert(idsWhere(col("id") >= 1000L) == (1000L until 1040L))
    assert(idsWhere(col("id") >= 100L && col("id") < 120L) == (100L until 120L))
    DocStore.insertMany((2000L until 2030L).map(i => (i, s"b-$i"))
      .toDF("id", "text"), path)
    assert(idsWhere(col("id") >= 1000L) ==
      ((1000L until 1040L) ++ (2000L until 2030L)))
    // both appended batches are pruned away for an in-base-range filter
    val base = DocStore.find(spark, path,
      Some(col("id") >= 100L && col("id") < 120L))
    val all = DocStore.find(spark, path).inputFiles.length
    assert(base.inputFiles.length < all,
      s"appends degraded pruning: ${base.inputFiles.length} of $all files")
    // compact folds the appends in; pruning and results stay exact
    DocStore.compact(spark, path, targetFiles = 3)
    assert(idsWhere(col("id") >= 1000L) ==
      ((1000L until 1040L) ++ (2000L until 2030L)))
    val afterAll = DocStore.find(spark, path).inputFiles.length
    val afterQ = DocStore.find(spark, path,
      Some(col("id") >= 100L && col("id") < 120L))
    assert(afterQ.inputFiles.length < afterAll)
    assert(afterQ.select("id").as[Long].collect().sorted.toSeq == (100L until 120L))
  }

  test("concurrent appends: every file statted exactly once, no widening lost") {
    val path = freshPath()
    DocStore.insertMany((0L until 200L).map(i => (i, s"base-$i"))
      .toDF("id", "text"), path)
    DocStore.cluster(spark, path, col("id"), targetFiles = 2,
      statsCols = Seq("id"))
    // 6 appends from 6 threads at once; two of them bring a NEW column so
    // concurrent schema widening is exercised too (additive sidecars: a
    // read-modify-write of one schema file could lose a writer's columns)
    val ranges = Seq(1000L, 2000L, 3000L, 4000L, 5000L, 6000L)
    val threads = ranges.zipWithIndex.map { case (lo, i) =>
      new Thread(() => {
        val df =
          if (i < 2) (lo until lo + 30L).map(j => (j, s"x-$j", s"extra$i-$j"))
            .toDF("id", "text", s"extra$i")
          else (lo until lo + 30L).map(j => (j, s"x-$j")).toDF("id", "text")
        DocStore.insertMany(df, path)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // all docs present, readable, and the union schema carries BOTH
    // concurrently-added columns
    val all = DocStore.find(spark, path)
    assert(all.count() == 200 + 6 * 30)
    assert(Set("extra0", "extra1").subsetOf(all.columns.toSet), all.columns.toSeq)
    // every data file has EXACTLY one stats row (no double-statting), and
    // every appended file is statted (skip rate never degrades)
    val live = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-")).map(_.toString)
      .sorted.last
    val statRows = spark.read.json(s"$live/_STATS")
      .select("file").as[String].collect().toSeq
    assert(statRows.distinct.size == statRows.size,
      s"double-statted: ${statRows.diff(statRows.distinct)}")
    val dataFiles = new java.io.File(live).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    assert(dataFiles == statRows.toSet, "unstatted or phantom stats rows")
    // pruning still exact across the concurrent appends
    val got = DocStore.find(spark, path, Some(col("id") >= 3000L && col("id") < 3030L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (3000L until 3030L))
    val pruned = DocStore.find(spark, path,
      Some(col("id") >= 50L && col("id") < 60L)).inputFiles.length
    assert(pruned < DocStore.find(spark, path).inputFiles.length)
  }

  test("pruned reads keep the FULL collection schema, not the surviving files' subset") {
    val path = freshPath()
    // heterogeneous docs: low ids carry only c, high ids only b — after
    // clustering by id, low-id files' JSON has no b field at all
    DocStore.insertMany((0L until 100L).map(i => (i, s"c$i")).toDF("id", "c"), path)
    DocStore.insertMany((100L until 200L).map(i => (i, s"b$i")).toDF("id", "b"), path)
    DocStore.cluster(spark, path, col("id"), targetFiles = 4, statsCols = Seq("id"))
    // id-bound prunes to low-id files; the filter ALSO references b, which
    // those files never mention — resolution must come from the stored
    // schema, or a correct non-empty answer degrades to empty
    val q = DocStore.find(spark, path,
      Some(col("id") < 50L && (col("b").isNotNull || col("c") === "c7")))
    assert(q.inputFiles.length < 4, "id bound should prune")
    assert(q.select("id").as[Long].collect().toSeq == Seq(7L))
    // all files pruned: emptiness is TYPED with the collection's schema
    val none = DocStore.find(spark, path, Some(col("id") === 99999L))
    assert(none.count() == 0)
    assert(none.columns.toSet == Set("id", "b", "c"))
  }

  test("diffGenerations: CDC between retained snapshots, incl. schema evolution") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), path)
    // rewrite 1 (update) creates gen 2; keep 3 generations so gen diff
    // has room
    DocStore.updateMany(spark, path, col("id") === 2L,
      Map("v" -> lit("B"), "tag" -> lit("new")), retain = 3)
    val gens = DocStore.generations(spark, path)
    assert(gens.size >= 2)
    val d = DocStore.diffGenerations(spark, path, gens.head, gens.last, "id")
      .orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    // id 2 changed (v and the evolved column tag); 1 and 3 gained a null
    // tag column only — null == null under the union schema, unchanged
    assert(d == Seq(2L -> "updated"), s"got $d")
    // delete 3 -> next generation: diff shows the deletion
    DocStore.deleteMany(spark, path, Some(col("id") === 3L), retain = 3)
    val gens2 = DocStore.generations(spark, path)
    val d2 = DocStore.diffGenerations(spark, path, gens2(gens2.size - 2),
        gens2.last, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(d2 == Seq(3L -> "deleted"), s"got $d2")
    // a pruned generation fails loudly through findAsOf
    intercept[IllegalArgumentException] {
      DocStore.diffGenerations(spark, path, 999, gens2.last, "id")
    }
  }

  test("diffGenerations survives type drift (long -> double) between generations") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, 5L), (2L, 7L)).toDF("id", "v"), path)
    // rewrite v as double: the next generation's inferred type drifts
    DocStore.updateMany(spark, path, col("id") === 1L,
      Map("v" -> lit(5.5)), retain = 3)
    val gens = DocStore.generations(spark, path)
    val d = DocStore.diffGenerations(spark, path, gens.head, gens.last, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    // id 1: 5 -> 5.5 updated; id 2: 7 -> 7.0 compares EQUAL under the
    // merged (double) schema — type widening alone is not a change
    assert(d == Seq(1L -> "updated"), s"got $d")
  }

  test("changesSince: cursor-based CDC across several generations") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val g0 = DocStore.generations(spark, path).last
    // two mutations -> two more generations (retain 4 keeps the chain)
    DocStore.updateMany(spark, path, col("id") === 1L,
      Map("v" -> lit("A")), retain = 4)
    DocStore.deleteMany(spark, path, Some(col("id") === 2L), retain = 4)
    val gens = DocStore.generations(spark, path)
    val changes = DocStore.changesSince(spark, path, g0, "id")
      .select("id", "change", "generation")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq.sorted
    assert(changes == Seq(
      (1L, "updated", gens(1)), (2L, "deleted", gens(2))), s"got $changes")
    // a cursor at the head sees nothing, with the right schema
    val atHead = DocStore.changesSince(spark, path, gens.last, "id")
    assert(atHead.count() == 0)
    assert(atHead.columns.toSet ==
      Set("id", "change", "before", "after", "generation"))
    // a pruned cursor fails loudly instead of silently skipping changes
    intercept[IllegalArgumentException] {
      DocStore.changesSince(spark, path, -5, "id")
    }
  }

  test("changesSince: the duplicate-key guard survives a change-free projection") {
    val path = freshPath()
    // id 1 twice: a store that violates the unique-key contract
    DocStore.insertMany(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v"), path)
    val g0 = DocStore.generations(spark, path).last
    val cur = DocStore.cursor(spark, path)
    // no stats, so a full rewrite: nothing is carried and both sides of
    // the diff read the duplicate
    DocStore.updateMany(spark, path, col("id") === 2L, Map("v" -> lit("C")), retain = 3)
    raisesNotUnique(DocStore.changesSince(spark, path, g0, "id"))
    raisesNotUnique(DocStore.changesSince(spark, path, cur, "id")._1)
  }

  /** Reading `changes` through a change-free projection must fail with
    * the diff's duplicate-key error.
    */
  private def raisesNotUnique(changes: org.apache.spark.sql.DataFrame): Unit = {
    val e = intercept[Exception](changes.select("id", "after").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("id is not unique")), e.toString)
  }

  test("changesSince: a duplicate key on either side, or between two steps, raises") {
    // before side only: the duplicated key is deleted by the next rewrite
    val before = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v"), before)
    val b0 = DocStore.generations(spark, before).last
    DocStore.deleteMany(spark, before, Some(col("id") === 1L), retain = 3)
    raisesNotUnique(DocStore.changesSince(spark, before, b0, "id"))
    // after side only: the duplicate is appended into the rewritten generation
    val after = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "c")).toDF("id", "v"), after)
    val a0 = DocStore.generations(spark, after).last
    val aCur = DocStore.cursor(spark, after)
    DocStore.updateMany(spark, after, col("id") === 2L, Map("v" -> lit("C")), retain = 3)
    DocStore.insertMany(Seq((1L, "b")).toDF("id", "v"), after)
    raisesNotUnique(DocStore.changesSince(spark, after, a0, "id"))
    raisesNotUnique(DocStore.changesSince(spark, after, aCur, "id")._1)
    // between two steps: only the middle generation holds the duplicate
    val mid = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "c")).toDF("id", "v"), mid)
    val m0 = DocStore.generations(spark, mid).last
    DocStore.updateMany(spark, mid, col("id") === 2L, Map("v" -> lit("C")), retain = 4)
    DocStore.insertMany(Seq((1L, "b")).toDF("id", "v"), mid)
    DocStore.deleteMany(spark, mid, Some(col("id") === 1L), retain = 4)
    assert(DocStore.generations(spark, mid).size == 3)
    raisesNotUnique(DocStore.changesSince(spark, mid, m0, "id"))
  }

  test("changesSince: a null key is one key, matched across generations") {
    val path = freshPath()
    DocStore.insertMany(Seq((None: Option[Long], "a"), (Some(2L), "c")).toDF("id", "v"), path)
    val g0 = DocStore.generations(spark, path).last
    DocStore.updateMany(spark, path, col("id") === 2L, Map("v" -> lit("C")), retain = 5)
    DocStore.updateMany(spark, path, col("id").isNull, Map("v" -> lit("b")), retain = 5)
    DocStore.deleteMany(spark, path, Some(col("id").isNull), retain = 5)
    val gens = DocStore.generations(spark, path)
    val changes = DocStore.changesSince(spark, path, g0, "id")
      .select(col("id"), col("change"), col("before.v"), col("after.v"), col("generation"))
      .collect().map(r => (Option(r.get(0)), r.getString(1), Option(r.getString(2)),
        Option(r.getString(3)), r.getInt(4))).toSeq.sortBy(_._5)
    // the null-key row is unchanged by the first rewrite (matched, not a
    // delete plus an insert), then updated, then deleted
    assert(changes == Seq(
      (Some(2L), "updated", Some("c"), Some("C"), gens(1)),
      (None, "updated", Some("a"), Some("b"), gens(2)),
      (None, "deleted", Some("b"), None, gens(3))), s"got $changes")
  }

  test("docstore TVF: SQL reads the live snapshot and time-travels") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    DocStore.updateMany(spark, path, col("id") === 1L,
      Map("v" -> lit("A")), retain = 3)
    val live = spark.sql(s"SELECT id, v FROM docstore('$path') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(live == Seq((1L, "A"), (2L, "b")))
    val g0 = DocStore.generations(spark, path).head
    val old = spark.sql(s"SELECT id, v FROM docstore('$path', $g0) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(old == Seq((1L, "a"), (2L, "b")))
    // CDC from pure SQL: same rows as the Column-API changesSince
    val sql = spark.sql(
      s"SELECT id, change, after.v, generation FROM docstore_changes('$path', $g0, 'id') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
    val api = DocStore.changesSince(spark, path, g0, "id")
      .select(col("id"), col("change"), col("after.v"), col("generation"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
    assert(sql == api)
    assert(sql == Seq((1L, "updated", "A", DocStore.generations(spark, path).last)))
  }

  test("deleteMany refuses the empty query unless protection is off") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "x"), (2L, "y")).toDF("id", "name"), path)
    intercept[DocStore.DeleteProtectionException] {
      DocStore.deleteMany(spark, path, None)
    }
    assert(DocStore.find(spark, path).count() == 2) // untouched
    assert(DocStore.deleteMany(spark, path, Some(col("name") === "x")) == 1)
    assert(DocStore.find(spark, path).select("id").as[Long].collect().toSeq == Seq(2L))
    // explicit opt-out empties the collection
    assert(DocStore.deleteMany(spark, path, None, deleteProtection = false) == 1)
    assert(DocStore.find(spark, path).count() == 0)
  }

  test("cursor CDC: a small append is served from ONLY the new files, no join") {
    val path = freshPath()
    DocStore.insertMany((1L to 500L).map(i => (i, s"d$i")).toDF("id", "v"), path)
    // freeze the pre-append state as its own generation so the join-based
    // diff below has a frozen "before" snapshot to compare against
    DocStore.compact(spark, path, targetFiles = 4, retain = 4)
    val cur = DocStore.cursor(spark, path)
    // caught-up poll: typed empty, zero data rows read
    val (none, same) = DocStore.changesSince(spark, path, cur, "id")
    assert(none.isEmpty && none.columns.toSeq ==
      Seq("id", "change", "before", "after", "generation"))
    assert(same == cur)
    // small append -> changes read ONLY the appended files
    DocStore.insertMany(Seq((1001L, "new1"), (1002L, "new2")).toDF("id", "v"), path)
    val snapshotFiles = DocStore.find(spark, path).inputFiles.length
    val (changes, next) = DocStore.changesSince(spark, path, cur, "id")
    assert(changes.inputFiles.length < snapshotFiles,
      s"append poll read ${changes.inputFiles.length} of $snapshotFiles files")
    assert(changes.inputFiles.length <= 2) // the one appended batch
    val got = changes.orderBy("id")
      .select("id", "change", "after.v", "generation").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
    assert(got == Seq((1001L, "inserted", "new1", cur.generation),
                      (1002L, "inserted", "new2", cur.generation)))
    // results identical to the join-based diff over the same state
    // change: gen N-1 is the frozen pre-append snapshot, gen N (the
    // cursor's) now carries the appended rows — the full-outer-join diff
    // of that pair must report exactly what the file-level poll did
    val gens = DocStore.generations(spark, path)
    val viaJoin = DocStore
      .diffGenerations(spark, path, gens.init.last, gens.last, "id")
      .orderBy("id").select("id", "change", "after.v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(viaJoin == got.map(t => (t._1, t._2, t._3)))
    // the advanced cursor is clean: nothing new
    val (after2, _) = DocStore.changesSince(spark, path, next, "id")
    assert(after2.filter(col("generation") <= next.generation).isEmpty)
  }

  test("cursor CDC across a rewrite: append-then-update composes in order") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val cur = DocStore.cursor(spark, path)
    DocStore.insertMany(Seq((3L, "c")).toDF("id", "v"), path) // append after cursor
    DocStore.updateMany(spark, path, col("id") === 3L, Map("v" -> lit("C")),
      retain = 4) // rewrite touches the appended row
    val (changes, next) = DocStore.changesSince(spark, path, cur, "id")
    val got = changes.select("id", "change", "after.v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // insert of the original row FIRST, then the rewrite's update — a
    // consumer replaying in order lands on the committed state
    assert(got == Seq((3L, "inserted", "c"), (3L, "updated", "C")))
    assert(next.generation == DocStore.generations(spark, path).last)
    // a pruned cursor fails loudly, never silently skips
    DocStore.updateMany(spark, path, col("id") === 1L, Map("v" -> lit("A")))
    DocStore.updateMany(spark, path, col("id") === 2L, Map("v" -> lit("B")))
    val stale = cur
    val ex = intercept[IllegalArgumentException](
      DocStore.changesSince(spark, path, stale, "id"))
    assert(ex.getMessage.contains("no longer retained"))
  }

  test("maybeCompact: no-op under the file threshold, one rewrite over it, lossless") {
    val path = freshPath()
    for (i <- 0 until 6)
      DocStore.insertMany(Seq((i.toLong, s"d$i")).toDF("id", "v"), path)
    val live = DocStore.find(spark, path)
    assert(live.inputFiles.length >= 6)
    val before = live.orderBy("id").collect().toSeq
    val gens = DocStore.generations(spark, path)
    // under threshold: metadata only, no generation committed
    assert(!DocStore.maybeCompact(spark, path, maxDataFiles = 100))
    assert(DocStore.generations(spark, path) == gens)
    // over threshold: compacts once, then the next call is a no-op again
    assert(DocStore.maybeCompact(spark, path, maxDataFiles = 3, targetFiles = 2))
    assert(DocStore.find(spark, path).inputFiles.length <= 2)
    assert(DocStore.find(spark, path).orderBy("id").collect().toSeq == before)
    assert(!DocStore.maybeCompact(spark, path, maxDataFiles = 3, targetFiles = 2))
  }

  test("replicate: follower tracks leader through inserts/updates/deletes/appends") {
    val leader = freshPath()
    val follower = freshPath()
    def snapshot(p: String) =
      DocStore.find(spark, p).orderBy("id").collect().toSeq
    DocStore.insertMany(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n"), leader)
    // seed: full copy, cursor captured pre-copy
    var cur = DocStore.replicate(spark, leader, follower, "id", None)
    assert(snapshot(follower) == snapshot(leader))
    // a no-change poll applies nothing (and commits no generation)
    val gensBefore = DocStore.generations(spark, follower)
    cur = DocStore.replicate(spark, leader, follower, "id", Some(cur))
    assert(DocStore.generations(spark, follower) == gensBefore)
    // mixed mutations on the leader: append, update, delete, then another
    // append (lands in the post-rewrite live generation)
    DocStore.insertMany(Seq((4L, "d", 40L)).toDF("id", "v", "n"), leader)
    DocStore.updateMany(spark, leader, col("id") === 2L,
      Map("v" -> lit("B")), retain = 4)
    DocStore.deleteMany(spark, leader, Some(col("id") === 1L), retain = 4)
    DocStore.insertMany(Seq((5L, "e", 50L)).toDF("id", "v", "n"), leader)
    cur = DocStore.replicate(spark, leader, follower, "id", Some(cur))
    assert(snapshot(follower) == snapshot(leader))
    // idempotence: re-applying the SAME changes replaces rows in place
    val (sameChanges, _) = DocStore.changesSince(spark, leader,
      DocStore.DocCursor(cur.generation, Set.empty), "id")
    DocStore.applyChanges(spark, follower, sameChanges, "id")
    assert(snapshot(follower) == snapshot(leader))
    // schema evolution rides through: leader gains a column
    DocStore.insertMany(Seq((6L, "f", 60L, 1.5)).toDF("id", "v", "n", "score"), leader)
    cur = DocStore.replicate(spark, leader, follower, "id", Some(cur))
    assert(DocStore.find(spark, follower).columns.contains("score"))
    assert(snapshot(follower).map(_.toString) == snapshot(leader).map(_.toString))
  }

  test("syncDerived: delta-cost transform stays equal to a full rebuild") {
    val src = freshPath()
    val derived = freshPath()
    def qscore = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("id"), col("text"),
        (length(col("text")) * 2).as("score"))
    def rebuilt = qscore(DocStore.find(spark, src))
      .orderBy("id").collect().toSeq
    def derivedState = DocStore.find(spark, derived)
      .select("id", "text", "score").orderBy("id").collect().toSeq
    DocStore.insertMany(Seq((1L, "alpha"), (2L, "bee"), (3L, "ceee"))
      .toDF("id", "text"), src)
    var cur = DocStore.syncDerived(spark, src, derived, "id", None)(qscore)
    assert(derivedState == rebuilt)
    // append + update + delete, then one delta sync
    DocStore.insertMany(Seq((4L, "dddd")).toDF("id", "text"), src)
    DocStore.updateMany(spark, src, col("id") === 2L,
      Map("text" -> lit("bumblebee")), retain = 5)
    DocStore.deleteMany(spark, src, Some(col("id") === 1L), retain = 5)
    cur = DocStore.syncDerived(spark, src, derived, "id", Some(cur))(qscore)
    assert(derivedState == rebuilt)
    // update-then-delete of the SAME key within one window applies as a
    // delete (the collapse-before-transform rule)
    DocStore.updateMany(spark, src, col("id") === 3L,
      Map("text" -> lit("changed")), retain = 5)
    DocStore.deleteMany(spark, src, Some(col("id") === 3L), retain = 5)
    cur = DocStore.syncDerived(spark, src, derived, "id", Some(cur))(qscore)
    assert(derivedState == rebuilt)
    assert(!derivedState.exists(_.getLong(0) == 3L))
    // caught-up poll is a no-op (no generation committed on the derived side)
    val gens = DocStore.generations(spark, derived)
    cur = DocStore.syncDerived(spark, src, derived, "id", Some(cur))(qscore)
    assert(DocStore.generations(spark, derived) == gens)
  }

  test("syncDerived: seeding a non-empty target is refused, not appended twice") {
    val src = freshPath()
    val derived = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), src)
    DocStore.syncDerived(spark, src, derived, "id", None)(identity)
    val e = intercept[IllegalArgumentException](
      DocStore.syncDerived(spark, src, derived, "id", None)(identity))
    assert(e.getMessage.contains("requires an empty target"))
    assert(DocStore.find(spark, derived).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  /** Spark jobs launched while `body` runs (listener events are posted
    * asynchronously; the short settle wait is generous for a local bus).
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { val a = body; Thread.sleep(600); (a, n.get()) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("unfiltered read is single-scan: planning runs no inference job once stats exist") {
    val path = freshPath()
    DocStore.insertMany((1L to 200L).map(i => (i, s"d$i", i % 7)).toDF("id", "t", "g"), path)
    // positive control FIRST: without a stored schema, merely CONSTRUCTING
    // the frame pays a schema-inference job — proving the counter sees
    // inference, so the zero below means something
    val (_, inferJobs) = jobsDuring(DocStore.find(spark, path, None).schema)
    assert(inferJobs >= 1, s"control: expected an inference job, saw $inferJobs")
    DocStore.collectStats(spark, path, Seq("id"))
    val (df, planJobs) = jobsDuring(DocStore.find(spark, path, None).schema)
    assert(planJobs == 0,
      s"stored schema present: construction must launch NO job, saw $planJobs")
    // appends stay covered: the sidecar keeps the single-scan path exact
    DocStore.insertMany(Seq((1000L, "x", 0L, 3.5)).toDF("id", "t", "g", "score"), path)
    val (df2, planJobs2) = jobsDuring(DocStore.find(spark, path, None).schema)
    assert(planJobs2 == 0, s"post-append construction launched $planJobs2 jobs")
    val all = DocStore.find(spark, path, None)
    assert(all.count() == 201)
    assert(all.columns.contains("score"))
    assert(all.filter(col("score").isNotNull).count() == 1)
  }

  test("parquet generations: compact migrates, reads/mutations/skipping stay columnar") {
    val path = freshPath()
    DocStore.insertMany((1L to 300L).map(i => (i, s"n$i", i % 5))
      .toDF("id", "name", "grp"), path)
    val before = DocStore.find(spark, path).orderBy("id").collect().toSeq
    assert(DocStore.compact(spark, path, targetFiles = 2,
      format = Some("parquet")) == 300)
    val after = DocStore.find(spark, path)
    // columnar now, same rows
    assert(after.inputFiles.forall(_.endsWith(".parquet")))
    assert(after.orderBy("id").collect().toSeq == before)
    // construction of a parquet read launches no inference job either
    val (_, planJobs) = jobsDuring(DocStore.find(spark, path, None).schema)
    assert(planJobs == 0, s"parquet construction launched $planJobs jobs")
    // mutations stay parquet: update rewrites the next generation columnar
    assert(DocStore.updateMany(spark, path, col("grp") === 0L,
      Map("name" -> lit("zeroed"))) == 60)
    val updated = DocStore.find(spark, path)
    assert(updated.inputFiles.forall(_.endsWith(".parquet")))
    assert(updated.filter(col("name") === "zeroed").count() == 60)
    // appends to a parquet generation write parquet and are read back
    DocStore.insertMany(Seq((1000L, "new", 9L)).toDF("id", "name", "grp"), path)
    assert(DocStore.find(spark, path).count() == 301)
    assert(DocStore.find(spark, path).inputFiles.forall(_.endsWith(".parquet")))
    // data skipping works on parquet generations: cluster + prune
    DocStore.cluster(spark, path, col("id"), targetFiles = 6, statsCols = Seq("id"))
    val full = DocStore.find(spark, path).inputFiles.length
    val pruned = DocStore.find(spark, path, Some(col("id") <= 40L))
    assert(pruned.inputFiles.length < full,
      s"pruned ${pruned.inputFiles.length} vs $full")
    assert(pruned.count() == 40)
  }

  test("CDC diffs across mixed-format generations; json round-trip back") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), path)
    DocStore.updateMany(spark, path, col("id") === 1L, Map("v" -> lit("A")),
      retain = 4) // json gen 2
    DocStore.compact(spark, path, retain = 4, format = Some("parquet")) // parquet gen 3
    DocStore.deleteMany(spark, path, Some(col("id") === 2L), retain = 4) // parquet gen 4
    val gens = DocStore.generations(spark, path)
    assert(gens.size >= 3)
    // diff across the json -> parquet boundary: pure-format change is NO change
    val Seq(g2, g3, g4) = gens.takeRight(3)
    assert(DocStore.diffGenerations(spark, path, g2, g3, "id").count() == 0)
    // and the mutation on the parquet side reports exactly the delete
    val d = DocStore.diffGenerations(spark, path, g3, g4, "id").collect()
    assert(d.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "deleted")))
    // changesSince walks the mixed-format chain
    val chain = DocStore.changesSince(spark, path, g2, "id")
      .select("id", "change", "generation").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(chain == Seq((2L, "deleted", g4)))
    // round-trip back to json keeps the rows
    DocStore.compact(spark, path, format = Some("json"))
    val back = DocStore.find(spark, path)
    assert(back.inputFiles.forall(f => !f.endsWith(".parquet")))
    assert(back.orderBy("id").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "A"), (3L, "c")))
  }
  test("countFast: metadata count from stats, exact scan fallback for uncovered files") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "grp", "v"), path)
    // no stats yet: exact full-scan fallback
    assert(DocStore.countFast(spark, path) == 3L)
    DocStore.collectStats(spark, path, Seq("id"))
    assert(DocStore.countFast(spark, path) == 3L)
    // an append is re-statted incrementally (insertMany's appendStats), so
    // the metadata path keeps covering the whole collection
    DocStore.insertMany(Seq((4L, "d", 4.0), (5L, "e", 5.0)).toDF("id", "grp", "v"), path)
    assert(DocStore.countFast(spark, path) == 5L)
    // PROOF the covered path never opens data files: corrupt one data
    // file's bytes (the ModelStore tamper trick) — the metadata count is
    // unaffected because only the stats sidecar is read
    val live = DocStore.generations(spark, path).last
    val gdir = new java.io.File(path, f"gen-$live%06d")
    val dataFile = gdir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    java.nio.file.Files.write(dataFile.toPath, "not json at all {{{".getBytes)
    new java.io.File(gdir, "." + dataFile.getName + ".crc").delete()
    assert(DocStore.countFast(spark, path) == 5L)
    // empty / nonexistent collections count 0 without erroring
    assert(DocStore.countFast(spark, freshPath()) == 0L)
  }

  test("countFast and fsck on a parquet store never statted: schema-only " +
      "_STATS dir must not crash or report bad-stats-sidecar") {
    // a parquet rewrite always writes _STATS/_schema.json; with no stats
    // pass the dir holds ONLY hidden files, which read.json cannot read —
    // countFast must fall back to the exact scan (not throw) and fsck must
    // not call the healthy store corrupt
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "grp"), path)
    DocStore.compact(spark, path, format = Some("parquet"))
    DocStore.deleteMany(spark, path, Some(col("id") === 2L))
    assert(DocStore.countFast(spark, path) == 2L)
    val findings = DocStore.fsck(spark, path).collect()
    assert(!findings.exists(_.getString(1) == "bad-stats-sidecar"),
      s"fsck false positive on a healthy parquet store: ${findings.mkString(";")}")
    assert(!findings.exists(_.getString(0) == "error"),
      s"healthy store reported errors: ${findings.mkString(";")}")
  }

}
