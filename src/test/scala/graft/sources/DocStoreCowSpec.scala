package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** File-granular copy-on-write mutations: a selective update/delete must
  * rewrite ONLY the files that may contain matching rows (pruned by the
  * `_STATS` min/max+Bloom sidecars) and carry the provably-untouched rest
  * forward by reference (`_LINKS`) — O(matched files), not O(corpus) — while
  * every read surface (live view, time travel, CDC, countFast, pruning,
  * fsck) stays byte-identical to the full-rewrite semantics.
  */
class DocStoreCowSpec extends SparkTestBase {
  import spark.implicits._

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-cow").toString
    new java.io.File(d).delete()
    d
  }

  private def liveGen(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path, "_MANIFEST")).trim

  private def physicalDataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  private def links(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, "_LINKS")
    if (!java.nio.file.Files.exists(p)) Nil
    else java.nio.file.Files.readString(p).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** 0..n-1 rows clustered by id into `files` parquet files with id stats. */
  private def seeded(path: String, n: Int, files: Int): Unit = {
    DocStore.insertMany((0 until n).map(i => (i.toLong, i % 7, s"doc-$i"))
      .toDF("id", "grp", "body"), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), files, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
  }

  test("selective update rewrites only candidate files and links the rest") {
    val path = freshPath()
    seeded(path, 1000, 10)
    val before = liveGen(path)
    val beforeFiles = physicalDataFiles(s"$path/$before")
    assert(beforeFiles.size == 10)
    val beforeBytes = beforeFiles.map(_.length()).sum

    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("body" -> lit("EDITED"))) == 1L)

    val after = liveGen(path)
    assert(after != before)
    val afterFiles = physicalDataFiles(s"$path/$after")
    // one clustered file can match id=5; the other nine are carried
    assert(afterFiles.size == 1, s"expected 1 rewritten file, got $afterFiles")
    assert(links(s"$path/$after").size == 9)
    assert(links(s"$path/$after").forall(_.startsWith(before + "/")))
    assert(afterFiles.map(_.length()).sum < beforeBytes)

    // live view is byte-identical to the full-rewrite semantics
    val live = DocStore.find(spark, path)
    assert(live.count() == 1000)
    assert(live.filter(col("body") === "EDITED").select("id").as[Long]
      .collect().toSeq == Seq(5L))
    // time travel: the superseded generation is untouched
    val gens = DocStore.generations(spark, path)
    val prevView = DocStore.findAsOf(spark, path, gens.init.last)
    assert(prevView.filter(col("body") === "EDITED").count() == 0)
    // CDC diff across the COW boundary reports exactly the touched key
    val diff = DocStore.diffGenerations(spark, path, gens.init.last, gens.last, "id")
    assert(diff.select("id", "change").as[(Long, String)].collect().toSeq ==
      Seq((5L, "updated")))
  }

  test("COW generations keep pruning, exact countFast, and clean fsck") {
    val path = freshPath()
    seeded(path, 1000, 10)
    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("body" -> lit("EDITED"))) == 1L)
    // carried stats rows + fresh-file re-stat: pruning still works on the
    // COW generation without any manual collectStats
    val probe = DocStore.find(spark, path, Some(col("id") === 800L))
    assert(probe.count() == 1)
    assert(probe.inputFiles.length == 1,
      s"expected pruning to 1 file, read ${probe.inputFiles.toSeq}")
    // countFast stays metadata-exact (carried counts + fresh-file stats)
    assert(DocStore.countFast(spark, path) == 1000L)
    val bad = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(bad.isEmpty, bad.collect().mkString("; "))
  }

  test("COW stats carry over the local gate runs distributed, byte-faithful, multi-file capable") {
    val path = freshPath()
    seeded(path, 1000, 10)
    // force the 100 TB sidecar shape: every carry must take the
    // distributed text path (line-level left_semi, multi-file output) —
    // the former shape re-serialized rows through spark.read.json and
    // folded a GB-scale carry into one coalesce(1) task
    System.setProperty("graft.docstore.statsLocalMaxBytes", "1")
    try {
      assert(DocStore.updateMany(spark, path, col("id") === 5L,
        Map("body" -> lit("EDITED"))) == 1L)
    } finally System.clearProperty("graft.docstore.statsLocalMaxBytes")
    // the carried rows landed and pruning/metadata-exact counts survive
    val probe = DocStore.find(spark, path, Some(col("id") === 800L))
    assert(probe.count() == 1 && probe.inputFiles.length == 1,
      s"pruning degraded after the distributed carry: ${probe.inputFiles.toSeq}")
    assert(DocStore.countFast(spark, path) == 1000L)
    val bad = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(bad.isEmpty, bad.collect().mkString("; "))
  }

  test("selective delete takes the COW path and preserves semantics") {
    val path = freshPath()
    seeded(path, 1000, 10)
    assert(DocStore.deleteMany(spark, path,
      Some(col("id").between(100L, 199L))) == 100L)
    val after = liveGen(path)
    assert(links(s"$path/$after").nonEmpty)
    assert(physicalDataFiles(s"$path/$after").size < 10)
    assert(DocStore.find(spark, path).count() == 900)
    assert(DocStore.find(spark, path)
      .filter(col("id").between(100L, 199L)).isEmpty)
    assert(DocStore.countFast(spark, path) == 900L)
  }

  test("zero-match mutation commits an all-carried metadata-only generation") {
    val path = freshPath()
    seeded(path, 200, 4)
    val before = liveGen(path)
    assert(DocStore.updateMany(spark, path, col("id") === -1L,
      Map("body" -> lit("NEVER"))) == 0L)
    val after = liveGen(path)
    assert(after != before) // a mutation is a commit: the generation advances
    // at most one rowless part file (Spark writes one for an empty frame);
    // every data byte is carried by reference
    assert(physicalDataFiles(s"$path/$after").map(_.length()).sum < 4096)
    assert(links(s"$path/$after").size == 4)
    assert(DocStore.find(spark, path).count() == 200)
    val gens = DocStore.generations(spark, path)
    assert(DocStore.diffGenerations(spark, path, gens.init.last, gens.last, "id").isEmpty)
  }

  test("chained COW mutations: retention keeps link homes alive (closure)") {
    val path = freshPath()
    seeded(path, 1000, 10)
    val home = liveGen(path)
    // three sequential selective mutations at retain=2: the clustered home
    // generation stays on disk as long as retained generations link into it
    DocStore.updateMany(spark, path, col("id") === 3L, Map("body" -> lit("e1")))
    DocStore.updateMany(spark, path, col("id") === 503L, Map("body" -> lit("e2")))
    DocStore.deleteMany(spark, path, Some(col("id") === 907L))
    assert(new java.io.File(s"$path/$home").exists(),
      "link-home generation must survive retention while referenced")
    val live = DocStore.find(spark, path)
    assert(live.count() == 999)
    assert(live.filter(col("body").isin("e1", "e2")).select("id").as[Long]
      .collect().toSet == Set(3L, 503L))
    // links point at PHYSICAL homes, never chain: every entry of the live
    // generation resolves to an existing file
    val lg = liveGen(path)
    links(s"$path/$lg").foreach { e =>
      assert(new java.io.File(s"$path/$e").isFile, s"dangling $e")
    }
    val bad = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(bad.isEmpty, bad.collect().mkString("; "))
  }

  test("compact flattens links so retention can reclaim old homes") {
    val path = freshPath()
    seeded(path, 500, 5)
    val home = liveGen(path)
    DocStore.updateMany(spark, path, col("id") === 1L, Map("body" -> lit("x")))
    assert(links(s"$path/${liveGen(path)}").nonEmpty)
    DocStore.compact(spark, path, targetFiles = 2)
    assert(links(s"$path/${liveGen(path)}").isEmpty) // flattened
    // two more full commits push the linked home out of every keep window
    DocStore.compact(spark, path, targetFiles = 2)
    DocStore.compact(spark, path, targetFiles = 2)
    assert(!new java.io.File(s"$path/$home").exists(),
      "flattened home must be reclaimed by retention")
    assert(DocStore.find(spark, path).count() == 500)
  }

  test("schema-evolving update falls back to the full rewrite") {
    val path = freshPath()
    seeded(path, 200, 4)
    // `flag` does not exist: every row's schema changes, COW must not apply
    assert(DocStore.updateMany(spark, path, col("id") === 7L,
      Map("flag" -> lit("new"))) == 1L)
    val after = liveGen(path)
    assert(links(s"$path/$after").isEmpty)
    assert(physicalDataFiles(s"$path/$after").nonEmpty)
    val live = DocStore.find(spark, path)
    assert(live.columns.contains("flag"))
    assert(live.filter(col("flag") === "new").count() == 1)
    assert(live.filter(col("flag").isNull).count() == 199)
  }

  test("appended-unstatted files are always rewrite candidates; cursor CDC sees a COW poll") {
    val path = freshPath()
    seeded(path, 400, 4)
    val cur = DocStore.cursor(spark, path)
    // an append lands after the stats pass: no stats row, so it must be a
    // candidate for ANY filter (pruning can't exclude it)
    DocStore.insertMany(Seq((9999L, 1L, "late")).toDF("id", "grp", "body"), path)
    assert(DocStore.updateMany(spark, path, col("id") === 9999L,
      Map("body" -> lit("late-edit"))) == 1L)
    val lg = liveGen(path)
    assert(links(s"$path/$lg").size == 4) // all statted files carried
    val (changes, _) = DocStore.changesSince(spark, path, cur, "id")
    val byKey = changes.select("id", "change").as[(Long, String)].collect().toMap
    assert(byKey.get(9999L).contains("inserted") || byKey.get(9999L).contains("updated"))
    assert(DocStore.find(spark, path, Some(col("id") === 9999L))
      .select("body").as[String].collect().toSeq == Seq("late-edit"))
  }

  test("json stores take the COW path too") {
    val path = freshPath()
    DocStore.insertMany((0 until 200).map(i => (i.toLong, s"d$i")).toDF("id", "body"), path)
    DocStore.compact(spark, path, targetFiles = 1) // stays json
    DocStore.cluster(spark, path, col("id"), 4, Seq("id"))
    assert(DocStore.updateMany(spark, path, col("id") === 10L,
      Map("body" -> lit("J"))) == 1L)
    val lg = liveGen(path)
    assert(links(s"$path/$lg").size == 3)
    assert(physicalDataFiles(s"$path/$lg").forall(_.getName.endsWith(".json")))
    val live = DocStore.find(spark, path)
    assert(live.count() == 200)
    assert(live.filter(col("body") === "J").select("id").as[Long]
      .collect().toSeq == Seq(10L))
    assert(DocStore.countFast(spark, path) == 200L)
  }

  test("racing mutations serialize under the bounded retry") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("id", "grp", "n"), path)
    @volatile var fired = false
    // writer A pins, then writer B commits inside A's pin-to-commit window;
    // A's first commit loses loudly, the retry re-pins B's state and wins
    val n = DocStore.withMutationRetry(3)(() =>
      DocStore.updateManySeamed(spark, path, col("grp") === "a",
        Map("n" -> lit(1L)), 2, () => {
          if (!fired) {
            fired = true
            assert(DocStore.updateMany(spark, path, col("grp") === "b",
              Map("n" -> lit(2L))) == 1L)
          }
        }))
    assert(n == 1L)
    assert(fired)
    // both effects committed — a serial order, exactly once each
    assert(DocStore.find(spark, path).orderBy("id").select("n").as[Long]
      .collect().toSeq == Seq(1L, 2L))
  }

  test("retries = 0 preserves the loud fail-fast contract") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a", 0L)).toDF("id", "grp", "n"), path)
    @volatile var fired = false
    intercept[DocStore.ConcurrentMutationException] {
      DocStore.withMutationRetry(0)(() =>
        DocStore.updateManySeamed(spark, path, col("grp") === "a",
          Map("n" -> lit(1L)), 2, () => {
            if (!fired) {
              fired = true
              DocStore.updateMany(spark, path, col("grp") === "a",
                Map("n" -> lit(9L)))
            }
          }))
    }
  }

  test("a NON-servable type change ($set long -> double) falls back to the full rewrite") {
    val path = freshPath()
    seeded(path, 200, 4)
    // grp is BIGINT; a double $set value coerces the whole column through
    // when/otherwise — int64 under a double read-schema is NOT one of the
    // scan-servable widenings (unlike int -> long / float -> double,
    // which stay COW), so COW must decline and re-type every file
    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("grp" -> lit(1.5))) == 1L)
    val lg = liveGen(path)
    assert(links(s"$path/$lg").isEmpty, "type-widening update must not carry files")
    val live = DocStore.find(spark, path)
    assert(live.schema("grp").dataType == org.apache.spark.sql.types.DoubleType)
    assert(live.count() == 200)
    assert(live.filter(col("id") === 5L).select("grp").as[Double]
      .collect().toSeq == Seq(1.5))
  }

  test("cursor capture and syncAggregate seed cover carried files") {
    val path = freshPath()
    seeded(path, 400, 4)
    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("body" -> lit("EDITED"))) == 1L)
    // the live generation now holds most rows by REFERENCE — a physical
    // listing would see one file; the cursor must see them all
    val cur = DocStore.cursor(spark, path)
    assert(cur.files.count(_.contains("/")) == 3, cur.files)
    // seed an aggregate view from the COW snapshot: counts must cover the
    // whole corpus, not just the rewritten file
    val dst = freshPath()
    DocStore.syncAggregate(spark, path, dst, "id", "grp", Seq("id"))
    val total = DocStore.find(spark, dst).agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == 400L, s"seed missed carried rows: $total")
    // and a poll after a further COW mutation folds only the delta
    DocStore.updateMany(spark, path, col("id") === 7L, Map("grp" -> lit(99L)))
    DocStore.syncAggregate(spark, path, dst, "id", "grp", Seq("id"))
    val view = DocStore.find(spark, dst).select("grp", "cnt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(view(99L) == 1L && view.values.sum == 400L)
  }

  test("compactSmall merges only the append tail and links the large files") {
    val path = freshPath()
    seeded(path, 800, 2) // two LARGE clustered files with id stats
    val big = liveGen(path)
    // a high-frequency ingest tail: five tiny appends
    (0 until 5).foreach(i => DocStore.insertMany(
      Seq((9000L + i, 1, s"tail-$i")).toDF("id", "grp", "body"), path))
    assert(physicalDataFiles(s"$path/$big").size == 7)
    val bigBytes = physicalDataFiles(s"$path/$big")
      .filter(_.length() >= 4096).map(_.length()).sum
    assert(DocStore.compactSmall(spark, path, minBytes = 4096) == 5L)
    val after = liveGen(path)
    assert(after != big)
    // one merged physical file; the two large files carried by reference
    val fresh = physicalDataFiles(s"$path/$after")
    assert(fresh.size == 1 && links(s"$path/$after").size == 2)
    assert(fresh.map(_.length()).sum < bigBytes,
      "the rewrite must cost the tail's bytes, not the corpus")
    val live = DocStore.find(spark, path)
    assert(live.count() == 805)
    assert(live.filter(col("id") >= 9000L).count() == 5)
    // skipping and exact counting survive: carried stats + merged re-stat
    assert(DocStore.countFast(spark, path) == 805L)
    val probe = DocStore.find(spark, path, Some(col("id") === 700L))
    assert(probe.count() == 1 && probe.inputFiles.length <= 2)
    // below the threshold it is a metadata-only no-op (no commit)
    assert(DocStore.compactSmall(spark, path, minBytes = 4096) == 0L)
    assert(liveGen(path) == after)
  }

  test("applyChanges prunes the follower rewrite (COW replication)") {
    val leader = freshPath(); val follower = freshPath()
    DocStore.insertMany((0 until 400).map(i => (i.toLong, i % 7, s"doc-$i"))
      .toDF("id", "grp", "body"), leader)
    // seed the follower, then give IT the data-skipping layout — stats on
    // the replication key are what let a poll prune its own rewrite
    val cur = DocStore.replicate(spark, leader, follower, "id", None)
    DocStore.compact(spark, follower, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, follower, col("id"), 8, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
    val beforeFiles = physicalDataFiles(s"$follower/${liveGen(follower)}")
    assert(beforeFiles.size == 8)
    // a narrow leader mutation: the follower poll must rewrite only the
    // file(s) whose id range the changed keys can touch
    DocStore.updateMany(spark, leader, col("id").between(20L, 29L),
      Map("body" -> lit("R")))
    val cur2 = DocStore.replicate(spark, leader, follower, "id", Some(cur))
    val lg = liveGen(follower)
    assert(links(s"$follower/$lg").nonEmpty,
      "follower poll must carry unmatched files by reference")
    assert(physicalDataFiles(s"$follower/$lg").size < 8)
    // replication correctness is untouched: follower == leader, row for row
    val l = DocStore.find(spark, leader).orderBy("id")
      .select("id", "grp", "body").collect().toSeq
    val f = DocStore.find(spark, follower).orderBy("id")
      .select("id", "grp", "body").collect().toSeq
    assert(f == l && f.size == 400)
    assert(DocStore.find(spark, follower).filter(col("body") === "R")
      .count() == 10)
    // schema evolution through the changes: a NEW leader column reaches
    // the follower while carried files read it as null
    DocStore.updateMany(spark, leader, col("id") === 350L,
      Map("tag" -> lit("new-col")))
    DocStore.replicate(spark, leader, follower, "id", Some(cur2))
    val ff = DocStore.find(spark, follower)
    assert(ff.columns.contains("tag"))
    assert(ff.filter(col("tag") === "new-col").select("id").as[Long]
      .collect().toSeq == Seq(350L))
    assert(ff.filter(col("tag").isNull).count() == 399)
  }

  test("fsck reports a dangling link as an error") {
    val path = freshPath()
    seeded(path, 200, 4)
    DocStore.updateMany(spark, path, col("id") === 0L, Map("body" -> lit("x")))
    val entry = links(s"$path/${liveGen(path)}").head
    assert(new java.io.File(s"$path/$entry").delete()) // out-of-API damage
    val errs = DocStore.fsck(spark, path)
      .filter(col("severity") === "error" && col("code") === "dangling-link")
    assert(errs.count() >= 1)
  }

  test("maybeCompact smallBytes policy: the ingest tail self-maintains incrementally") {
    val path = freshPath()
    seeded(path, 800, 2) // two LARGE clustered files
    // under the threshold: metadata listing only, no commit
    val g0 = liveGen(path)
    assert(!DocStore.maybeCompact(spark, path, maxDataFiles = 6,
      smallBytes = 4096))
    assert(liveGen(path) == g0)
    // an ingest loop crosses the file budget
    (0 until 6).foreach(i => DocStore.insertMany(
      Seq((9000L + i, 1, s"tail-$i")).toDF("id", "grp", "body"), path))
    assert(DocStore.maybeCompact(spark, path, maxDataFiles = 6,
      smallBytes = 4096))
    // INCREMENTAL remedy fired: the tail merged, the big files carried
    val after = liveGen(path)
    assert(links(s"$path/$after").size == 2,
      s"large files must be carried, got links ${links(s"$path/$after")}")
    assert(physicalDataFiles(s"$path/$after").size == 1)
    assert(DocStore.find(spark, path).count() == 806)
    assert(DocStore.countFast(spark, path) == 806L)
    // a corpus of mostly-large files cannot be fixed by the tail merge:
    // the policy escalates to the full compact (links flatten)
    assert(DocStore.maybeCompact(spark, path, maxDataFiles = 2,
      targetFiles = 1, smallBytes = 4096))
    val flat = liveGen(path)
    assert(links(s"$path/$flat").isEmpty)
    assert(physicalDataFiles(s"$path/$flat").size == 1)
    assert(DocStore.find(spark, path).count() == 806)
  }

  private def diskBytes(path: String): Long = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
  }

  test("vacuum is a no-op while every home stays mostly live") {
    val path = freshPath()
    seeded(path, 1000, 10)
    DocStore.updateMany(spark, path, col("id") === 5L, Map("body" -> lit("e")))
    val before = liveGen(path)
    // the clustered home still has 9 of 10 files carried: live fraction
    // 0.9 is above the threshold, so nothing is re-homed and no
    // generation is committed
    assert(DocStore.vacuum(spark, path) == 0L)
    assert(liveGen(path) == before)
  }

  test("vacuum re-homes mostly-dead homes; the window slide reclaims them") {
    val path = freshPath()
    // FAT, incompressible rows so data bytes dominate per-file parquet
    // overhead — the footprint assertions below compare real payload
    DocStore.insertMany((0 until 1000).map { i =>
        val rnd = new scala.util.Random(i)
        (i.toLong, i % 7, s"doc-$i-" + rnd.alphanumeric.take(512).mkString)
      }.toDF("id", "grp", "body"), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), 10, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
    val home = liveGen(path)
    // six single-file COW mutations: the clustered home's live fraction
    // falls to ~0.4 (each touched file's old version becomes dead bytes)
    (0 until 6).foreach(i =>
      DocStore.updateMany(spark, path, col("id") === (i * 100L + 1L),
        Map("body" -> lit(s"e$i"))))
    // cowStats sees the debt on the (non-window) home generation
    val homeGen = home.stripPrefix("gen-").toInt
    val debt = DocStore.cowStats(spark, path)
      .filter(col("generation") === homeGen).head()
    assert(debt.getAs[Long]("dead_bytes") > 0L)
    assert(debt.getAs[Double]("live_fraction") < 0.5)
    assert(!debt.getAs[Boolean]("in_retain_window"))
    // fsck surfaces the same debt as a warning
    assert(DocStore.fsck(spark, path)
      .filter(col("code") === "cow-garbage").count() >= 1)
    val reclaimBytes = diskBytes(path)
    val rehomed = DocStore.vacuum(spark, path)
    assert(rehomed == 4L, s"expected the home's 4 live files re-homed, got $rehomed")
    // vacuum itself keeps the home (older retained generations still link
    // into it — snapshot isolation); the live generation no longer does
    assert(links(s"$path/${liveGen(path)}").forall(!_.startsWith(home + "/")))
    // reads are unaffected, metadata counts stay exact
    assert(DocStore.find(spark, path).count() == 1000)
    assert(DocStore.countFast(spark, path) == 1000L)
    assert(DocStore.find(spark, path)
      .filter(col("body").startsWith("e")).count() == 6)
    // two more mutations slide the retention window past the last
    // generation that linked into the home: its bytes actually free
    DocStore.updateMany(spark, path, col("id") === 999L, Map("body" -> lit("z1")))
    DocStore.updateMany(spark, path, col("id") === 998L, Map("body" -> lit("z2")))
    assert(!new java.io.File(s"$path/$home").exists(),
      "vacuumed home must fall out of the retention closure")
    assert(diskBytes(path) < reclaimBytes,
      "the window slide after vacuum must shrink the on-disk footprint")
    assert(DocStore.find(spark, path).count() == 1000)
    assert(DocStore.countFast(spark, path) == 1000L)
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))
  }

  test("50 chained COW mutations with vacuum interleaved: bounded footprint, exact reads") {
    val path = freshPath()
    seeded(path, 1000, 10)
    val snapshotBytes = diskBytes(path)
    var edits = Map.empty[Long, String]
    (0 until 50).foreach { i =>
      val id = (i * 37L + 11L) % 1000L // spread across the clustered files
      val body = s"edit-$i"
      DocStore.updateMany(spark, path, col("id") === id,
        Map("body" -> lit(body)))
      edits += id -> body
      if (i % 10 == 9) DocStore.vacuum(spark, path)
    }
    DocStore.vacuum(spark, path)
    // footprint stays a small multiple of the snapshot, not O(mutations):
    // without vacuum, every superseded file version of every touched home
    // would still be pinned by the retention closure
    val total = diskBytes(path)
    assert(total < 6L * snapshotBytes,
      s"footprint $total vs snapshot $snapshotBytes — COW garbage is not being reclaimed")
    // reads stay exact after the whole chain
    val live = DocStore.find(spark, path)
    assert(live.count() == 1000)
    val got = live.filter(col("body").startsWith("edit-"))
      .select("id", "body").as[(Long, String)].collect().toMap
    assert(got == edits)
    assert(DocStore.countFast(spark, path) == 1000L)
    // pruning still works at the end of the chain (stats carried 50 times)
    val probe = DocStore.find(spark, path, Some(col("id") === 800L))
    assert(probe.count() == 1)
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))
  }

  test("fsck severity follows the declared retention window (retain param)") {
    val path = freshPath()
    seeded(path, 200, 5)
    // three single-file mutations drop the clustered home's live fraction
    // to 0.4, vacuum re-homes its two live files, one more mutation slides
    // the window: the original home ages out of the retention closure
    // while the earlier COW generations (still on disk as homes of their
    // own rewrites) carry _LINKS naming it
    (0 until 3).foreach(i =>
      DocStore.updateMany(spark, path, col("id") === (i * 40L + 1L),
        Map("body" -> lit(s"e$i"))))
    assert(DocStore.vacuum(spark, path, minLiveFraction = 0.7) == 2L)
    DocStore.updateMany(spark, path, col("id") === 2L, Map("body" -> lit("z")))
    // judged against the retention the store actually ran with (2): the
    // aged-out home is legitimate drift, warn-level
    val relaxed = DocStore.fsck(spark, path)
    assert(relaxed.filter(col("severity") === "error").isEmpty,
      relaxed.collect().mkString("; "))
    assert(relaxed.filter(col("code") === "unreadable-generation").count() >= 1)
    // judged against a retain-4 PROMISE the store never kept: those
    // generations sit inside the claimed window, so the same missing
    // home is corruption, error-level
    val strict = DocStore.fsck(spark, path, retain = 4)
    assert(strict.filter(col("severity") === "error" &&
      col("code") === "dangling-link").count() >= 1,
      strict.collect().mkString("; "))
    // the SQL surface takes the same optional retain
    assert(spark.sql(s"SELECT * FROM docstore_fsck('$path', 4)")
      .filter(col("severity") === "error").count() ==
      strict.filter(col("severity") === "error").count())
    // reads stay exact regardless of the fsck verdicts
    assert(DocStore.find(spark, path).count() == 200)
  }

  test("widening $set stays COW: carried int32/float files serve under the widened schema") {
    val path = freshPath()
    seeded(path, 400, 4) // id-clustered: 4 parquet files of 100 ids each
    // append a batch carrying an int32 `w` and a float `f` column (parquet
    // appends keep the batch's physical types; ids beyond the clustered
    // range so the file is provably outside the mutation's filter)
    DocStore.insertMany(
      (1000 until 1100).map(i => (i.toLong, (i % 7).toLong, s"doc-$i", i, i / 2.0f))
        .toDF("id", "grp", "body", "w", "f").repartition(1), path)
    // the $set widens w (int -> long) and f (float -> double); the filter
    // matches ONE clustered file — the mutation must stay COW
    assert(DocStore.updateMany(spark, path, col("id").between(0L, 49L),
      Map("w" -> lit(7L), "f" -> lit(1.5))) == 50L)
    val lg = liveGen(path)
    assert(links(s"$path/$lg").size == 4, "widening $set must stay COW")
    val live = DocStore.find(spark, path)
    assert(live.schema("w").dataType == org.apache.spark.sql.types.LongType)
    assert(live.schema("f").dataType == org.apache.spark.sql.types.DoubleType)
    // the CARRIED narrow-typed file serves exactly under the widened schema
    assert(live.filter(col("id") === 1050L).select("w", "f")
      .as[(Long, Double)].head() == ((1050L, 525.0)))
    // the rewritten file carries the widened values
    assert(live.filter(col("id") === 5L).select("w", "f")
      .as[(Long, Double)].head() == ((7L, 1.5)))
    // clustered rows the batch never covered: null under the widened schema
    assert(live.filter(col("id") === 200L).select("w").head().isNullAt(0))
    // pruning, metadata counts, and fsck all survive the widened commit
    val probe = DocStore.find(spark, path, Some(col("id") === 1050L))
    assert(probe.count() == 1 && probe.inputFiles.length == 1)
    assert(DocStore.countFast(spark, path) == 500L)
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))
  }

  test("a case-variant $set key updates the existing column in place (no silent nulling)") {
    val path = java.nio.file.Files.createTempDirectory("graft-cowcase").toString
    new java.io.File(path).delete()
    DocStore.insertMany((0 until 100).map(i => (i.toLong, s"s$i"))
      .toDF("id", "status"), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), 4, Seq("id"))
    // default resolution is case-insensitive: "Status" must resolve to
    // the stored "status" and update IN PLACE — an exact-only existence
    // check would take the evolution branch (when() with no otherwise)
    // and null the column for every unmatched document
    assert(DocStore.updateMany(spark, path, col("id") === 7L,
      Map("Status" -> lit("HIT"))) == 1L)
    val live = DocStore.find(spark, path)
    assert(live.columns.count(_.equalsIgnoreCase("status")) == 1)
    assert(live.filter(col("status") === "HIT").count() == 1)
    assert(live.filter(col("status").isNull).isEmpty,
      "case-variant $set nulled unmatched documents")
    assert(live.filter(col("status") === "s3").count() == 1)
    // and it stayed a selective COW mutation, not a corpus rewrite
    val lg = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_MANIFEST")).trim
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, lg, "_LINKS")),
      "case-variant key fell off the COW path")
  }

  test("CDC diff across a COW mutation reads only the touched files and stays exact") {
    val path = freshPath()
    seeded(path, 400, 4)
    val from = DocStore.generations(spark, path).last
    // touches one clustered file; the other three carry by reference
    assert(DocStore.updateMany(spark, path, col("id").between(10L, 29L),
      Map("grp" -> lit(99))) == 20L)
    val to = DocStore.generations(spark, path).last
    val diff = DocStore.diffGenerations(spark, path, from, to, "id")
    // the diff's scan covers ONLY the non-shared files (one per side
    // here), never the carried majority — the shared-file pruning shape
    val scanned = diff.inputFiles.toSeq
    assert(scanned.nonEmpty && scanned.size <= 2, scanned.mkString(", "))
    // and the change set is exactly the touched keys, nothing from the
    // carried files
    val rows = diff.select("id", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == (10L to 29L).map(i => (i, "updated")).toSet)
    // content: before/after images carry the mutation
    val one = diff.filter(col("id") === 11L)
      .select(col("before.grp").cast("long"), col("after.grp").cast("long")).head()
    assert(one.getLong(0) == (11 % 7).toLong && one.getLong(1) == 99L)
  }
}
