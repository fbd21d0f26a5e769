package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Append-vs-mutation concurrency: the `_SOURCE`-record salvage protocol.
  *
  * Interleavings are made DETERMINISTIC with [[DocStore.insertManySeamed]]:
  * `afterStage` occupies the window before any file is published (a
  * mutation pinning there provably never reads the batch -> the append
  * linearizes AFTER it), `beforeVisibilityCheck` the window after publish
  * (the mutation's pin lists the batch -> the append linearizes BEFORE).
  * A real-thread stress test covers the interleavings the seams can't
  * enumerate.
  */
class DocStoreConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-ds-conc").toString
    new java.io.File(d).delete()
    d
  }

  private def rows(path: String): Set[(Long, String)] =
    DocStore.find(spark, path).select("id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("append racing updateMany: unseen batch is salvaged, linearized after the update") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "pending"), (2L, "pending")).toDF("id", "status"), path)
    var matched = -1L
    val n = DocStore.insertManySeamed(
      Seq((3L, "pending"), (4L, "pending")).toDF("id", "status"), path,
      afterStage = () => { // mutation pins BEFORE the batch publishes
        matched = DocStore.updateMany(spark, path,
          col("status") === "pending", Map("status" -> lit("done")))
      },
      beforeVisibilityCheck = () => ())
    assert(n == 2 && matched == 2) // the rewrite saw only the base docs
    // base docs updated; the raced append linearized AFTER the update —
    // present exactly once, NOT transformed by it
    assert(rows(path) ==
      Set((1L, "done"), (2L, "done"), (3L, "pending"), (4L, "pending")))
    assert(DocStore.find(spark, path).count() == 4)
  }

  test("append racing delete-all: unseen batch survives the emptying") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "a")).toDF("id", "status"), path)
    var deleted = -1L
    DocStore.insertManySeamed(Seq((3L, "a")).toDF("id", "status"), path,
      afterStage = () =>
        deleted = DocStore.deleteMany(spark, path, None, deleteProtection = false),
      beforeVisibilityCheck = () => ())
    assert(deleted == 2)
    assert(rows(path) == Set((3L, "a")))
  }

  test("append published before the mutation pins: linearized before (rows transformed once)") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "keep")).toDF("id", "status"), path)
    DocStore.insertManySeamed(Seq((2L, "drop"), (3L, "keep")).toDF("id", "status"), path,
      afterStage = () => (),
      beforeVisibilityCheck = () => { // pin happens AFTER publish: batch in scope
        assert(DocStore.deleteMany(spark, path, Some(col("status") === "drop")) == 1)
      })
    // the delete read the batch — doc 2 is gone, nothing duplicated
    assert(rows(path) == Set((1L, "keep"), (3L, "keep")))
  }

  test("append racing compact(format=parquet): straggler is converted, generation stays pure") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "status"), path)
    DocStore.insertManySeamed(Seq((3L, "c")).toDF("id", "status"), path,
      afterStage = () => {
        assert(DocStore.compact(spark, path, format = Some("parquet")) == 2)
      },
      beforeVisibilityCheck = () => ())
    assert(rows(path) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the live generation holds ONLY parquet data files (the json
    // straggler was rewritten, not renamed across the format boundary)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveGen = DocStore.generations(spark, path).last
    val dataFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(f"$path/gen-$liveGen%06d"))
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(dataFiles.nonEmpty && dataFiles.forall(_.endsWith(".parquet")),
      s"mixed generation: ${dataFiles.mkString(", ")}")
    // and the converted rows keep working through further mutations
    assert(DocStore.updateMany(spark, path, col("id") === 3L,
      Map("status" -> lit("z"))) == 1)
    assert(rows(path) == Set((1L, "a"), (2L, "b"), (3L, "z")))
  }

  test("append racing TWO mutations (retain=3): the visibility walk crosses both hops") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "x")).toDF("id", "status"), path)
    DocStore.insertManySeamed(Seq((2L, "y")).toDF("id", "status"), path,
      afterStage = () => {
        DocStore.updateMany(spark, path, col("id") === 1L,
          Map("status" -> lit("x1")), retain = 3)
        DocStore.updateMany(spark, path, col("id") === 1L,
          Map("status" -> lit("x2")), retain = 3)
      },
      beforeVisibilityCheck = () => ())
    assert(rows(path) == Set((1L, "x2"), (2L, "y")))
    assert(DocStore.find(spark, path).count() == 2)
  }

  test("healStragglers: a crash-stranded straggler is recovered by the next write") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "status"), path)
    DocStore.updateMany(spark, path, col("id") === 1L, Map("status" -> lit("b")))
    // simulate a mutation that crashed between commit and salvage (or an
    // appender that died mid-walk): a data file in the SUPERSEDED
    // generation that its successor's _SOURCE record does not list
    val prevGen = DocStore.generations(spark, path).head
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, f"gen-$prevGen%06d", "part-straggler.json"),
      "{\"id\": 9, \"status\": \"lost\"}".getBytes)
    // reads are read-only: the straggler is NOT in the live view yet
    assert(rows(path) == Set((1L, "b")))
    // ... but the next write heals it before doing its own work
    DocStore.insertMany(Seq((2L, "c")).toDF("id", "status"), path)
    assert(rows(path) == Set((1L, "b"), (9L, "lost"), (2L, "c")))
    // and a mutation then reads it like any other doc (no duplicates)
    assert(DocStore.updateMany(spark, path, col("id") === 9L,
      Map("status" -> lit("found"))) == 1)
    assert(rows(path) == Set((1L, "b"), (9L, "found"), (2L, "c")))
  }

  test("cursor CDC tolerates a salvaged file leaving a superseded generation") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "status"), path)
    DocStore.updateMany(spark, path, col("id") === 1L, Map("status" -> lit("b")))
    val gens = DocStore.generations(spark, path)
    val (prev, live) = (gens.head, gens.last)
    // manufacture the race's on-disk shape: a straggler in the superseded
    // generation, seen by a consumer's cursor, then salvaged forward
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, f"gen-$prev%06d", "part-straggler.json"),
      "{\"id\": 9, \"status\": \"raced\"}".getBytes)
    val cur = DocStore.DocCursor(prev, // the consumer saw the straggler
      new java.io.File(f"$path/gen-$prev%06d").list().toSet
        .filter((n: String) => !n.startsWith("_") && !n.startsWith(".")))
    DocStore.insertMany(Seq((2L, "c")).toDF("id", "status"), path) // heals
    // ...the straggler moved to the live generation: the poll must not
    // fail the append-only check, and must redeliver its rows (idempotent
    // under replace-by-key apply), not lose them
    val (changes, _) = DocStore.changesSince(spark, path, cur, "id")
    val changed = changes.select("id", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changed.exists(c => c._1 == 9L && c._2 == "inserted"),
      s"straggler rows must re-enter the poll, got $changed")
    assert(changed.exists(c => c._1 == 2L && c._2 == "inserted"))
  }

  test("mutation racing a mutation fails LOUDLY instead of losing the earlier update") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a"), (2L, "b")).toDF("id", "status"), path)
    val e = intercept[DocStore.ConcurrentMutationException] {
      DocStore.updateManySeamed(spark, path, col("id") === 1L,
        Map("status" -> lit("outer")), 2,
        afterPin = () => { // a competing mutation lands inside the window
          DocStore.updateMany(spark, path, col("id") === 2L,
            Map("status" -> lit("inner")))
          ()
        })
    }
    assert(e.getMessage.contains("single-writer"))
    // the inner mutation's effect SURVIVES; the stale outer rewrite never
    // landed (last-writer-wins would have silently discarded "inner")
    assert(rows(path) == Set((1L, "a"), (2L, "inner")))
    // and the aborted rewrite left no committed generation a manifest-loss
    // recovery could resolve to
    val gens = DocStore.generations(spark, path)
    assert(gens == gens.sorted && gens.size == 2, s"stray generation: $gens")
    // the failed mutation retries cleanly against the fresh snapshot
    assert(DocStore.updateMany(spark, path, col("id") === 1L,
      Map("status" -> lit("outer"))) == 1)
    assert(rows(path) == Set((1L, "outer"), (2L, "inner")))
  }

  test("append racing collectStats (stats rewrite wins the sidecar): batch re-covers itself") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "v"), path)
    DocStore.collectStats(spark, path, Seq("id"))
    // batch brings a NEW column; the concurrent stats pass pins its read
    // BEFORE the batch publishes, then wipes the batch's pre-rename
    // sidecar — without the post-publish re-cover, the stored schema
    // would silently DROP the new column from every single-scan read
    DocStore.insertManySeamed(Seq((2L, "b", 7L)).toDF("id", "v", "extra"), path,
      afterStage = () => (),
      beforeVisibilityCheck = () => (),
      afterCover = () => DocStore.collectStats(spark, path, Seq("id")))
    val all = DocStore.find(spark, path)
    assert(all.columns.contains("extra"), "schema coverage lost the raced column")
    assert(all.filter(col("extra") === 7L).count() == 1)
    assert(all.count() == 2)
  }

  test("collectStats racing an append (append publishes inside the window): reconciliation covers it") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "v"), path)
    DocStore.collectStats(spark, path, Seq("id"))
    // the append completes ENTIRELY inside the stats pass's window: its
    // sidecar is wiped by the rewrite and the new base schema comes from
    // a read that never listed it — the post-write reconciliation must
    // re-cover (and re-stat) exactly the raced files
    DocStore.collectStatsSeamed(spark, path, Seq("id"), Seq.empty, 1 << 16,
      afterPin = () =>
        DocStore.insertMany(Seq((2L, "b", 7L)).toDF("id", "v", "extra"), path))
    val all = DocStore.find(spark, path)
    assert(all.columns.contains("extra"), "schema coverage lost the raced column")
    assert(all.filter(col("extra") === 7L).count() == 1)
    // the raced file is statted too: an id-range probe that excludes it
    // stays a PRUNED read and still returns the right rows
    assert(DocStore.find(spark, path, Some(col("id") === 2L))
      .select("v").collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("appends with empty partitions or empty frames never publish rowless parts") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "v"), path)
    DocStore.collectStats(spark, path, Seq("id"))
    // 1 row spread over 8 partitions: rowless parts must not publish
    assert(DocStore.insertMany(
      Seq((2L, "b")).toDF("id", "v").repartition(8), path) == 1)
    // a fully empty frame with stats present: clean no-op, never an
    // inference error
    assert(DocStore.insertMany(
      Seq.empty[(Long, String)].toDF("id", "v"), path) == 0)
    assert(DocStore.find(spark, path).count() == 2)
    val gen = DocStore.generations(spark, path).last
    val live = new java.io.File(f"$path/gen-$gen%06d")
    assert(live.listFiles().filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .forall(_.length > 0), "rowless data file published")
  }

  test("crash-orphaned generations are invisible to time travel, cursors, and CDC") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "status"), path)
    DocStore.updateMany(spark, path, col("id") === 1L, Map("status" -> lit("b")))
    assert(DocStore.generations(spark, path) == Seq(1, 2))
    val c1 = DocStore.DocCursor(1,
      new java.io.File(s"$path/gen-000001").list().toSet
        .filter((n: String) => !n.startsWith("_") && !n.startsWith(".")))
    // manufacture an ORPHAN: a rewrite that wrote its generation (data +
    // _SUCCESS) but crashed before the manifest swing — a complete dir
    // that was never a committed state
    val orphan = java.nio.file.Paths.get(path, "gen-000003")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-0.json"),
      "{\"id\": 66, \"status\": \"aborted\"}".getBytes)
    java.nio.file.Files.write(orphan.resolve("_SUCCESS"), Array.empty[Byte])
    // the aborted state is served NOWHERE
    assert(DocStore.generations(spark, path) == Seq(1, 2))
    intercept[IllegalArgumentException] { DocStore.findAsOf(spark, path, 3) }
    assert(DocStore.cursor(spark, path).generation == 2)
    val poll = DocStore.changesSince(spark, path, 1, "id")
      .select("id").as[Long].collect().toSet
    assert(poll == Set(1L), s"phantom orphan changes delivered: $poll")
    val (curPoll, _) = DocStore.changesSince(spark, path, c1, "id")
    assert(curPoll.select("id").as[Long].collect().toSet == Set(1L))
    // the next mutation must NOT reuse (and thereby resurrect) the orphan
    // id; the committed chain walks around it
    DocStore.updateMany(spark, path, col("id") === 1L, Map("status" -> lit("c")))
    assert(DocStore.generations(spark, path) == Seq(2, 4))
    assert(rows(path) == Set((1L, "c")))
    // the orphan does not consume a retention slot (retention counts the
    // COMMITTED chain) and is itself reclaimed by the mutation's pruning
    assert(!java.nio.file.Files.exists(orphan), "orphan dir must be pruned")
    assert(new java.io.File(s"$path/gen-000002").isDirectory,
      "committed previous generation must survive retention")
    // an orphan beside a FIRST generation (never rewritten, so the live
    // generation has no _SOURCE record): the committed chain is that
    // generation alone, and the orphan is served nowhere either
    val first = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "status"), first)
    val orphan2 = java.nio.file.Paths.get(first, "gen-000002")
    java.nio.file.Files.createDirectories(orphan2)
    java.nio.file.Files.write(orphan2.resolve("part-0.json"), "{\"id\": 66}".getBytes)
    java.nio.file.Files.write(orphan2.resolve("_SUCCESS"), Array.empty[Byte])
    assert(DocStore.generations(spark, first) == Seq(1))
    assert(DocStore.cursor(spark, first).generation == 1)
    intercept[IllegalArgumentException] { DocStore.findAsOf(spark, first, 2) }
    val firstPoll = DocStore.changesSince(spark, first, 1, "id")
      .select("id").as[Long].collect().toSet
    assert(firstPoll.isEmpty, s"phantom orphan changes delivered: $firstPoll")
    assert(DocStore.find(spark, first).select("id").as[Long].collect().toSet == Set(1L))
  }

  test("an appended file destroyed mid-race (pruning simulation) fails LOUDLY, never silently") {
    val path = freshPath()
    DocStore.insertMany(Seq((1L, "a")).toDF("id", "status"), path)
    val e = intercept[IllegalStateException] {
      DocStore.insertManySeamed(Seq((2L, "b")).toDF("id", "status"), path,
        afterStage = () => { // the rewrite pins BEFORE the batch publishes
          DocStore.updateMany(spark, path, col("id") === 1L,
            Map("status" -> lit("m")))
        },
        beforeVisibilityCheck = () => {
          // destroy the just-published straggler files (what retention
          // pruning would do if enough rewrites completed mid-append):
          // data files of the superseded gen not listed in its
          // successor's _SOURCE record are exactly the appended batch
          val src = scala.io.Source.fromFile(s"$path/gen-000002/_SOURCE")
          val listed = try src.getLines().drop(1).toSet finally src.close()
          new java.io.File(s"$path/gen-000001").listFiles().foreach { f =>
            if (f.isFile && !f.getName.startsWith("_") &&
                !f.getName.startsWith(".") && !listed.contains(f.getName))
              assert(f.delete())
          }
        })
    }
    assert(e.getMessage.contains("NOT fully published"), e.getMessage)
    // the base data and the mutation's effect are intact
    assert(rows(path) == Set((1L, "m")))
  }

  test("threaded stress: appends racing sequential mutations, exactly-once") {
    val path = freshPath()
    DocStore.insertMany(
      (0 until 4).map(i => (i.toLong, "base")).toDF("id", "status"), path)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        try {
          for (b <- 0 until 3)
            DocStore.insertMany(
              Seq((1000L + t * 10 + b, s"app$t")).toDF("id", "status"), path)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    // mutations are single-writer among themselves: run them sequentially
    // HERE, racing the appender threads (filters never match appended ids,
    // so every appended row must survive whatever interleaving happened)
    for (_ <- 0 until 3)
      DocStore.updateMany(spark, path, col("id") < 4L,
        Map("status" -> lit("mut")))
    threads.foreach(_.join())
    assert(errs.isEmpty, s"appender failed: ${Option(errs.peek())}")
    val all = DocStore.find(spark, path).select("id").as[Long].collect().sorted
    val expected = ((0 until 4).map(_.toLong) ++
      (for (t <- 0 until 4; b <- 0 until 3) yield 1000L + t * 10 + b)).sorted
    assert(all.toSeq == expected.toSeq, // every append exactly once
      s"got ${all.mkString(",")}")
    assert(rows(path).filter(_._1 < 4L).forall(_._2 == "mut"))
  }

  // ---- file-level conflict detection (disjoint re-commit) -----------------

  /** A clustered, statted 4-file store: id ranges [0,99] [100,199]
    * [200,299] [300,399], one status column — the shape where two
    * selective mutations can provably touch DISJOINT files.
    */
  private def clustered(path: String): Unit = {
    DocStore.insertMany((0 until 400).map(i => (i.toLong, s"s$i"))
      .toDF("id", "status"), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), 4, Seq("id"))
  }

  test("disjoint mutations merge: the loser re-commits WITHOUT re-running (afterPin race)") {
    val path = freshPath()
    clustered(path)
    val gen0 = DocStore.generations(spark, path).max
    // the competitor lands fully inside the loser's pin->commit window,
    // touching a DIFFERENT clustered file; the seamed call has NO retry,
    // so completing without ConcurrentMutationException proves the body
    // (and its rewrite job) ran exactly once
    val n = DocStore.updateManySeamed(spark, path, col("id") === 5L,
      Map("status" -> lit("outer")), 2,
      afterPin = () => {
        assert(DocStore.updateMany(spark, path, col("id") === 305L,
          Map("status" -> lit("inner"))) == 1L)
        ()
      })
    assert(n == 1L)
    // BOTH effects present — neither mutation lost
    val got = rows(path)
    assert(got.contains((5L, "outer")) && got.contains((305L, "inner")))
    assert(got.size == 400)
    // the merged commit is a real generation on top of the winner's
    assert(DocStore.generations(spark, path).max == gen0 + 2)
    // metadata counts, pruning, and fsck all stay exact through the merge
    assert(DocStore.countFast(spark, path) == 400L)
    val probe = DocStore.find(spark, path, Some(col("id") === 205L))
    assert(probe.count() == 1 && probe.inputFiles.length == 1)
    val findings = DocStore.fsck(spark, path)
      .filter(col("severity") === "error")
    assert(findings.isEmpty, findings.collect().mkString("; "))
  }

  test("disjoint mutations merge at the COMMIT point too (afterStage race)") {
    val path = freshPath()
    clustered(path)
    // the competitor lands while the loser's rewrite is ALREADY STAGED —
    // the expensive window: without the merge the loser would repay its
    // whole rewrite job on retry
    val n = DocStore.updateManySeamed(spark, path, col("id") === 7L,
      Map("status" -> lit("late-outer")), 2,
      afterPin = () => (),
      afterStage = () => {
        assert(DocStore.deleteMany(spark, path,
          Some(col("id").between(300L, 309L))) == 10L)
        ()
      })
    assert(n == 1L)
    val got = rows(path)
    assert(got.contains((7L, "late-outer")))
    assert(!got.exists(r => r._1 >= 300L && r._1 <= 309L))
    assert(got.size == 390)
    assert(DocStore.countFast(spark, path) == 390L)
    val findings = DocStore.fsck(spark, path)
      .filter(col("severity") === "error")
    assert(findings.isEmpty, findings.collect().mkString("; "))
  }

  test("CDC stays exact across a merged commit (winner's diff, then loser's)") {
    val path = freshPath()
    clustered(path)
    val from = DocStore.generations(spark, path).last
    DocStore.updateManySeamed(spark, path, col("id") === 5L,
      Map("status" -> lit("outer")), 2,
      afterPin = () => {
        DocStore.updateMany(spark, path, col("id") === 305L,
          Map("status" -> lit("inner")))
        ()
      })
    val gens = DocStore.generations(spark, path)
    val changes = DocStore.changesSince(spark, path, from, "id")
      .select(col("id"), col("change"),
        col("after.status").as("st"), col("generation"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .sortBy(_._4)
    assert(changes.length == 2, changes.mkString("; "))
    assert(changes(0) == ((305L, "updated", "inner", gens.init.last)))
    assert(changes(1) == ((5L, "updated", "outer", gens.last)))
  }

  test("OVERLAPPING mutations still serialize loudly (same candidate file)") {
    val path = freshPath()
    clustered(path)
    val e = intercept[DocStore.ConcurrentMutationException] {
      DocStore.updateManySeamed(spark, path, col("id") === 5L,
        Map("status" -> lit("outer")), 2,
        afterPin = () => {
          DocStore.updateMany(spark, path, col("id") === 6L, // same file
            Map("status" -> lit("inner")))
          ()
        })
    }
    assert(e.getMessage.contains("single-writer"))
    assert(rows(path).contains((6L, "inner")))
    // and the retrying wrapper converges as before
    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("status" -> lit("outer"))) == 1L)
    assert(rows(path).contains((5L, "outer")))
  }

  test("metadata-only DDL merges over a disjoint COW update (dataless loser)") {
    val path = freshPath()
    clustered(path)
    // addColumn carries EVERY file (candidate set empty), so ANY
    // schema-preserving winner is disjoint from it
    val committed = DocStore.addColumnSeamed(spark, path, "score",
      org.apache.spark.sql.types.LongType,
      afterPin = () => {
        DocStore.updateMany(spark, path, col("id") === 105L,
          Map("status" -> lit("won")))
        ()
      })
    assert(committed)
    val live = DocStore.find(spark, path)
    assert(live.schema("score").dataType == org.apache.spark.sql.types.LongType)
    assert(live.filter(col("score").isNotNull).isEmpty)
    assert(live.filter(col("status") === "won").count() == 1)
    assert(live.count() == 400)
    val findings = DocStore.fsck(spark, path)
      .filter(col("severity") === "error")
    assert(findings.isEmpty, findings.collect().mkString("; "))
  }

  test("disjoint merge over a sidecar ABOVE the local gate: distributed stats carry, no body re-run") {
    val path = freshPath()
    // a statted + bloomed store, so the sidecar has real geometry to move
    DocStore.insertMany((0 until 400).map(i => (i.toLong, s"s$i"))
      .toDF("id", "status"), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), 4, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
    // force the 100 TB shape: every sidecar is "over" the local-planning
    // gate, so the merge's stats carry MUST run as the distributed text
    // filter/union — the r12 flow bailed this exact case to a loud retry,
    // and the seamed call below has NO retry, so completing at all proves
    // the body (and its rewrite job) ran exactly once
    System.setProperty("graft.docstore.statsLocalMaxBytes", "1")
    try {
      val n = DocStore.updateManySeamed(spark, path, col("id") === 5L,
        Map("status" -> lit("outer")), 2,
        afterPin = () => {
          assert(DocStore.updateMany(spark, path, col("id") === 305L,
            Map("status" -> lit("inner"))) == 1L)
          ()
        })
      assert(n == 1L)
    } finally System.clearProperty("graft.docstore.statsLocalMaxBytes")
    val got = rows(path)
    assert(got.contains((5L, "outer")) && got.contains((305L, "inner")))
    assert(got.size == 400)
    // the merged generation's stats are COMPLETE and byte-faithful:
    // metadata-exact counts, min/max pruning, and Bloom probes all intact
    assert(DocStore.countFast(spark, path) == 400L)
    val probe = DocStore.find(spark, path, Some(col("id") === 205L))
    assert(probe.count() == 1 && probe.inputFiles.length == 1,
      "pruning degraded after the distributed stats merge")
    val findings = DocStore.fsck(spark, path)
      .filter(col("severity") === "error")
    assert(findings.isEmpty, findings.collect().mkString("; "))
  }

  test("THREE disjoint writers converge multi-hop: every body runs exactly once") {
    val path = freshPath()
    clustered(path)
    val gen0 = DocStore.generations(spark, path).max
    // inner commits first (one hop from the shared pin); mid merges over
    // it pairwise; outer's winner is then ITSELF a merged commit — the
    // r12 walk was one hop deep and bailed this shape to a loud retry.
    // BOTH seamed calls here have NO retry, so completing at all proves
    // every body (and its rewrite job) ran exactly once.
    val n = DocStore.updateManySeamed(spark, path, col("id") === 5L,
      Map("status" -> lit("outer")), 2,
      afterPin = () => {
        val m = DocStore.updateManySeamed(spark, path, col("id") === 205L,
          Map("status" -> lit("mid")), 2,
          afterPin = () => {
            assert(DocStore.updateMany(spark, path, col("id") === 305L,
              Map("status" -> lit("inner"))) == 1L)
            ()
          })
        assert(m == 1L)
        ()
      })
    assert(n == 1L)
    // all THREE effects present — no writer's commit was lost
    val got = rows(path)
    assert(got.contains((5L, "outer")) && got.contains((205L, "mid")) &&
      got.contains((305L, "inner")))
    assert(got.size == 400)
    // three real generations on top of the pin: inner, mid's merge,
    // outer's multi-hop merge
    assert(DocStore.generations(spark, path).max == gen0 + 3)
    // metadata counts, pruning over the untouched file, and fsck all stay
    // exact through the chain (stats moved correctly at every merge)
    assert(DocStore.countFast(spark, path) == 400L)
    val probe = DocStore.find(spark, path, Some(col("id") === 105L))
    assert(probe.count() == 1 && probe.inputFiles.length == 1)
    val findings = DocStore.fsck(spark, path)
      .filter(col("severity") === "error")
    assert(findings.isEmpty, findings.collect().mkString("; "))
  }

  test("a mutation landing AFTER publish but before the swing goes loud, not lost") {
    val path = freshPath()
    clustered(path)
    // the narrowest TOCTOU window: this mutation has staged, resolved its
    // (absent) race, and PUBLISHED its generation — a competitor then
    // commits before the manifest swing. Writing the manifest anyway
    // would silently discard the competitor; the final re-validation must
    // abort this commit loudly instead (the seamed call has no retry).
    intercept[DocStore.ConcurrentMutationException] {
      DocStore.updateManySeamed(spark, path, col("id") === 5L,
        Map("status" -> lit("outer")), 2,
        afterPin = () => (),
        afterPublish = () => {
          assert(DocStore.updateMany(spark, path, col("id") === 305L,
            Map("status" -> lit("inner"))) == 1L)
          ()
        })
    }
    // the competitor's effect survives; the aborted mutation's does not,
    // and its published-but-never-referenced generation left no debris
    val got = rows(path)
    assert(got.contains((305L, "inner")) && got.contains((5L, "s5")))
    assert(got.size == 400)
    assert(DocStore.countFast(spark, path) == 400L)
    val findings = DocStore.fsck(spark, path)
      .filter(col("severity") === "error")
    assert(findings.isEmpty, findings.collect().mkString("; "))
    // and a plain retry of the aborted mutation now succeeds
    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("status" -> lit("outer"))) == 1L)
    assert(rows(path).contains((5L, "outer")))
  }

  test("merged commits keep idempotence tokens exactly-once") {
    val path = freshPath()
    clustered(path)
    DocStore.updateManySeamed(spark, path, col("id") === 5L,
      Map("status" -> lit("outer")), 2,
      afterPin = () => {
        DocStore.updateMany(spark, path, col("id") === 305L,
          Map("status" -> lit("inner")), token = Some("tok-w"))
        ()
      }, token = Some("tok-l"))
    // replays of BOTH tokens are suppressed: the winner's generation is
    // retained (it is the merged commit's previous), the loser's sidecar
    // rode the merged commit
    assert(DocStore.updateMany(spark, path, col("id") === 5L,
      Map("status" -> lit("SHOULD-NOT-APPLY")), token = Some("tok-l")) == 1L)
    assert(DocStore.updateMany(spark, path, col("id") === 305L,
      Map("status" -> lit("SHOULD-NOT-APPLY")), token = Some("tok-w")) == 1L)
    val got = rows(path)
    assert(got.contains((5L, "outer")) && got.contains((305L, "inner")))
    assert(!got.exists(_._2 == "SHOULD-NOT-APPLY"))
  }
}
