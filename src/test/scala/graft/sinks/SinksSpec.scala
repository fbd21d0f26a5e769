package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.AuditLog

class SinksSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  test("stagedSync is idempotent: loading the same batch twice changes nothing") {
    val dir = tmp()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val r1 = Sinks.stagedSync(spark, df, s"$dir/staging", s"$dir/final", Seq("k"))
    assert(r1.ok && r1.rows == 2)
    val r2 = Sinks.stagedSync(spark, df, s"$dir/staging", s"$dir/final", Seq("k"))
    assert(r2.ok)
    val fin = spark.read.parquet(s"$dir/final").orderBy("k").as[(Long, String)].collect().toSeq
    assert(fin == Seq((1L, "a"), (2L, "b")))
  }

  test("stagedSync merges: delta rows win on key, new keys append") {
    val dir = tmp()
    Sinks.stagedSync(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      s"$dir/staging", s"$dir/final", Seq("k"))
    Sinks.stagedSync(spark, Seq((2L, "B2"), (3L, "c")).toDF("k", "v"),
      s"$dir/staging", s"$dir/final", Seq("k"))
    val fin = spark.read.parquet(s"$dir/final").orderBy("k").as[(Long, String)].collect().toSeq
    assert(fin == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("stagedSync reports the batch's row count, not the final table's") {
    val dir = tmp()
    Sinks.stagedSync(spark, (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v"),
      s"$dir/staging", s"$dir/final", Seq("k"))
    val r = Sinks.stagedSync(spark, Seq((4L, "x"), (5L, "y"), (6L, "z")).toDF("k", "v"),
      s"$dir/staging", s"$dir/final", Seq("k"))
    assert(r.ok && r.rows == 3)
    assert(spark.read.parquet(s"$dir/final").count() == 6)
  }

  // ---- interrupted publishes: each on-disk state a crash can leave is
  // built directly, then the next stagedSync must heal it, merge onto the
  // right table state and leave no __tmp or __old behind

  private def write(rows: Seq[(Long, String)], path: String): Unit =
    rows.toDF("k", "v").write.mode("overwrite").parquet(path)

  private def syncAndCheck(dir: String, expected: Seq[(Long, String)]): Unit = {
    val r = Sinks.stagedSync(spark, Seq((9L, "new")).toDF("k", "v"),
      s"$dir/staging", s"$dir/final", Seq("k"))
    assert(r.ok && r.rows == 1, r)
    val fin = spark.read.parquet(s"$dir/final").orderBy("k").as[(Long, String)].collect().toSeq
    assert(fin == expected :+ ((9L, "new")))
    for (debris <- Seq("final__tmp", "final__old"))
      assert(!new java.io.File(s"$dir/$debris").exists(), s"$debris left behind")
  }

  private val older = Seq((1L, "a"), (2L, "b"))
  private val newer = Seq((1L, "a"), (2L, "B2"), (3L, "c"))

  test("crash between the publish renames: the complete __tmp is promoted") {
    val dir = tmp()
    write(newer, s"$dir/final__tmp")
    write(older, s"$dir/final__old")
    syncAndCheck(dir, newer)
  }

  test("crash between the publish renames of a first load: __tmp alone is promoted") {
    val dir = tmp()
    write(newer, s"$dir/final__tmp")
    syncAndCheck(dir, newer)
  }

  test("crash mid-write of __tmp: the unfinished __tmp is dropped, final kept") {
    val dir = tmp()
    write(older, s"$dir/final")
    write(newer, s"$dir/final__tmp")
    assert(new java.io.File(s"$dir/final__tmp/_SUCCESS").delete())
    syncAndCheck(dir, older)
  }

  test("crash before the final cleanup: a stale __old next to final is dropped") {
    val dir = tmp()
    write(newer, s"$dir/final")
    write(older, s"$dir/final__old")
    syncAndCheck(dir, newer)
  }

  test("final missing with only __old and an unfinished __tmp: __old is restored") {
    val dir = tmp()
    write(older, s"$dir/final__old")
    write(newer, s"$dir/final__tmp")
    assert(new java.io.File(s"$dir/final__tmp/_SUCCESS").delete())
    syncAndCheck(dir, older)
  }

  test("applyUpdates: join-based conditional update (row-wise UPDATE analog)") {
    val target = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("k", "flag")
    val updates = Seq((2L, 1)).toDF("k", "flag")
    val out = Sinks.applyUpdates(target, updates, Seq("k"))
      .orderBy("k").as[(Long, Int)].collect().toSeq
    assert(out == Seq((1L, 0), (2L, 1), (3L, 1)))
  }

  test("withDeadLetter dumps the failed batch and reports the error") {
    val dir = tmp()
    val df = Seq((1L, "x")).toDF("k", "v")
    val r = Sinks.withDeadLetter(df, s"$dir/dead", "VENTAS")(_ =>
      throw new RuntimeException("sink unavailable"))
    assert(!r.ok && r.error.get.contains("sink unavailable"))
    assert(spark.read.parquet(s"$dir/dead").count() == 1)
    val ok = Sinks.withDeadLetter(df, s"$dir/dead2", "VENTAS")(d => d.count())
    assert(ok.ok && ok.rows == 1)
  }

  test("audit sink appends one row per load") {
    val dir = tmp()
    val at = new java.sql.Timestamp(1700000000000L)
    Sinks.audit(spark, s"$dir/logs", Seq(AuditLog("VENTAS", 10, 10, statusOk = true, "", at, "unit")))
    Sinks.audit(spark, s"$dir/logs", Seq(AuditLog("VENTAS", 0, 5, statusOk = false, "boom", at, "unit")))
    val logs = spark.read.parquet(s"$dir/logs")
    assert(logs.count() == 2)
    assert(logs.filter(!col("statusOk")).head().getAs[String]("errorMsg") == "boom")
    // the rows of several loads land in one append, as one new data file
    def dataFiles = new java.io.File(s"$dir/logs").list().filter(_.endsWith(".parquet")).toSet
    val before = dataFiles
    Sinks.audit(spark, s"$dir/logs", Seq(
      AuditLog("VENTAS_DETALLE", 3, 3, statusOk = true, "", at, "unit"),
      AuditLog("VENTAS_METODO_PAGO", 4, 4, statusOk = true, "", at, "unit")))
    val added = dataFiles -- before
    assert(added.size == 1, added)
    val rows = spark.read.parquet(s"$dir/logs/${added.head}")
      .select("table").as[String].collect().sorted.toSeq
    assert(rows == Seq("VENTAS_DETALLE", "VENTAS_METODO_PAGO"))
    assert(spark.read.parquet(s"$dir/logs").count() == 4)
  }

  test("truncateReload replaces the table contents") {
    val dir = tmp()
    Sinks.truncateReload(Seq(1, 2, 3).toDF("v"), s"$dir/t")
    Sinks.truncateReload(Seq(9).toDF("v"), s"$dir/t")
    assert(spark.read.parquet(s"$dir/t").as[Int].collect().toSeq == Seq(9))
  }

  test("stagedSyncPartitioned overwrites only the touched partitions") {
    val dir = tmp() + "/t"
    val day1 = Seq((1L, "2025-01-01", "a"), (2L, "2025-01-01", "b"),
                   (3L, "2025-01-02", "c")).toDF("k", "d", "v")
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    val r1 = Sinks.stagedSyncPartitioned(spark, day1, dir, Seq("d"))
    assert(r1.ok && r1.rows == 3, r1)
    // the dynamic mode is a per-write option: the session conf is untouched
    assert(spark.conf.getOption(modeKey) == modeBefore)
    // replay day 2 with corrected data; day 1 must be untouched
    val day2fix = Seq((3L, "2025-01-02", "C2"), (4L, "2025-01-02", "d")).toDF("k", "d", "v")
    val r2 = Sinks.stagedSyncPartitioned(spark, day2fix, dir, Seq("d"))
    assert(r2.ok && r2.rows == 2, r2)
    assert(spark.conf.getOption(modeKey) == modeBefore)
    val out = spark.read.parquet(dir).select("k", "v").orderBy("k")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "C2"), (4L, "d")))
    // idempotent replay of the same window
    assert(Sinks.stagedSyncPartitioned(spark, day2fix, dir, Seq("d")).ok)
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("compact rewrites many small files into few, preserving rows") {
    val dir = tmp() + "/t"
    (1 to 20).foreach(i => Seq((i.toLong, s"v$i")).toDF("k", "v")
      .write.mode("append").parquet(dir))
    val before = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(before >= 20)
    Sinks.compact(spark, dir)
    val after = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(after < before)
    assert(spark.read.parquet(dir).count() == 20)
    for (debris <- Seq("__tmp", "__old"))
      assert(!new java.io.File(dir + debris).exists(), s"$debris left behind")
  }

  test("writeSharded: ordered non-overlapping shards, per-file row cap, rows preserved") {
    val dir = tmp() + "/shards"
    val df = graft.core.Tables.documents(spark, sf001).select("doc_id", "text")
    val total = df.count()
    Sinks.writeSharded(df, dir, "doc_id", shards = 4, maxRecordsPerFile = 10L)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length >= 4, s"expected >=4 shard files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("doc_id"), max("doc_id"), count(lit(1))).head()
      assert(r.getLong(2) <= 10L, s"$f exceeds maxRecordsPerFile: ${r.getLong(2)}")
      (r.getLong(0), r.getLong(1))
    }
    assert(spark.read.parquet(dir).count() == total)
    // part files sort into global key order: every file's min exceeds the
    // previous file's max (range partitioning + sortWithinPartitions + cap
    // splitting preserve order within and across files)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"overlap: $hi >= $lo")
      case _ =>
    }
  }

  test("jdbc batch sizing mirrors the 2100-parameter rule") {
    import graft.sources.Jdbc
    assert(Jdbc.batchSizeFor(2) == 1000)  // capped
    assert(Jdbc.batchSizeFor(21) == 100)  // 2100/21
    assert(Jdbc.batchSizeFor(3000) == 1)  // floor at 1
  }
}
