package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The whole maintenance triad as ONE policy call ([[DocStore.maintain]]):
  * small-file tail merge, clustering repair, COW-garbage vacuum — each leg
  * incremental, each a no-op while its threshold holds, so the operator
  * cron for an indefinitely mutating corpus collapses to one idempotent
  * call after every ingest window.
  */
class DocStoreMaintainSpec extends SparkTestBase {
  import spark.implicits._

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-maint").toString
    new java.io.File(d).delete()
    d
  }

  private def seeded(path: String, n: Int, files: Int): Unit = {
    DocStore.insertMany((0 until n).map(i => (i.toLong, (i % 7).toLong, s"doc-$i"))
      .toDF("id", "grp", "body"), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), files, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
  }

  test("a healthy store pays metadata listings only and commits nothing") {
    val path = freshPath()
    seeded(path, 500, 5)
    val gens = DocStore.generations(spark, path)
    val r = DocStore.maintain(spark, path, keyCol = Some("id"),
      maxDataFiles = 16)
    assert(r == DocStore.MaintenanceReport(compacted = false,
      reclustered = false, rehomed = 0L))
    assert(DocStore.generations(spark, path) == gens)
  }

  test("churn loop with maintain interleaved: bounded files, disjoint layout, exact reads") {
    val path = freshPath()
    seeded(path, 1000, 10)
    var edits = Map.empty[Long, String]
    (0 until 10).foreach { i =>
      // overlapping-range append: every batch spans 2000..2100, so the
      // accumulated tail decays both the file count AND the clustering
      DocStore.insertMany(
        (0 until 10).map(j => ((2000 + j * 10 + i).toLong, 0L, s"new-$i-$j"))
          .toDF("id", "grp", "body").repartition(1), path)
      // a selective COW mutation per window accrues link-home garbage
      val id = (i * 97L + 13L) % 1000L
      DocStore.updateMany(spark, path, col("id") === id,
        Map("body" -> lit(s"edit-$i")))
      edits += id -> s"edit-$i"
      if (i % 3 == 2)
        DocStore.maintain(spark, path, keyCol = Some("id"),
          maxDataFiles = 14, smallBytes = 1L << 20,
          maxOverlapping = 0, minLiveFraction = 0.9)
    }
    DocStore.maintain(spark, path, keyCol = Some("id"), maxDataFiles = 14,
      smallBytes = 1L << 20, maxOverlapping = 0, minLiveFraction = 0.9)
    // file count bounded by the policy
    val st = DocStore.clusterStats(spark, path, "id")
    assert(st.count() <= 14, s"file count ${st.count()} over budget")
    // clustering restored: no overlapping files
    assert(st.filter(col("status") === "overlapping").isEmpty,
      st.collect().mkString("; "))
    // reads stay exact through the whole churn
    val live = DocStore.find(spark, path)
    assert(live.count() == 1100)
    val got = live.filter(col("body").startsWith("edit-"))
      .select("id", "body").as[(Long, String)].collect().toMap
    assert(got == edits)
    assert(DocStore.countFast(spark, path) == 1100L)
    // selective reads still prune after all the rewrites
    val probe = DocStore.find(spark, path, Some(col("id") === 2055L))
    assert(probe.count() == 1)
    assert(probe.inputFiles.length < 14)
    val errs = DocStore.fsck(spark, path).filter(col("severity") === "error")
    assert(errs.isEmpty, errs.collect().mkString("; "))
    // converged: a further pass is a no-op
    assert(DocStore.maintain(spark, path, keyCol = Some("id"),
      maxDataFiles = 14, smallBytes = 1L << 20, maxOverlapping = 0,
      minLiveFraction = 0.9) ==
      DocStore.MaintenanceReport(compacted = false, reclustered = false, 0L))
  }

  test("docstore_maintain TVF drives the same policy") {
    val path = freshPath()
    seeded(path, 400, 4)
    // decay the layout: one overlapping append over the clustered range
    DocStore.insertMany((0 until 50).map(j => ((j * 8).toLong, 0L, "x"))
      .toDF("id", "grp", "body").repartition(1), path)
    val r = spark.sql(
      s"SELECT * FROM docstore_maintain('$path', 'id', 4, ${1L << 20}, 0, 0.5)")
      .head()
    assert(r.getAs[Boolean]("compacted") || r.getAs[Boolean]("reclustered"))
    assert(DocStore.clusterStats(spark, path, "id")
      .filter(col("status") === "overlapping").isEmpty)
    assert(DocStore.find(spark, path).count() == 450)
  }

  test("maintain with an unstatted keyCol refuses loudly (silent no-op = decayed store)") {
    val path = freshPath()
    DocStore.insertMany((0 until 50).map(i => (i.toLong, s"d$i"))
      .toDF("id", "body"), path)
    DocStore.compact(spark, path, targetFiles = 2, format = Some("parquet"))
    assert(intercept[IllegalArgumentException] {
      DocStore.maintain(spark, path, keyCol = Some("id"))
    }.getMessage.contains("no min/max stats"))
  }

  test("escalated compact honors the byte budget instead of one monolith") {
    val path = freshPath()
    // mid-sized files: nothing under smallBytes, so the tail merge is a
    // no-op and maybeCompact escalates to the full rewrite — which must
    // size its output from bytes/maxFileBytes, not collapse to 1 file
    DocStore.insertMany((0 until 3000).map(i =>
        (i.toLong, ("x" * 200) + i)).toDF("id", "body"), path)
    DocStore.compact(spark, path, targetFiles = 6, format = Some("parquet"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def liveFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
      val gen = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
        .map(_.getPath.getName).max
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$gen")).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    }
    val bytes = liveFiles().map(_.getLen).sum
    val maxFileBytes = math.max(1L, bytes / 2) // structural floor ~2-3 files
    val r = DocStore.maintain(spark, path, keyCol = None,
      maxDataFiles = 1, smallBytes = 1L, maxFileBytes = maxFileBytes)
    assert(r.compacted)
    val after = liveFiles().size
    assert(after > 1, s"escalation collapsed to $after file (monolith)")
    assert(after <= 4, s"escalation produced $after files, expected ~bytes/maxFileBytes")
    assert(DocStore.find(spark, path).count() == 3000)
  }

  test("escalated compact with a keyCol re-stats and re-sorts in the same pass") {
    val path = freshPath()
    seeded(path, 3000, 6)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val gen0 = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
      .map(_.getPath.getName).max
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$gen0")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")).map(_.getLen).sum
    // escalation fires (no small files, count 6 > effectiveMax), wiping
    // the stats sidecar — maintain must re-stat with the entry geometry
    // and the recluster leg must restore disjointness, not silently
    // report healthy on an unstatted store
    val mfb = math.max(1L, bytes / 2)
    val r = DocStore.maintain(spark, path, keyCol = Some("id"),
      maxDataFiles = 2, smallBytes = 1L, maxFileBytes = mfb)
    assert(r.compacted)
    val st = DocStore.clusterStats(spark, path, "id")
    assert(st.filter(col("status") === "unstatted").isEmpty,
      "escalated compact left the store unstatted")
    assert(st.filter(col("status") === "overlapping").isEmpty,
      st.collect().mkString("; "))
    assert(DocStore.find(spark, path).count() == 3000)
    // converged: the escalated output sits at the structural floor, so a
    // second pass must not rewrite again (the oscillation guard)
    val r2 = DocStore.maintain(spark, path, keyCol = Some("id"),
      maxDataFiles = 2, smallBytes = 1L, maxFileBytes = mfb)
    assert(r2 == DocStore.MaintenanceReport(compacted = false,
      reclustered = false, rehomed = 0L))
  }

  test("the file-count budget respects the file-size budget (no oscillation)") {
    val path = freshPath()
    seeded(path, 500, 5)
    val gens = DocStore.generations(spark, path)
    // 5 disjoint files whose bytes exceed maxDataFiles * maxFileBytes:
    // the count is STRUCTURAL (a recluster would re-split right back),
    // not tail debris — maintain must treat it as healthy instead of
    // compacting toward an unreachable budget and oscillating between
    // two full-corpus rewrites per cron tick
    val r = DocStore.maintain(spark, path, keyCol = Some("id"),
      maxDataFiles = 2, maxFileBytes = 1L)
    assert(r == DocStore.MaintenanceReport(compacted = false,
      reclustered = false, rehomed = 0L))
    assert(DocStore.generations(spark, path) == gens)
  }
}
