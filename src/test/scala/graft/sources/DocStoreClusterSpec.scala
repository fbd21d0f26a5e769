package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Incremental clustering maintenance ([[DocStore.recluster]]): appends and
  * COW rewrites decay per-file key-range disjointness; recluster must
  * restore it by rewriting ONLY the overlap groups (carrying every
  * already-disjoint file by `_LINKS`), keep every read surface exact, and
  * cost O(overlapping bytes) — with [[DocStore.clusterStats]] as the
  * metadata-only dashboard and [[DocStore.maybeRecluster]] as the policy.
  */
class DocStoreClusterSpec extends SparkTestBase {
  import spark.implicits._

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-recluster").toString
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
      .toDF("id", "grp", "body").repartition(1), path)
    DocStore.compact(spark, path, targetFiles = 1, format = Some("parquet"))
    DocStore.cluster(spark, path, col("id"), files, Seq("id"),
      bloomCols = Seq("id"), bloomBits = 1 << 12)
  }

  private def statuses(path: String): Map[String, Long] =
    DocStore.clusterStats(spark, path, "id")
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("freshly clustered layout is disjoint: recluster is a no-op without a commit") {
    val path = freshPath()
    seeded(path, 1000, 10)
    val before = liveGen(path)
    assert(statuses(path) == Map("disjoint" -> 10L))
    assert(DocStore.recluster(spark, path, "id") == 0L)
    assert(liveGen(path) == before) // no commit
  }

  test("an overlapping append is merged with exactly its group; the rest carried") {
    val path = freshPath()
    seeded(path, 1000, 10) // clustered files span ~100 ids each
    // an append inside one clustered file's range: ids 250..259 land in
    // the 200..299 file's territory
    DocStore.insertMany((250 until 260).map(i => (i.toLong, 9, s"new-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    val st = statuses(path)
    assert(st("overlapping") == 2L, s"expected the file pair, got $st")
    assert(st("disjoint") == 9L)

    val rewritten = DocStore.recluster(spark, path, "id")
    assert(rewritten == 2L)
    val after = s"$path/${liveGen(path)}"
    // the merged group became one sorted file; nine disjoint files carried
    assert(physicalDataFiles(after).size == 1)
    assert(links(after).size == 9)
    assert(statuses(path) == Map("disjoint" -> 10L))

    // contents exact, including the appended rows
    val got = DocStore.find(spark, path).orderBy("id", "grp")
      .select("id", "grp", "body").collect()
    assert(got.length == 1010)
    assert(got.count(_.getString(2).startsWith("new-")) == 10)
    assert(DocStore.countFast(spark, path) == 1010L)
    // pruning alive after: an equality probe reads one file, not ten
    assert(DocStore.fsck(spark, path).filter(col("severity") === "error").isEmpty)
  }

  test("disjointness is exact after recluster, not approximate: separated overlap regions never merge across their gap") {
    val path = freshPath()
    seeded(path, 1000, 10)
    // two overlap regions far apart: 50..59 (first file's range) and
    // 850..859 (ninth file's range)
    DocStore.insertMany((50 until 60).map(i => (i.toLong, 9, s"lo-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    DocStore.insertMany((850 until 860).map(i => (i.toLong, 9, s"hi-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    assert(DocStore.recluster(spark, path, "id") == 4L)
    // the two groups were rewritten SEPARATELY: two fresh files, each
    // covering only its own region — no file straddles the gap, so the
    // eight carried files stay disjoint from both
    val after = s"$path/${liveGen(path)}"
    assert(physicalDataFiles(after).size == 2)
    assert(links(after).size == 8)
    assert(statuses(path) == Map("disjoint" -> 10L))
    assert(DocStore.find(spark, path).count() == 1020L)
  }

  test("recluster cost is O(overlapping bytes): carried majority never rewritten") {
    val path = freshPath()
    seeded(path, 2000, 8)
    DocStore.insertMany((100 until 110).map(i => (i.toLong, 9, s"new-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    val beforeGen = s"$path/${liveGen(path)}"
    val snapshotBytes = physicalDataFiles(beforeGen).map(_.length()).sum
    DocStore.recluster(spark, path, "id")
    val afterGen = s"$path/${liveGen(path)}"
    val rewrittenBytes = physicalDataFiles(afterGen).map(_.length()).sum
    // one 250-id file + a 10-row append were rewritten; 7/8 of the corpus
    // was carried by reference
    assert(rewrittenBytes * 3 < snapshotBytes,
      s"rewrote $rewrittenBytes of $snapshotBytes — not incremental")
  }

  test("all-null-key files stay carried and never wedge recluster or the policy") {
    val path = freshPath()
    seeded(path, 1000, 10)
    DocStore.insertMany(Seq((null.asInstanceOf[java.lang.Long], 9, "null-key"))
      .toDF("id", "grp", "body").repartition(1), path)
    // the null-key file has no range: nothing overlaps, no rewrite
    assert(DocStore.recluster(spark, path, "id") == 0L)
    assert(statuses(path) == Map("disjoint" -> 10L, "unstatted" -> 1L))
    assert(!DocStore.maybeRecluster(spark, path, "id", maxOverlapping = 0))
    // and with a real overlap alongside, the null-key file is carried
    DocStore.insertMany((300 until 310).map(i => (i.toLong, 9, s"new-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    assert(DocStore.maybeRecluster(spark, path, "id", maxOverlapping = 0))
    val after = s"$path/${liveGen(path)}"
    assert(links(after).size == 10) // 9 disjoint + the null-key file
    assert(DocStore.find(spark, path).count() == 1011L)
    assert(DocStore.find(spark, path).filter(col("id").isNull).count() == 1L)
  }

  test("policy: under the threshold it is metadata-only (no commit); over it, one recluster") {
    val path = freshPath()
    seeded(path, 1000, 10)
    DocStore.insertMany((400 until 410).map(i => (i.toLong, 9, s"new-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    val before = liveGen(path)
    // 2 overlapping files <= threshold 2: nothing runs
    assert(!DocStore.maybeRecluster(spark, path, "id", maxOverlapping = 2))
    assert(liveGen(path) == before)
    // threshold 1: the pair trips it
    assert(DocStore.maybeRecluster(spark, path, "id", maxOverlapping = 1))
    assert(liveGen(path) != before)
    // converged: a second call is a no-op
    assert(!DocStore.maybeRecluster(spark, path, "id", maxOverlapping = 1))
  }

  test("maxFileBytes splits a large group into range-disjoint pieces") {
    val path = freshPath()
    seeded(path, 1000, 4) // 4 files of ~250 ids
    DocStore.insertMany((0 until 1000 by 10).map(i => (i.toLong, 9, s"new-$i"))
      .toDF("id", "grp", "body").repartition(1), path) // spans everything: one global group
    val rewritten = DocStore.recluster(spark, path, "id", maxFileBytes = 8L << 10)
    assert(rewritten == 5L)
    val after = s"$path/${liveGen(path)}"
    val outFiles = physicalDataFiles(after)
    assert(outFiles.size > 1, "expected the group split into pieces")
    assert(statuses(path) == Map("disjoint" -> outFiles.size.toLong))
    assert(DocStore.find(spark, path).count() == 1100L)
  }

  test("recluster without key stats refuses loudly") {
    val path = freshPath()
    DocStore.insertMany((0 until 100).map(i => (i.toLong, i % 7, s"doc-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    DocStore.compact(spark, path, targetFiles = 2, format = Some("parquet"))
    val e = intercept[IllegalArgumentException] {
      DocStore.recluster(spark, path, "id")
    }
    assert(e.getMessage.contains("no min/max stats"))
  }

  test("recluster works on a json-format store and survives a COW mutation cycle") {
    val path = freshPath()
    DocStore.insertMany((0 until 600).map(i => (i.toLong, i % 7, s"doc-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    DocStore.cluster(spark, path, col("id"), 6, Seq("id"))
    // a COW update rewrites one candidate file (its output lands
    // unclustered relative to the carried set when ranges split), then an
    // overlapping append decays the layout further
    DocStore.updateMany(spark, path, col("id").between(100L, 105L),
      Map("body" -> lit("EDITED")))
    DocStore.insertMany((200 until 210).map(i => (i.toLong, 9, s"new-$i"))
      .toDF("id", "grp", "body").repartition(1), path)
    val n = DocStore.recluster(spark, path, "id")
    assert(n >= 2L)
    assert(statuses(path).keySet == Set("disjoint"))
    val got = DocStore.find(spark, path)
    assert(got.count() == 610L)
    assert(got.filter(col("body") === "EDITED").count() == 6L)
    assert(DocStore.fsck(spark, path).filter(col("severity") === "error").isEmpty)
  }
}
