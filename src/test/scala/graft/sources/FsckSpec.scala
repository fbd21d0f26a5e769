package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Read-only integrity checking (DocStore.fsck + the docstore_fsck TVF):
  * a healthy store reports nothing; each planted corruption is reported
  * with the right code; and fsck itself never modifies the collection
  * (byte-listing identical before and after — detection, not repair).
  */
class FsckSpec extends SparkTestBase {
  import spark.implicits._

  private def freshStore(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-fsck").toString
    new java.io.File(d).delete()
    DocStore.insertMany(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "grp", "v"), d)
    d
  }

  private def codes(path: String): Seq[(String, String)] =
    DocStore.fsck(spark, path).select("severity", "code")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  private def listing(path: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
    walk(new java.io.File(path)).map(f =>
      (f.getAbsolutePath, if (f.isFile) f.length() else -1L)).toSet
  }

  test("a healthy store reports nothing; fsck modifies nothing") {
    val path = freshStore()
    DocStore.updateMany(spark, path, col("id") === 1L, Map("v" -> lit(9.0)))
    DocStore.collectStats(spark, path, Seq("id"))
    val before = listing(path)
    assert(codes(path).isEmpty)
    assert(listing(path) == before)
  }

  test("orphan generation, staging debris, and flat residue are warned") {
    val path = freshStore()
    DocStore.updateMany(spark, path, col("id") === 1L, Map("v" -> lit(9.0)))
    // crash-orphaned complete generation (never committed)
    val orphan = new java.io.File(path, "gen-000099")
    orphan.mkdirs()
    new java.io.File(orphan, "_SUCCESS").createNewFile()
    // leftover append staging inside the live generation
    val live = DocStore.generations(spark, path).last
    new java.io.File(new java.io.File(path, f"gen-$live%06d"),
      "_append-deadbeef").mkdirs()
    // flat-layout residue at the root
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "leftover.json"), "{}".getBytes)
    val cs = codes(path)
    assert(cs.contains(("warn", "orphan-generation")), cs)
    assert(cs.contains(("warn", "staging-debris")), cs)
    assert(cs.contains(("warn", "flat-residue")), cs)
    assert(!cs.exists(_._1 == "error"), cs)
  }

  test("an orphan beside a never-rewritten first generation is warned") {
    val path = freshStore() // gen 1 only: no _SOURCE record anywhere
    val orphan = new java.io.File(path, "gen-000002")
    orphan.mkdirs()
    java.nio.file.Files.write(new java.io.File(orphan, "part-0.json").toPath,
      "{\"id\": 66}".getBytes)
    new java.io.File(orphan, "_SUCCESS").createNewFile()
    val cs = codes(path)
    assert(cs.contains(("warn", "orphan-generation")), cs)
    assert(!cs.exists(_._1 == "error"), cs)
  }

  test("dangling/incomplete manifest targets are errors") {
    val path = freshStore()
    val live = DocStore.generations(spark, path).last
    val gdir = new java.io.File(path, f"gen-$live%06d")
    new java.io.File(gdir, "_SUCCESS").delete()
    assert(codes(path).contains(("error", "manifest-incomplete")))
    org.apache.commons.io.FileUtils.deleteDirectory(gdir)
    assert(codes(path).contains(("error", "manifest-dangling")))
  }

  test("data files at a root with no generation are an error, worded as the refusal") {
    val path = java.nio.file.Files.createTempDirectory("graft-fsck").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "part-0.json"), "{\"id\":1}\n".getBytes)
    val before = listing(path)
    val found = DocStore.fsck(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val refusal = intercept[IllegalStateException](DocStore.find(spark, path)).getMessage
    assert(found == Seq(("error", "pre-manifest-layout", refusal)), found)
    assert(listing(path) == before)
  }

  test("stale stats entries and unstatted files are warned; bad sync cursor is an error") {
    val path = freshStore()
    DocStore.collectStats(spark, path, Seq("id"))
    val live = DocStore.generations(spark, path).last
    val gdir = new java.io.File(path, f"gen-$live%06d")
    // delete a statted data file -> its stats row is stale
    val dataFile = gdir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    dataFile.delete()
    new java.io.File(gdir, "." + dataFile.getName + ".crc").delete()
    // plant an unstatted data file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(gdir.toString, "planted.json"),
      """{"id":9,"grp":"z","v":0.0}""".getBytes)
    // garbage sync-cursor sidecar
    java.nio.file.Files.write(
      java.nio.file.Paths.get(gdir.toString, "_sync_cursor"),
      "not a number\n".getBytes)
    val cs = codes(path)
    assert(cs.contains(("warn", "stale-stats-entry")), cs)
    assert(cs.contains(("warn", "unstatted-file")), cs)
    assert(cs.contains(("error", "bad-sync-cursor")), cs)
  }

  test("docstore_fsck TVF (SQL surface) is row-identical to the API") {
    val path = freshStore()
    val live = DocStore.generations(spark, path).last
    new java.io.File(new java.io.File(path, f"gen-$live%06d"),
      "_append-leftover").mkdirs()
    val sql = spark.sql(s"SELECT * FROM docstore_fsck('$path')")
      .collect().map(_.toSeq).toSeq
    val api = DocStore.fsck(spark, path).collect().map(_.toSeq).toSeq
    assert(sql.nonEmpty && sql == api)
  }

  test("retain below the mutation floor is refused (takeRight(0) would blind the window)") {
    intercept[IllegalArgumentException] {
      DocStore.fsck(spark, "/nonexistent", retain = 1)
    }
    ()
  }
}
