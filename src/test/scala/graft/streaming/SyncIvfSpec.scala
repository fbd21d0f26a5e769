package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.DocStore
import graft.sim.Ann

/** CDC-driven IVF ANN index maintenance (Streams.syncIvfIndex) and the
  * index takedown (Streams.removeFromIvfIndex).
  *
  * Load-bearing claims, mirrored from SyncNearDupSpec for the embedding
  * index: after any sequence of source mutations and polls, the index's
  * CONTENT (vec_id -> cell assignment under the FIXED model) equals a
  * fresh one-shot assignment of the live corpus; a crashed poll replays
  * byte-identically; a takedown's tombstone makes a replayed pre-takedown
  * batch rewrite itself WITHOUT the removed vectors; and search over the
  * maintained index equals brute force when every cell is probed.
  */
class SyncIvfSpec extends SparkTestBase {
  import spark.implicits._

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-syncivf").toString
    new java.io.File(d).delete()
    d
  }

  /** deterministic synthetic embeddings: 3 loose clusters in 4-d.
    * DOUBLE elements end-to-end: the seed round-trips through a JSON
    * DocStore generation (which infers double), so float inputs would
    * leave the store — and then the index — with mixed physical widths.
    */
  private def vec(i: Long): Array[Double] = {
    val c = (i % 3).toInt
    Array.tabulate(4)(j =>
      (if (j == c) 4.0 else 0.5) + ((i * 7 + j * 3) % 5) * 0.1)
  }

  private def corpusDf(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  /** Seed a parquet DocStore with `ids` and return its path. */
  private def seededSrc(ids: Seq[Long]): String = {
    val src = freshPath()
    DocStore.insertMany(corpusDf(ids), src)
    DocStore.compact(spark, src, targetFiles = 2, format = Some("parquet"))
    src
  }

  private def indexContent(idx: String): Set[(Long, Long)] =
    spark.read.parquet(idx).select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def freshAssign(src: String, model: Ann.IvfModel): Set[(Long, Long)] =
    DocStore.find(spark, src)
      .select(col("vec_id"), model.assign(col("embedding")).cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def rewriteSync(idx: String, bytes: Array[Byte]): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(idx, "_SYNC"), bytes)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(idx, "._SYNC.crc"))
  }

  test("seed/append/delete/update polls keep index == fresh one-shot assignment") {
    val src = seededSrc(0L until 40L)
    val model = Ann.fitIvf(DocStore.find(spark, src), nCells = 3, lloydIters = 2)
    val idx = freshPath()
    def poll() = Streams.syncIvfIndex(spark, src, idx, model)

    assert(poll() == 40L) // seed
    assert(indexContent(idx) == freshAssign(src, model))

    DocStore.insertMany(corpusDf(40L until 50L), src)
    assert(poll() == 10L) // append window: only the appended files read
    assert(indexContent(idx) == freshAssign(src, model))

    DocStore.deleteMany(spark, src, Some(col("vec_id") % 10 === 3))
    assert(poll() == 0L) // deletes upsert nothing; takedown only
    assert(indexContent(idx) == freshAssign(src, model))
    assert(!indexContent(idx).exists(_._1 % 10 == 3))

    // an embedding change re-indexes exactly the touched ids
    DocStore.updateMany(spark, src, col("vec_id") === 7L,
      Map("embedding" -> transform(col("embedding"), x => x * lit(2.0d))))
    assert(poll() == 1L)
    assert(indexContent(idx) == freshAssign(src, model))

    // a caught-up poll is free; a metadata-only mutation touches nothing
    assert(poll() == 0L)
    DocStore.updateMany(spark, src, col("vec_id") === 8L,
      Map("vec_id" -> col("vec_id"))) // identity $set: rows restated, vectors equal
    val before = indexContent(idx)
    assert(poll() == 0L)
    assert(indexContent(idx) == before)
  }

  test("an update that MOVES a vector across cells purges the old cell (hinted takedown)") {
    val src = seededSrc(0L until 40L)
    val model = Ann.fitIvf(DocStore.find(spark, src), nCells = 3, lloydIters = 2)
    val idx = freshPath()
    def poll() = Streams.syncIvfIndex(spark, src, idx, model)
    assert(poll() == 40L)
    // pick an id and a replacement vector that provably changes its cell
    // (the scale-by-2 update above is cosine-invariant and stays put);
    // the takedown's cell-hinted discovery must look in the OLD cell —
    // the before-image's assignment — to purge the superseded entry
    val oldCell = indexContent(idx).find(_._1 == 7L).get._2
    val target = (0L until 40L).map(vec).find(v =>
      spark.range(1).select(model.assign(
          typedLit(v)).cast("long")).head().getLong(0) != oldCell).get
    DocStore.updateMany(spark, src, col("vec_id") === 7L,
      Map("embedding" -> typedLit(target)))
    assert(poll() == 1L)
    val after = indexContent(idx)
    assert(after == freshAssign(src, model))
    assert(after.count(_._1 == 7L) == 1)
    assert(after.find(_._1 == 7L).get._2 != oldCell)
  }

  test("search over the maintained index equals brute force (all cells probed)") {
    val src = seededSrc(0L until 40L)
    val model = Ann.fitIvf(DocStore.find(spark, src), nCells = 3, lloydIters = 2)
    val idx = freshPath()
    Streams.syncIvfIndex(spark, src, idx, model)
    DocStore.deleteMany(spark, src, Some(col("vec_id") % 7 === 2))
    DocStore.insertMany(corpusDf(40L until 55L), src)
    Streams.syncIvfIndex(spark, src, idx, model)
    val live = DocStore.find(spark, src)
    val queries = live.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rk", "vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val served = rows(Ann.ivfSearch(model, spark.read.parquet(idx),
      queries, k = 5, nProbe = 3))
    val brute = rows(Ann.bruteForceTopK(live, queries, k = 5))
    assert(served.nonEmpty && served == brute)
  }

  test("a crashed poll replays byte-identically (_SYNC restored, re-polled)") {
    val src = seededSrc(0L until 30L)
    val model = Ann.fitIvf(DocStore.find(spark, src), nCells = 3, lloydIters = 2)
    val idx = freshPath()
    Streams.syncIvfIndex(spark, src, idx, model)
    val preSync = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "_SYNC"))
    // a mixed window: delete + append + embedding update (retain = 3
    // keeps the pre-poll cursor generation alive across two mutations —
    // the lag headroom a real slow consumer buys the same way)
    DocStore.deleteMany(spark, src, Some(col("vec_id") === 4L), retain = 3)
    DocStore.insertMany(corpusDf(30L until 34L), src)
    DocStore.updateMany(spark, src, col("vec_id") === 11L,
      Map("embedding" -> transform(col("embedding"), x => x * lit(3.0d))), retain = 3)
    Streams.syncIvfIndex(spark, src, idx, model)
    val after = indexContent(idx)
    assert(after == freshAssign(src, model))
    // crash simulation: the _SYNC commit never landed — restore and re-poll
    rewriteSync(idx, preSync)
    Streams.syncIvfIndex(spark, src, idx, model)
    assert(indexContent(idx) == after)
  }

  test("takedown tombstones survive a pre-takedown batch replay; new batches can re-insert") {
    val idx = freshPath()
    val model = Ann.fitIvf(corpusDf(0L until 30L), nCells = 3, lloydIters = 2)
    Streams.ivfBatch(corpusDf(0L until 15L), 1L, idx, model, "vec_id", "embedding")
    Streams.ivfBatch(corpusDf(15L until 30L), 2L, idx, model, "vec_id", "embedding")
    val removed = Seq(3L, 8L, 20L).toDF("vec_id")
    assert(Streams.removeFromIvfIndex(spark, idx, removed) == 3L)
    assert(!indexContent(idx).exists(p => Set(3L, 8L, 20L)(p._1)))
    // an at-least-once REPLAY of pre-takedown batch 1: the tombstone
    // filter rewrites it WITHOUT the removed ids
    Streams.ivfBatch(corpusDf(0L until 15L), 1L, idx, model, "vec_id", "embedding")
    assert(!indexContent(idx).exists(p => Set(3L, 8L)(p._1)))
    assert(indexContent(idx).exists(_._1 == 4L)) // survivors intact
    // a genuinely NEW batch above the cutoff re-inserts deliberately
    Streams.ivfBatch(Seq((3L, vec(3L))).toDF("vec_id", "embedding"),
      3L, idx, model, "vec_id", "embedding")
    assert(indexContent(idx).exists(_._1 == 3L))
    // removing ids that were never indexed is a loud no-op
    assert(Streams.removeFromIvfIndex(spark, idx,
      Seq(999L).toDF("vec_id")) == 0L)
  }

  test("a different model fails loudly against an existing index (_META pin)") {
    val idx = freshPath()
    val model = Ann.fitIvf(corpusDf(0L until 30L), nCells = 3, lloydIters = 2)
    Streams.ivfBatch(corpusDf(0L until 10L), 1L, idx, model, "vec_id", "embedding")
    val other = Ann.IvfModel(model.centroids.map(_.map(_ + 1.0)))
    val e = intercept[IllegalArgumentException] {
      Streams.ivfBatch(corpusDf(10L until 20L), 2L, idx, other, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("centroids"))
    val wrongCells = Ann.IvfModel(model.centroids.take(2))
    assert(intercept[IllegalArgumentException] {
      Streams.syncIvfIndex(spark, freshPath(), idx, wrongCells)
    }.getMessage.contains("cells"))
  }

  test("an index with batches but no _SYNC state is refused loudly") {
    val idx = freshPath()
    val model = Ann.fitIvf(corpusDf(0L until 30L), nCells = 3, lloydIters = 2)
    Streams.ivfBatch(corpusDf(0L until 10L), 1L, idx, model, "vec_id", "embedding")
    val src = seededSrc(0L until 10L)
    val e = intercept[IllegalArgumentException] {
      Streams.syncIvfIndex(spark, src, idx, model)
    }
    assert(e.getMessage.contains("_SYNC"))
  }

  test("a legacy root-level cell= layout is refused before any write") {
    val idx = freshPath()
    val model = Ann.fitIvf(corpusDf(0L until 30L), nCells = 3, lloydIters = 2)
    // an index written by the pre-batch-dir layout has cell=M dirs at the
    // root; mixing batch_id=N/cell=M next to them would put leaf files at
    // different depths and brick partition discovery for every later read
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx, "cell=0"))
    val e = intercept[IllegalStateException] {
      Streams.ivfBatch(corpusDf(0L until 10L), 1L, idx, model,
        "vec_id", "embedding")
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  private def batchDirs(idx: String): Set[String] =
    Option(new java.io.File(idx).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet

  test("a crashed SEED retries idempotently via the bid=-1 intent") {
    val src = seededSrc(0L until 20L)
    val model = Ann.fitIvf(DocStore.find(spark, src), nCells = 3, lloydIters = 2)
    val idx = freshPath()
    assert(Streams.syncIvfIndex(spark, src, idx, model) == 20L)
    val seeded = indexContent(idx)
    // rewind the state to the seed INTENT (what a crash mid-seed leaves)
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "_SYNC")), "UTF-8")
    assert(txt.contains("bid=1\n"))
    rewriteSync(idx, txt.replace("bid=1\n", "bid=-1\n").getBytes("UTF-8"))
    assert(Streams.syncIvfIndex(spark, src, idx, model) == 20L) // redo seed
    assert(indexContent(idx) == seeded && batchDirs(idx) == Set("batch_id=1"))
    // and a later real mutation still polls correctly
    DocStore.insertMany(corpusDf(20L until 23L), src)
    assert(Streams.syncIvfIndex(spark, src, idx, model) == 3L)
    assert(indexContent(idx) == freshAssign(src, model))
  }

  test("metadata-only updates touch nothing; caught-up polls are free") {
    val src = freshPath()
    DocStore.insertMany((0L until 12L).map(i => (i, vec(i), "en"))
      .toDF("vec_id", "embedding", "lang"), src)
    val model = Ann.fitIvf(DocStore.find(spark, src), nCells = 3, lloydIters = 2)
    val idx = freshPath()
    assert(Streams.syncIvfIndex(spark, src, idx, model) == 12L)
    val (c0, b0) = (indexContent(idx), batchDirs(idx))
    DocStore.updateMany(spark, src, col("vec_id") < 4L,
      Map("lang" -> lit("de"))) // embeddings unchanged
    assert(Streams.syncIvfIndex(spark, src, idx, model) == 0L)
    assert(indexContent(idx) == c0 && batchDirs(idx) == b0)
    // the cursor advanced: the next poll is caught up, not a re-diff
    val syncAfter = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(idx, "_SYNC"))
    assert(Streams.syncIvfIndex(spark, src, idx, model) == 0L)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "_SYNC")).sameElements(syncAfter))
  }

  test("a takedown that crashed mid-swap heals at the next takedown") {
    val idx = freshPath()
    val model = Ann.fitIvf(corpusDf(0L until 30L), nCells = 3, lloydIters = 2)
    Streams.ivfBatch(corpusDf(0L until 15L), 1L, idx, model, "vec_id", "embedding")
    Streams.ivfBatch(corpusDf(15L until 30L), 2L, idx, model, "vec_id", "embedding")
    val before = indexContent(idx)
    // a crash between the swap's delete and rename (staging present, live
    // batch dir gone), and a stale staging next to an intact batch dir
    val root = new java.io.File(idx)
    assert(new java.io.File(root, "batch_id=1")
      .renameTo(new java.io.File(root, ".takedown-b1-crash")))
    new java.io.File(root, ".takedown-b2-stale").mkdirs()
    assert(Streams.removeFromIvfIndex(spark, idx, Seq(424242L).toDF("vec_id")) == 0L)
    assert(batchDirs(idx) == Set("batch_id=1", "batch_id=2"))
    assert(!root.list().exists(_.startsWith(".takedown-b")))
    assert(indexContent(idx) == before)
    // and the healed index takes ids down from the recovered batch
    assert(Streams.removeFromIvfIndex(spark, idx, Seq(3L).toDF("vec_id")) == 1L)
    assert(indexContent(idx) == before.filterNot(_._1 == 3L))
  }
}
