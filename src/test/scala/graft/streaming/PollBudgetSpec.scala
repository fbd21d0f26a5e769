package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.sources.DocStore
import graft.sim.Ann

/** The CDC poll path of the two derived indexes on a fixed scenario: a
  * clustered, statted store of 200 documents with both indexes seeded,
  * then one window of 40 inserts (10 planted near-duplicates), 20
  * updates (new embeddings, new text for half of them) and 10 deletes.
  *
  * Pinned: the exact Spark job count of one CDC collect and one poll of
  * each index (job counts repeat exactly, so machine load cannot move
  * them), and that the polled indexes hold exactly what a fresh seed of
  * the final snapshot holds, with the poll's matches exactly the planted
  * near-duplicate pairs.
  */
class PollBudgetSpec extends SparkTestBase {

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-pollbudget").toString
    new java.io.File(d).delete()
    d
  }

  private val vocab = (0 until 60).map(i => s"w$i")
  private def words(i: Long): Seq[String] = {
    val r = new java.util.Random(i * 7919L + 13)
    Seq.fill(30)(vocab(r.nextInt(vocab.size)))
  }
  private def vec(i: Long): Seq[Double] = {
    val r = new java.util.Random(i * 31L + 5)
    Seq.fill(8)(r.nextGaussian())
  }
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("n_chars", LongType), StructField("embedding", ArrayType(DoubleType))))
  private def row(id: Long, text: String, emb: Seq[Double]) =
    Row(id, text, text.length.toLong, emb)
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** Every 4th inserted document copies the text of source 150 + j / 4
    * with its first word changed: the planted (source, copy) pairs.
    */
  private val planted: Set[(Long, Long)] =
    (0 until 40 by 4).map(j => (150L + j / 4, 1000L + j)).toSet

  private final case class Window(src: String, nd: String, ivf: String,
                                  model: Ann.IvfModel, cur: DocStore.DocCursor) {
    def syncNd(idx: String = nd): DataFrame =
      Streams.syncNearDupIndex(spark, src, idx, idCol = "doc_id", textCol = "text",
        k = 3, threshold = 0.5)
    def syncIvf(idx: String = ivf): Long =
      Streams.syncIvfIndex(spark, src, idx, model, idCol = "doc_id")
  }

  /** Seed both indexes, then commit the window (nothing polled yet). */
  private def window(): Window = {
    val src = freshPath()
    DocStore.insertMany(frame((0L until 200L).map(i => row(i, words(i).mkString(" "), vec(i)))), src)
    DocStore.cluster(spark, src, col("doc_id"), targetFiles = 8,
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val model = Ann.fitIvf(DocStore.find(spark, src), nCells = 16, lloydIters = 2,
      idCol = "doc_id")
    val w = Window(src, freshPath(), freshPath(), model, DocStore.cursor(spark, src))
    w.syncNd(); w.syncIvf()
    DocStore.insertMany(frame((0 until 40).map { j =>
      val id = 1000L + j
      planted.collectFirst { case (s, `id`) => s } match {
        case Some(s) => row(id, ("changed" +: words(s).tail).mkString(" "), vec(s).map(_ + 1e-3))
        case None => row(id, words(id).mkString(" "), vec(id))
      }
    }), src)
    DocStore.updateMany(spark, src, col("doc_id").between(50L, 69L),
      Map("n_chars" -> (col("n_chars") + lit(1L)),
        "embedding" -> transform(col("embedding"), x => x * lit(-1.0d)),
        "text" -> when(col("doc_id") < 60L, concat(col("text"), lit(" extra")))
          .otherwise(col("text"))), retain = 4)
    DocStore.deleteMany(spark, src, Some(col("doc_id").between(100L, 109L)), retain = 4)
    w
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

  /** A tree's rows without `batch_id`, as a multiset (arrays compared by value). */
  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.drop("batch_id").collect().toSeq
      .map(_.toSeq.map { case a: scala.collection.Seq[_] => a.toList; case v => v })
      .groupBy(identity).map { case (k, v) => k -> v.size }

  test("one window's CDC collect and index polls run a pinned number of jobs") {
    val w = window()
    val (changed, cdcJobs) =
      jobsDuring(DocStore.changesSince(spark, w.src, w.cur, "doc_id")._1.collect().length)
    assert(changed == 70)
    val (upserted, ivfJobs) = jobsDuring(w.syncIvf())
    assert(upserted == 60L) // 40 inserts and 20 new embeddings
    val (_, ndJobs) = jobsDuring(w.syncNd())
    // one shuffle per diff step, poll decisions on the checkpoint job, no
    // footer-inference reads
    assert((cdcJobs, ivfJobs, ndJobs) == (3, 10, 24),
      s"jobs: CDC collect $cdcJobs, IVF poll $ivfJobs, near-dup poll $ndJobs")
  }

  test("polled indexes equal a fresh seed of the final snapshot; matches are the planted pairs") {
    val w = window()
    assert(w.syncIvf() == 60L)
    val matches = w.syncNd().select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(matches.sorted == planted.toSeq.sorted)
    val (freshNd, freshIvf) = (freshPath(), freshPath())
    w.syncNd(freshNd); w.syncIvf(freshIvf)
    assert(rows(spark.read.parquet(w.ivf)) == rows(spark.read.parquet(freshIvf)))
    Seq("keys", "shingles").foreach { t =>
      assert(rows(spark.read.parquet(s"${w.nd}/$t")) ==
        rows(spark.read.parquet(s"$freshNd/$t")), t)
    }
  }
}
