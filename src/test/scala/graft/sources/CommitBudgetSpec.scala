package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** The Spark job count of each DocStore commit shape on a fixed store: 200
  * documents clustered into 8 json files with min/max and Bloom stats on
  * `doc_id`. Every shape runs against its own fresh copy of that store, so
  * no shape's count depends on another's commit.
  *
  * Job counts repeat exactly, so machine load cannot move this gate; a
  * change to the commit path that adds or removes a job per commit shows
  * here as a changed count. Each shape also pins how many files its commit
  * carried by reference, so a shape that switched path (full rewrite,
  * copy-on-write, all-carried) fails here too.
  */
class CommitBudgetSpec extends SparkTestBase {

  private def freshPath() = {
    val d = java.nio.file.Files.createTempDirectory("graft-commitbudget").toString
    new java.io.File(d).delete()
    d
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n", LongType),
    StructField("text", StringType)))
  private def frame(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => Row(i, i % 7, s"document number $i " + "x" * 60)), 1), schema)

  /** The clustered, statted store every shape starts from. */
  private def store(): String = {
    val p = freshPath()
    DocStore.insertMany(frame(0L until 200L), p)
    DocStore.cluster(spark, p, col("doc_id"), targetFiles = 8,
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    p
  }

  /** Spark jobs launched while `body` runs (listener events are posted
    * asynchronously; the short settle wait is generous for a local bus).
    */
  private def jobsDuring(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(600); n.get() }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** `doc_id` 5 and 6 with a new `n`: an upsert-only CDC frame. */
  private def changes(): DataFrame =
    frame(Seq(5L, 6L)).select(col("doc_id"), lit("updated").as("change"),
      struct(col("doc_id"), (col("n") + lit(100L)).as("n"), col("text")).as("after"),
      lit(1).as("generation"))

  /** Carried (`_LINKS`) entries of the live generation: which path a
    * commit took (0 for a full rewrite).
    */
  private def carried(p: String): Int =
    DocStore.history(spark, p).filter(col("live")).head().getAs[Int]("carried_files")

  test("each commit shape runs a pinned number of Spark jobs") {
    def measure(p: String)(body: => Any): (Int, Int) = {
      val jobs = jobsDuring(body)
      (jobs, carried(p))
    }
    def shape(body: String => Any): (Int, Int) = { val p = store(); measure(p)(body(p)) }
    val counts = Seq(
      "updateMany COW" -> shape(p => DocStore.updateMany(spark, p,
        col("doc_id").between(10L, 14L), Map("n" -> (col("n") + lit(1L))))),
      "updateMany full (new column)" -> shape(p => DocStore.updateMany(spark, p,
        col("doc_id") < 5L, Map("flag" -> lit(true)))),
      "updateMany zero-match" -> shape(p => DocStore.updateMany(spark, p,
        col("doc_id") === 100000L, Map("n" -> lit(0L)))),
      "deleteMany COW" -> shape(p => DocStore.deleteMany(spark, p,
        Some(col("doc_id").between(20L, 24L)))),
      "deleteMany full" -> shape(p => DocStore.deleteMany(spark, p,
        Some(col("n") === 3L))),
      "applyChanges COW" -> shape(p =>
        DocStore.applyChanges(spark, p, changes(), "doc_id")),
      "compact" -> shape(p => DocStore.compact(spark, p)),
      "compactSmall" -> {
        val p = store()
        Seq(500L, 501L, 502L).foreach(i => DocStore.insertMany(frame(Seq(i)), p))
        measure(p)(DocStore.compactSmall(spark, p, minBytes = 1000L))
      },
      "vacuum" -> {
        val p = store()
        Seq(10L, 40L).foreach(i => DocStore.updateMany(spark, p,
          col("doc_id") === i, Map("n" -> lit(-1L))))
        measure(p)(DocStore.vacuum(spark, p, minLiveFraction = 0.9))
      },
      "recluster" -> {
        val p = store()
        DocStore.insertMany(frame(Seq(5L, 30L)), p)
        measure(p)(DocStore.recluster(spark, p, "doc_id"))
      },
      "addColumn" -> shape(p => DocStore.addColumn(spark, p, "extra", StringType)),
      "renameColumn" -> shape(p => DocStore.renameColumn(spark, p, "n", "m")))
    info(counts.map { case (k, (j, c)) => s"$k=($j, $c)" }.mkString(", "))
    assert(counts == Seq(
      "updateMany COW" -> ((4, 7)),
      "updateMany full (new column)" -> ((1, 0)),
      "updateMany zero-match" -> ((0, 8)),
      "deleteMany COW" -> ((4, 7)),
      "deleteMany full" -> ((1, 0)),
      "applyChanges COW" -> ((12, 7)),
      "compact" -> ((4, 0)),
      "compactSmall" -> ((4, 8)),
      "vacuum" -> ((4, 2)),
      "recluster" -> ((5, 6)),
      "addColumn" -> ((1, 8)),
      "renameColumn" -> ((4, 0))))
  }
}
