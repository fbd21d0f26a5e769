package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Io

/** Training-corpus export: the terminal sink of the preprocessing
  * pipeline (`pipe_corpus_prep` upstream, this downstream). Rows land as
  * parquet PARTITIONED BY the split column, so a trainer reading one
  * split scans only that directory (partition pruning does the work — no
  * filter ever touches the other splits' files), and a `_MANIFEST.json`
  * records per-split row counts plus the schema, committed atomically
  * AFTER the data so its presence marks a complete export (the DocStore
  * manifest-swing idea at its simplest).
  *
  * One scan total: per-split counts ride the write via `observe` instead
  * of a second aggregation pass.
  */
object TrainExport {

  /** Write `df` partitioned by `splitCol`; returns per-split row counts.
    * Overwrites any previous export at `path`.
    */
  def writeSplits(df: DataFrame, path: String,
                  splitCol: String = "split"): Map[String, Long] = {
    val spark = df.sparkSession
    val obs = Observation()
    df.observe(obs,
        count(lit(1)).as("n"),
        count(when(col(splitCol) === "train", 1)).as("train"),
        count(when(col(splitCol) === "val", 1)).as("val"),
        count(when(col(splitCol) === "test", 1)).as("test"))
      .write.mode(SaveMode.Overwrite).partitionBy(splitCol).parquet(path)
    val row = obs.get
    val counts = Seq("train", "val", "test")
      .map(k => k -> row(k).asInstanceOf[Long])
      .filter(_._2 > 0).toMap
    val total = row("n").asInstanceOf[Long]
    val other = total - counts.values.sum
    val all = if (other > 0) counts + ("other" -> other) else counts
    val manifest =
      s"""{"total": $total,
         | "splits": {${all.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}},
         | "schema": ${compactJson(df.drop(splitCol).schema.json)}}""".stripMargin
    Io.commitSmallFile(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(path), "_MANIFEST.json",
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8), replace = true)
    all
  }

  // schema.json is already JSON; embed verbatim
  private def compactJson(j: String): String = j

  /** Read one split back — resolves to a directory-pruned scan (only
    * `splitCol=<split>` files are listed), which is the point of the
    * layout.
    */
  def readSplit(spark: SparkSession, path: String, split: String,
                splitCol: String = "split"): DataFrame =
    spark.read.parquet(path).filter(col(splitCol) === split)

  /** Parse the manifest's per-split counts (for load-side validation). */
  def manifestCounts(spark: SparkSession, path: String): Map[String, Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = Io.readSmallFile(fs, new Path(path, "_MANIFEST.json"))
    """"(train|val|test|other)": (\d+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
