package graft.sinks

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{AuditLog, LoadResult}

/** Sink family (SURVEY.md §2.2), expressed against the file/table layer.
  *
  * The reference's loads are JDBC-specific (staging table + stored-proc
  * sync K2, ON DUPLICATE KEY upsert K3, truncate-reload K4, Excel dead
  * letter K7, audit-log row K6 — /root/reference/dags/CotyData_IPN.py:207-242,
  * :941-952, :896-898, :190, :19-61). The engine keeps the same semantics
  * over parquet paths so they are testable and cluster-portable; the JDBC
  * transport variant lives in graft.sources.Jdbc.
  *
  * Idempotency contract (the reason K2 exists in the reference): staging is
  * truncated before each write and the merge is keyed, so re-running a load
  * leaves the final table unchanged.
  *
  * Publish protocol ([[stagedSync]] and [[compact]]): the new table state is
  * written once, to `<table>__tmp`, then swapped in by two directory
  * renames — `<table>` to `<table>__old`, `<table>__tmp` to `<table>` — and
  * `<table>__old` is deleted (the write-once-then-publish commit shape of
  * Structured Streaming and Delta Lake). The next call on the same table
  * heals an interrupted publish before it reads anything:
  *  - `<table>` missing, `<table>__tmp` has `_SUCCESS`: the swap died between
  *    its renames, so the complete new state is promoted;
  *  - `<table>` missing, no complete `<table>__tmp`, `<table>__old` present:
  *    the old state is restored;
  *  - then any `<table>__tmp` (a write that never finished, or a complete one
  *    whose swap never started) and `<table>__old` (a swap that finished but
  *    was not cleaned up) are dropped.
  * A crash therefore never leaves a table half-written. On an object store
  * (S3) a directory rename is a per-object copy and not atomic: a crash
  * mid-rename there can leave a partial `<table>`, the same exposure as
  * rewriting the table in place with `SaveMode.Overwrite`.
  */
object Sinks {

  /** Key-preferring merge: rows from `delta` win over `existing` on `keys`
    * (the reference's SINCRONIZACION_* / ON DUPLICATE KEY semantics).
    */
  def mergeByKey(existing: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    delta.unionByName(existing.join(delta.select(keys.map(col): _*).distinct(),
      keys, "left_anti"))

  /** K2: two-phase staged sync. 1) overwrite staging (truncate+append);
    * 2) merge staging into final by key and publish the result (see the
    * publish protocol above). Returns the batch's row count.
    */
  def stagedSync(spark: SparkSession, df: DataFrame, stagingPath: String,
                 finalPath: String, keys: Seq[String]): LoadResult = {
    val table = finalPath
    try {
      // the row count rides the staging write as an Observation, and the
      // staging read reuses the batch's schema: no count scan and no
      // schema-inference job
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).parquet(stagingPath)
      val staged = spark.read.schema(df.schema).parquet(stagingPath)
      publish(spark, finalPath)(_.fold(staged)(mergeByKey(_, staged, keys)))
      LoadResult(table, obs.get("rows").asInstanceOf[Long], ok = true, None)
    } catch {
      case e: Throwable => LoadResult(table, 0L, ok = false, Some(e.getMessage))
    }
  }

  /** K2 at scale: partition-scoped staged sync. The incremental window
    * maps to partition values (e.g. FECHA date), so a replayed load
    * overwrites ONLY the partitions present in the batch — dynamic
    * partition overwrite — instead of rewriting the whole final table
    * like [[stagedSync]]. Idempotent per window by construction.
    */
  def stagedSyncPartitioned(spark: SparkSession, df: DataFrame, finalPath: String,
                            partitionCols: Seq[String]): LoadResult =
    try {
      // the mode is a per-write option, so a load running beside this one
      // in the same session keeps the session's mode; the row count rides
      // the write as an Observation (no second scan)
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*).parquet(finalPath)
      LoadResult(finalPath, obs.get("rows").asInstanceOf[Long], ok = true, None)
    } catch {
      case e: Throwable => LoadResult(finalPath, 0L, ok = false, Some(e.getMessage))
    }

  /** K3: upsert without a visible staging area. */
  def upsert(spark: SparkSession, df: DataFrame, path: String, keys: Seq[String]): LoadResult =
    stagedSync(spark, df, path + "__staging", path, keys)

  /** K4: truncate-and-reload. */
  def truncateReload(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** K1: plain append, writers bounded like the reference bounds its JDBC
    * batch fan-out (/root/reference/dags/utils.py:40-46).
    */
  def append(df: DataFrame, path: String, maxWriters: Int = 32): Unit =
    df.coalesce(maxWriters).write.mode(SaveMode.Append).parquet(path)

  /** Date/key-partitioned append — the warehouse layout for incremental
    * loads at scale: each daily window lands in its own partition
    * directories, so replays overwrite only the touched partitions and
    * readers prune by partition column.
    */
  def appendPartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                        maxWriters: Int = 32): Unit =
    df.coalesce(maxWriters).write.mode(SaveMode.Append)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table write: co-locates join keys so repeated large-large
    * joins on `bucketCols` skip the shuffle entirely (SURVEY.md §4 —
    * "pre-partitioning for co-located joins").
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int = 16): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Training-data shard export: range-partition by `orderCol` into
    * `shards` sorted shards, each file capped at `maxRecordsPerFile` rows.
    * Range partitioning makes shard boundaries globally ordered (every key
    * in shard i precedes shard i+1), so a training loader can stream the
    * directory in filename order and see one global order — and the
    * per-file cap keeps individual files loader-friendly no matter how
    * skewed the range sampling lands. At 100 TB this is one shuffle
    * (range exchange with sampled bounds), then parallel sorted writes.
    */
  def writeSharded(df: DataFrame, path: String, orderCol: String, shards: Int,
                   maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.repartitionByRange(shards, col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode(SaveMode.Overwrite)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(path)
  }

  /** K5: join-based conditional update replacing the reference's row-wise
    * UPDATE loops (/root/reference/dags/CotyData_IPN.py:713-715): rows in
    * `target` matching `updates` on `keys` take the update's values.
    */
  def applyUpdates(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    mergeByKey(target, updates.select(target.columns.map(col): _*), keys)

  /** K7: run a load; on failure dump the batch to a dead-letter path
    * (Excel dump analog, /root/reference/dags/CotyData_IPN.py:190).
    */
  def withDeadLetter(df: DataFrame, deadLetterPath: String, table: String)
                    (load: DataFrame => Long): LoadResult =
    try LoadResult(table, load(df), ok = true, None)
    catch {
      case e: Throwable =>
        df.write.mode(SaveMode.Overwrite).parquet(deadLetterPath)
        LoadResult(table, 0L, ok = false, Some(e.getMessage))
    }

  /** Small-file compaction: rewrite a parquet path into files sized near
    * `targetFileMB`. Incremental appends (K1/appendPartitioned) accumulate
    * small files; at 100 TB unmanaged small files dominate scan planning
    * time, so compaction is a first-class maintenance op. The rewrite is
    * published like a [[stagedSync]] merge (written once, swapped in by
    * rename). Returns the target file count.
    */
  def compact(spark: SparkSession, path: String, targetFileMB: Int = 256): Long = {
    var files = 1
    publish(spark, path) { current =>
      val df = current.getOrElse(
        throw new java.io.FileNotFoundException(s"compact: no table at $path"))
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      files = math.max(1L, (bytes / (targetFileMB.toLong << 20)).toLong).toInt
      df.coalesce(files)
    }
    files.toLong
  }

  /** K6: audit-log append (reference `dags/CotyData_IPN.py:19-61`).
    * The rows of several loads go in one append, as one file. Appends to
    * one `path` share its `_temporary` dir, so they must not run
    * concurrently.
    */
  def audit(spark: SparkSession, path: String, logs: Seq[AuditLog]): Unit = {
    import spark.implicits._
    logs.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(path)
  }

  def auditFor(result: LoadResult, total: Long, source: String, at: Timestamp): AuditLog =
    AuditLog(result.table, result.rows, total, result.ok,
      result.error.getOrElse(""), at, source)

  /** The one owner of the publish protocol (see the object doc): heal an
    * interrupted publish of `path`, build the new state from the current
    * table (None if there is none), write it once to `path__tmp`, and swap
    * it in by rename.
    */
  private def publish(spark: SparkSession, path: String)
                     (next: Option[DataFrame] => DataFrame): Unit = {
    val dir = new Path(path)
    val tmp = new Path(path + "__tmp")
    val old = new Path(path + "__old")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) rename(fs, tmp, dir)
      else if (fs.exists(old)) rename(fs, old, dir)
    }
    fs.delete(tmp, true)
    fs.delete(old, true)
    val current = if (fs.exists(dir)) Some(spark.read.parquet(path)) else None
    next(current).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (current.isDefined) rename(fs, dir, old)
    rename(fs, tmp, dir)
    fs.delete(old, true)
  }

  /** Hadoop's rename reports some failures by returning false; and onto an
    * existing directory it nests the source inside it, so every target here
    * is known to be absent.
    */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")
}
