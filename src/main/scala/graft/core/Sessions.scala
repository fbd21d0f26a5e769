package graft.core

import org.apache.spark.sql.SparkSession

/** Centralized SparkSession construction for the engine.
  *
  * The reference runs single-threaded eager pandas (see SURVEY.md §4); our
  * engine instead leans on Catalyst + AQE. All entry points (Verify, Bench,
  * tests) share this config so plans are comparable across runs.
  *
  * Scale notes (local[32] here, 1000-executor cluster in production):
  *  - `spark.sql.shuffle.partitions` is sized to the local core count; on a
  *    real cluster AQE coalesces post-shuffle partitions anyway.
  *  - ANSI mode is OFF: the reference's pandas semantics are permissive
  *    (failed parses -> NaN/None, e.g. /root/reference/dags/CotyData_IPN.py:103-104),
  *    so null-on-error matches the semantics we must replicate.
  *  - The `file` scheme is [[LocalFs]] for `FileSystem` and `FileContext`.
  *    Without the native `libhadoop`, Hadoop's own local file system starts
  *    a `chmod` child process for every file and dir it creates (twice per
  *    data file, with its `.crc`) and a `readlink` per checkpoint rename;
  *    [[LocalFs]] does both in-process and keeps the checksum files and the
  *    permission bits as they were. A value preset as a system property
  *    (`spark-submit --conf`, `-D`) wins over it ([[LocalFs.settings]]).
  */
object Sessions {

  /** Config shared by every session the engine creates. */
  def tuned(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config(LocalFs.settings(sys.props.get))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet stores TIMESTAMP(NANOS) which Spark cannot read
      // natively; read as long and convert in Tables.events (exact div).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive parquet timestamps (no timezone, e.g. events.ts as
      // TIMESTAMP(MICROS)) must surface as TimestampType, not NTZ:
      // watermarks, range frames, and epoch casts all operate on
      // TimestampType, and with the session pinned to UTC the instant is
      // identical to DuckDB's naive read. Without this, Spark 4 infers
      // TIMESTAMP_NTZ and every event-time operator fails to analyze.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // per-process location: managed-table dirs from a previous JVM must
      // not collide with this session's saveAsTable calls
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") +
          s"/graft-warehouse-${ProcessHandle.current().pid()}")
      .config("spark.sql.streaming.schemaInference", "false")
      // InferFiltersFromGenerate turns explode(expr) into a size(expr)>0
      // filter that predicate pushdown then re-substitutes below every
      // projection — for a computed n-gram array this re-inlines the
      // tokenizer into an interpreted higher-order filter at the scan
      // (measured 9 s single-threaded vs 0.3 s without, sf0.1 dc1). The
      // inferred filter is semantically redundant for outer=false explode
      // (empty arrays yield no rows either way), so drop the rule.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      // streaming state store: default is the HDFS-backed in-memory
      // provider (fine at test volumes — state is bounded by watermarks).
      // At 100x event volume the stream-stream joins (st5) and session
      // windows hold state that outgrows executor heap; RocksDB keeps it
      // on local disk with incremental snapshots. SPARK_GRAFT_STATE_STORE=
      // rocksdb flips every entry point; results are provider-independent
      // (pinned by StreamsSpec parity).
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.get("SPARK_GRAFT_STATE_STORE") match {
          case Some("rocksdb") =>
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
          case _ =>
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        })

  /** Local session with N executor threads (test/bench harness). Custom
    * expressions (simhash64, minhash_sig, rhp_sig) are SQL-callable via
    * GraftExtensions.
    */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
            appName: String = "graft"): SparkSession = {
    val s = tuned(SparkSession.builder().master(s"local[$cpus]").appName(appName)
        .withExtensions(new graft.functions.GraftExtensions), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
