package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import Registry._

/** Structured-Streaming twin of w4_window_hourly, surfaced as a batch
  * query: readStream over the events parquet -> watermarked windowed agg ->
  * memory sink drained with processAllAvailable. The oracle is the BATCH
  * statement — streaming and batch must agree on the same data (Spark's
  * unified semantics, exercised end-to-end).
  */
/** Best-effort exit cleanup for the per-JVM tmp dirs the query scripts
  * stage under java.io.tmpdir (seed stores, work copies, stream landing
  * dirs, streamed indexes): every dir registered here is removed by one
  * shutdown hook per dir — repeated bench/verify runs no longer
  * accumulate corpus copies under /tmp. Registration is idempotent per
  * path; deletion failures are swallowed (tmp debris is never worth
  * failing an exit for).
  */
private[queries] object TmpDirs {
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def cleanupOnExit(dir: String): String = {
    if (registered.add(dir))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          val p = java.nio.file.Paths.get(dir)
          if (java.nio.file.Files.exists(p)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(p).iterator().asScala.toSeq
              .sortBy(-_.getNameCount) // files before their directories
              .foreach(q => java.nio.file.Files.deleteIfExists(q))
          }
        } catch { case _: Exception => () } // best-effort tmp cleanup
      }))
    dir
  }
}

/** Shared staging for the d9-family IVF-sync queries: the lifecycle seed
  * (clustered parquet src store + its seeded IVF index + a PENDING mixed
  * CDC window of a 2.5% insert batch and a selective COW delete the index
  * has not seen) is built ONCE per (dataset, JVM) — the src store is
  * maintained the way a production corpus is (clustered + statted on the
  * key, so the staged delete is a pruned COW rewrite), and the corpus-
  * mutation cost itself is the d8 family's bench, not the d9 family's.
  * Each caller then copies the staging into its own `tag`-keyed work dir,
  * so bench repeats are deterministic and d9b/d9c never clobber each
  * other's live dirs.
  */
private[queries] object IvfSyncStage {
  def work(s: org.apache.spark.sql.SparkSession, d: String,
           emb: org.apache.spark.sql.DataFrame,
           model: graft.sim.Ann.IvfModel, tag: String): String = {
    import graft.sources.DocStore
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val pid = ProcessHandle.current().pid()
    val seed = TmpDirs.cleanupOnExit(
      s"$tmp/graft-ivfsyncseed-${Integer.toHexString(d.hashCode)}-p$pid")
    // queries run sequentially within one JVM (Verify/Bench both), so the
    // staged-seed check needs no lock — the pid key isolates across JVMs
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(seed, "_SEEDED"))) {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seed))
      DocStore.insertMany(emb.filter(col("vec_id") % 40 =!= 7), s"$seed/src")
      DocStore.compact(s, s"$seed/src", targetFiles = 1, format = Some("parquet"))
      DocStore.cluster(s, s"$seed/src", col("vec_id"), targetFiles = 8,
        statsCols = Seq("vec_id"), bloomCols = Seq("vec_id"))
      graft.streaming.Streams.syncIvfIndex(s, s"$seed/src", s"$seed/idx", model)
      DocStore.insertMany(emb.filter(col("vec_id") % 40 === 7), s"$seed/src")
      DocStore.deleteMany(s, s"$seed/src",
        Some(col("vec_id").between(100L, 119L)), retain = 3)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(seed, "_SEEDED"))
    }
    val work = TmpDirs.cleanupOnExit(
      s"$tmp/graft-$tag-${Integer.toHexString(d.hashCode)}-p$pid")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(seed), new java.io.File(work))
    work
  }
}

object StreamingQuery {
  /** Stage `<d>/<table>.parquet` into a deterministic landing directory
    * (file-stream sources require a DIRECTORY — this simulates the
    * landing layout of a real feed) and return the directory path.
    * Repeat runs skip the copy, but only while size+mtime still match
    * the source: a regenerated table must never be shadowed by a stale
    * staged copy (this is a correctness-gate input). COPY_ATTRIBUTES
    * preserves the source mtime so a fresh copy matches EXACTLY; a `>=`
    * freshness test would keep serving a stale copy when the source was
    * restored from an archive with an older-or-equal mtime.
    *
    * The directory is keyed by JVM (pid) as well as by dataset: two
    * overlapping JVMs (a bench run racing a test run) sharing one stage
    * dir could REPLACE_EXISTING a file out from under the other's
    * in-flight stream read — a transient, non-deterministic failure. Each
    * JVM now stages privately (one copy per process, reused across its
    * own queries) and removes its staging on exit.
    */
  private def stageParquet(d: String, table: String): String = {
    val stage = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-stage-$table-${Integer.toHexString(d.hashCode)}" +
        s"-p${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(stage)
    TmpDirs.cleanupOnExit(stage.toString)
    val source = java.nio.file.Paths.get(s"$d/$table.parquet")
    val target = stage.resolve(s"$table.parquet")
    val fresh = java.nio.file.Files.exists(target) &&
      java.nio.file.Files.size(target) == java.nio.file.Files.size(source) &&
      java.nio.file.Files.getLastModifiedTime(target)
        .compareTo(java.nio.file.Files.getLastModifiedTime(source)) == 0
    if (!fresh)
      java.nio.file.Files.copy(source, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    stage.toString
  }

  /** Open the staged events table as a file stream (shared by the st*
    * event queries).
    */
  private def streamEvents(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val batchSchema = s.read.parquet(s"$d/events.parquet").schema
    val raw = s.readStream.schema(batchSchema).parquet(stageParquet(d, "events"))
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /** Run a stateful streaming drain with the state-store partition count
    * sized to STATE VOLUME instead of the session's compute parallelism.
    * Stream-stream join and windowed-agg state is partitioned by
    * spark.sql.shuffle.partitions at query START (and frozen into the
    * checkpoint thereafter); every micro-batch then pays a per-partition
    * state-store commit, so overpartitioning small state is pure overhead
    * — measured 5.6 s -> 2.5 s on the st5 drain at sf0.1 going 32 -> 8.
    * The right number is a deployment knob (SPARK_GRAFT_STREAM_STATE_
    * PARTITIONS, default 8): at 100x event volume raise it — state should
    * fit per-partition executor memory — and pair it with the RocksDB
    * provider (core.Sessions). Results are partition-count-invariant
    * (exact aggregations, watermark-driven emission), which the gate
    * re-checks at both SFs.
    *
    * The body runs on a CLONE of `s` that carries the value, never on `s`
    * itself: work sharing `s` (a concurrent `Parallel.runAll` job) keeps
    * its own partition count. The drain's memory-sink table and the
    * returned frame live in the clone.
    */
  private def withStatePartitions[T](s: org.apache.spark.sql.SparkSession)(
      f: org.apache.spark.sql.SparkSession => T): T = {
    val clone = org.apache.spark.sql.GraftShims.cloneSession(s)
    clone.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))
    f(clone)
  }

  def hourly(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val events = streamEvents(s, d)
    val name = "st1_out"
    val q = graft.streaming.Streams.windowedCounts(events, watermark = "1 minute")
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("cnt"), col("value_sum"))
      .orderBy("hour", "event_type")
      // materialize before the memory sink table goes away with the query
      .localCheckpoint(true)
  }

  /** Streaming cross-batch dedup (dropDuplicatesWithinWatermark) drained to
    * completion: the retained row per key is arrival-order-dependent, so
    * only the KEY columns are emitted — making the result exactly the batch
    * DISTINCT of the key pair, which the oracle states.
    */
  def dedupPairs(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val events = streamEvents(s, d)
    val name = "st2_out"
    val q = graft.streaming.Streams
      .dedupStream(events, Seq("user_id", "event_type"), watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .select("user_id", "event_type")
      .orderBy("user_id", "event_type")
      .localCheckpoint(true)
  }

  /** Stream-static dimension enrichment drained to completion: per-segment
    * event counts after joining the stream to the static customer dim.
    * Counts only — deterministic whatever the micro-batch arrival order.
    */
  def enrichedSegments(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val events = streamEvents(s, d)
    val dim = s.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val name = "st3_out"
    val q = graft.streaming.Streams
      .enrichWithDim(events, dim, "user_id", "c_custkey")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .select("c_mktsegment", "n_events")
      .orderBy("c_mktsegment")
      .localCheckpoint(true)
  }

  /** THE session-window statement — used verbatim by the batch query (w10)
    * and the streaming drain (st4), so the batch/streaming-equivalence
    * contract is enforced by construction, not by keeping two copies in
    * sync. Works unchanged on a batch or streaming frame (Spark's unified
    * model).
    */
  def sessionAgg(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("value_sum"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("value_sum"))

  /** The one DuckDB oracle both w10 and st4 compare against: islands with a
    * new session at gap >= 30 min — equivalent to session_window because
    * the events data has no gap exactly on the boundary (verified at all
    * SFs); session_start = min(ts), session_end = max(ts) + gap. Two
    * sessions of one user can never share a formatted start second (they
    * are >= 30 min apart), so (user_id, session_start) is a total order.
    */
  val sessionOracleSql: String =
    """SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |       count(*) AS n_events, round(sum(value), 2) AS value_sum
      |FROM (
      |  SELECT user_id, ts, value,
      |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM (
      |    SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |    FROM (SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |                    ORDER BY ts, event_id)) AS gap_us
      |          FROM events)))
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_start""".stripMargin

  /** Streaming session windows drained to completion: [[sessionAgg]] over
    * the file stream. Complete output mode: session state is never
    * dropped, so the final trigger emits every session whatever the
    * micro-batch cut points.
    */
  def sessions(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val name = "st4_out"
    val q = sessionAgg(streamEvents(s, d))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .orderBy("user_id", "session_start")
      .localCheckpoint(true)
  }

  /** Streaming ANN index maintenance drained to completion
    * ([[graft.streaming.Streams.ingestToIvfIndex]]): embeddings stream
    * into a cell-partitioned parquet index (assignment is a broadcast
    * projection from the fit-once model), then the standard fitted-path
    * search serves against the streamed index. The model comes from the
    * SAME process-wide cache e3_ann_ivf uses (Ann.cachedIvf), making
    * their row identity structural; StreamsSpec pins streamed==batch
    * directly. The index dir is deterministic per dataset and rebuilt
    * per run (deleted first) — repeated bench reps cannot accumulate
    * index copies.
    */
  def ivfIngest(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val batchEmb = graft.core.Tables.embeddings(s, d)
    val model = graft.sim.Ann.cachedIvf(d, batchEmb, nCells = 16, lloydIters = 2)
    val stream = s.readStream.schema(batchEmb.schema)
      .parquet(stageParquet(d, "embeddings"))
    val index = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-ivf-index-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}").toString
    TmpDirs.cleanupOnExit(index)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(index))
    val q = graft.streaming.Streams.ingestToIvfIndex(stream, model, index).start()
    try q.processAllAvailable() finally q.stop()
    val cells = s.read.parquet(index)
    graft.sim.Ann.ivfSearch(model, cells,
        batchEmb.filter(col("vec_id") < 10), k = 5, nProbe = 4)
      .select("q_id", "rk", "vec_id")
      .orderBy("q_id", "rk")
      .localCheckpoint(true)
  }

  /** Streaming near-dup detection drained over the documents table split
    * into three file-batches ([[graft.streaming.Streams
    * .ingestToNearDupIndex]]): each batch is matched against everything
    * before it plus itself, then joins the slot-partitioned LSH index —
    * arrival-time dedup for a continuously-fed corpus. The drained match
    * set is batch-cut-invariant on under-cap data (StreamsSpec pins
    * streamed == one-shot equality and replay idempotence), so the query
    * output is deterministic.
    */
  def nearDupIngest(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val docs = graft.core.Tables.documents(s, d).select("doc_id", "text")
    // stage the table as THREE files (three micro-batches) once per
    // dataset content — the fingerprint in the dir name skips the
    // restage on every later run, the stageParquet freshness idiom
    val stage = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-neardup-stage-${Integer.toHexString(d.hashCode)}-" +
        java.lang.Long.toHexString(graft.core.FitCache.fingerprint(d)) +
        s"-p${ProcessHandle.current().pid()}").toString
    TmpDirs.cleanupOnExit(stage)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(stage, "_SUCCESS")))
      docs.repartition(3).write.mode("overwrite").parquet(stage)
    val index = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-neardup-idx-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}").toString
    TmpDirs.cleanupOnExit(index)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(index))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = graft.streaming.Streams
      .ingestToNearDupIndex(stream, index, idCol = "doc_id", textCol = "text",
        k = 3, threshold = 0.5)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$index/matches")
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
      .localCheckpoint(true)
  }

  /** Contamination check ([[graft.streaming.Streams.probeNearDupIndex]]):
    * the mod-3 "training" split of the documents table is streamed into a
    * near-dup index in ONE batch, then the held-out "eval" split is probed
    * against it READ-ONLY — which eval documents are near-duplicates of
    * the training corpus? The probe reuses the ingest path's slot-pruned
    * key reads, bucket caps, and exact-Jaccard verify, but publishes
    * nothing; probe-vs-probe pairs are excluded by construction.
    * StreamsSpec pins probe == a batch LSH reference (including id-
    * collision side resolution) and that the index is byte-untouched.
    */
  def nearDupProbe(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val docs = graft.core.Tables.documents(s, d).select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 3 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 3 === 0)
    val stage = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-probe-stage-${Integer.toHexString(d.hashCode)}-" +
        java.lang.Long.toHexString(graft.core.FitCache.fingerprint(d)) +
        s"-p${ProcessHandle.current().pid()}").toString
    TmpDirs.cleanupOnExit(stage)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(stage, "_SUCCESS")))
      train.coalesce(1).write.mode("overwrite").parquet(stage)
    val index = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-probe-idx-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}").toString
    TmpDirs.cleanupOnExit(index)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(index))
    val stream = s.readStream.schema(docs.schema).parquet(stage)
    val q = graft.streaming.Streams
      .ingestToNearDupIndex(stream, index, idCol = "doc_id", textCol = "text",
        k = 3, threshold = 0.5)
      .start()
    try q.processAllAvailable() finally q.stop()
    graft.streaming.Streams
      .probeNearDupIndex(evalSet, index, idCol = "doc_id", textCol = "text",
        k = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
      .localCheckpoint(true)
  }

  /** CDC-driven near-dup index maintenance
    * ([[graft.streaming.Streams.syncNearDupIndex]]): a DocStore corpus is
    * seeded into a fresh index, an appended batch is matched at arrival
    * time against everything indexed before it, and a source DELETE is
    * followed by an index takedown (keys, shingles, and every match the
    * removed docs participated in) — right-to-be-forgotten as a property
    * of the CDC loop, not a separate workflow. Each poll costs O(changed
    * docs + their candidate buckets), never a corpus rescan, and a
    * crashed poll replays byte-identically (SyncNearDupSpec). Output:
    * the surviving match table.
    */
  def nearDupSync(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = graft.core.Tables.documents(s, d).select("doc_id", "text")
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-ndsync-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}").toString
    TmpDirs.cleanupOnExit(base)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    val src = s"$base/src"; val idx = s"$base/idx"
    def poll() = graft.streaming.Streams.syncNearDupIndex(s, src, idx,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
    graft.sources.DocStore.insertMany(docs.filter(col("doc_id") % 3 === 0), src)
    poll() // seed: one-shot index of the snapshot
    graft.sources.DocStore.insertMany(docs.filter(col("doc_id") % 3 === 1), src)
    poll() // arrival-time matching of the appended batch
    // %11, not %5: the corpus's natural near-dup pairs are sparse and a
    // denser delete removes a member of every surviving pair at sf0.01
    graft.sources.DocStore.deleteMany(s, src, Some(col("doc_id") % 11 === 0))
    poll() // the delete propagates as an index takedown
    s.read.parquet(s"$idx/matches")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
      .localCheckpoint(true)
  }

  /** Streaming conversion-window funnel drained to completion
    * ([[graft.streaming.Streams.funnelStream]]): 25-day window anchored at
    * first signup, 10-minute watermark. Users whose window provably
    * closed (final watermark past t1 + 25d) emit exactly once; younger
    * anchors are withheld — the st9 holdback discipline, restated by the
    * oracle from the data's own max timestamp.
    */
  def funnel(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    import s.implicits._
    val events = streamEvents(s, d)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[graft.streaming.Streams.Event]
    val name = "st10_out"
    val q = graft.streaming.Streams
      .funnelStream(events, windowMs = 25L * 24 * 3600 * 1000)
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    def fmt(c: String) =
      graft.ops.Dates.formatMs23(expr(s"timestamp_millis($c)")).as(c)
    s.table(name)
      .select(col("user_id"), col("stage"), fmt("t1"), fmt("t2"), fmt("t3"), fmt("t4"))
      .orderBy("user_id")
      .localCheckpoint(true)
  }

  /** Stream-stream interval join drained to completion: every event paired
    * with the same user's error events from the preceding 5 minutes. Two
    * independent readers over the same staged directory play the two
    * streams; inner-join matches are emitted exactly once regardless of
    * micro-batch boundaries, so the result equals the batch range join the
    * oracle states.
    */
  def errorPairs(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val events = streamEvents(s, d)
    val errors = streamEvents(s, d)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"),
        col("event_id").as("err_event_id"))
    val name = "st5_out"
    val q = graft.streaming.Streams
      .intervalJoin(events, errors, "user_id", "err_user", "ts", "err_ts",
        windowSpec = "5 minutes")
      .select(col("event_id"), col("err_event_id"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .orderBy("event_id", "err_event_id")
      .localCheckpoint(true)
  }

  /** st5's LEFT OUTER variant: every event row survives; unmatched rows
    * carry a null err_event_id once the watermark has evicted them (see
    * [[graft.streaming.Streams.intervalJoinOuter]]). Events younger than
    * the final watermark (max ts - 10 minutes) are deterministically
    * withheld at end-of-stream — the oracle restates that boundary from
    * the data.
    */
  def errorPairsOuter(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = withStatePartitions(s) { s =>
    val events = streamEvents(s, d)
    val errors = streamEvents(s, d)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"),
        col("event_id").as("err_event_id"))
    val name = "st9_out"
    val q = graft.streaming.Streams
      .intervalJoinOuter(events, errors, "user_id", "err_user", "ts", "err_ts",
        windowSpec = "5 minutes")
      .select(col("event_id"), col("err_event_id"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // outer rows emit on EVICTION, which happens in the no-data batch
      // AFTER the data batch that advanced the watermark — wait for that
      // flush batch to commit before reading the sink
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (System.nanoTime < deadline &&
             !q.recentProgress.exists(p => p.numInputRows == 0 && p.batchId > 0))
        Thread.sleep(50)
      q.processAllAvailable()
    } finally q.stop()
    s.table(name)
      .orderBy(col("event_id"), col("err_event_id").asc_nulls_first)
      .localCheckpoint(true)
  }

  /** Streaming CMS maintenance drained to completion, then probed: the
    * sketch accumulated across micro-batches must estimate every key
    * exactly at this generous geometry (the a14 determinism argument —
    * merge order cannot matter because merged cells are plain sums), so
    * the oracle is the plain batch count per key.
    */
  def cmsCounts(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val events = streamEvents(s, d)
    val (q, sketch) = graft.streaming.Streams
      .maintainCms(events, "user_id", depth = 4, width = 8192)
    try q.processAllAvailable() finally q.stop()
    val cands = s.read.parquet(s"$d/events.parquet")
      .select(col("user_id")).distinct()
    graft.ops.Sketch.cmsEstimate(sketch(), cands, "user_id")
      .orderBy("user_id")
      .localCheckpoint(true)
  }

  /** Streaming HLL registers drained to completion: the register table
    * folded across micro-batches equals the batch build EXACTLY (register
    * max is order- and replay-immune), so the estimate is the batch
    * estimate — deterministic, but the hashing has no DuckDB twin, so the
    * gate records rows-only and StreamsSpec pins merged == batch.
    */
  def streamHll(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val events = streamEvents(s, d)
    val (q, snap) = graft.streaming.Streams.maintainHll(events, "user_id", p = 12)
    try q.processAllAvailable() finally q.stop()
    val sk = snap()
    graft.ops.Hll.hllEstimate(sk)
      .crossJoin(sk.registers.agg(
        count(lit(1)).as("n_registers"), sum("max_rho").as("rho_sum")))
      .localCheckpoint(true)
  }

  /** Streaming quantile sketch drained to completion: per-batch bounded
    * sketches merged on the driver ([[graft.streaming.Streams
    * .maintainQuantileSketch]]); the snapshot answers the full prob grid
    * without ever re-reading the stream. Values are merge-order-sensitive
    * (a23's contract) -> rows-only; StreamsSpec pins streamed n == batch
    * n exactly and rank error vs the exact sort.
    */
  def streamQuantiles(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val events = streamEvents(s, d)
    val (q, snap) = graft.streaming.Streams
      .maintainQuantileSketch(events.select(col("value")), "value", k = 256)
    try q.processAllAvailable() finally q.stop()
    val b = snap()
    Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      .map(p => (p, BigDecimal(b.quantile(p))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, b.n))
      .toDF("p", "est", "n")
      .orderBy("p")
      .localCheckpoint(true)
  }

  /** st12's read-side twin: the stream STORES one bounded sketch row per
    * micro-batch ([[graft.streaming.Streams.storeQuantileSketches]]);
    * serving is then PURE SQL over that table —
    * `sketch_quantiles(quantile_sketch_merge(sk), probs)` +
    * `sketch_count` — the build-once/query-many percentile shape as a
    * registered query rather than a driver-held buffer: any session can
    * answer any probe list later without rescanning the stream's rows.
    */
  def streamStoredQuantiles(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val events = streamEvents(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-sketchtab").toString
    val q = graft.streaming.Streams
      .storeQuantileSketches(events.select(col("value")), "value", dir, k = 256)
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(dir).createOrReplaceTempView("sketch_table_v")
    s.sql(
      """SELECT element_at(array(0.1D, 0.25D, 0.5D, 0.75D, 0.9D), i + 1) AS p,
        |       round(est, 2) AS est, n
        |FROM (
        |  SELECT posexplode(sketch_quantiles(m, array(0.1D, 0.25D, 0.5D, 0.75D, 0.9D))) AS (i, est),
        |         sketch_count(m) AS n
        |  FROM (SELECT quantile_sketch_merge(sk) AS m FROM sketch_table_v))
        |ORDER BY p""".stripMargin)
      .localCheckpoint(true)
  }

  /** Streamed KMV sketch store served after the drain: documents arrive
    * in three micro-batches, each writes one bounded (source, mins)
    * sketch row per group ([[graft.streaming.Streams.storeKmvSketches]]),
    * and the read side merges per group + estimates. Because KMV merge
    * is a pure set operation, the merged estimate is BIT-IDENTICAL to
    * the one-shot batch build — so this streaming query carries a25's
    * full DuckDB oracle, which no order-sensitive sketch (quantiles,
    * st13) can.
    */
  def streamStoredKmv(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = graft.core.Tables.documents(s, d).select("source", "text")
    val stage = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-kmv-stage-${Integer.toHexString(d.hashCode)}-" +
        java.lang.Long.toHexString(graft.core.FitCache.fingerprint(d)) +
        s"-p${ProcessHandle.current().pid()}").toString
    TmpDirs.cleanupOnExit(stage)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(stage, "_SUCCESS")))
      docs.repartition(3).write.mode("overwrite").parquet(stage)
    val dir = java.nio.file.Files.createTempDirectory("graft-kmvtab").toString
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .select(col("source"), explode(graft.functions.functions.ngrams(
        split(lower(trim(col("text"))), "\\s+"), 3)).as("g"))
      .select(col("source"), graft.ops.Kmv.hashKey(col("g")).as("hv"))
    val q = graft.streaming.Streams
      .storeKmvSketches(stream, "source", "hv", dir, k = 256)
    try q.processAllAvailable() finally q.stop()
    val merged = graft.ops.Kmv.mergeSketches(
      s.read.parquet(dir).select("grp", "mins"), k = 256)
    graft.ops.Kmv.estimateDistinct(merged, k = 256)
      .withColumnRenamed("grp", "source")
      .orderBy("source")
      .localCheckpoint(true)
  }

  /** Streaming heavy hitters drained to completion, then verified: the
    * driver-held Misra-Gries summary folded across micro-batches provably
    * retains every key at the threshold (mergeable-summaries guarantee),
    * so the exact verify pass over the at-rest table returns exactly the
    * plain GROUP BY ... HAVING answer — the a16 contract maintained
    * incrementally.
    */
  def streamTopK(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val events = streamEvents(s, d)
    val (q, snap) = graft.streaming.Streams
      .maintainHeavyHitters(events, "user_id", budget = 128)
    try q.processAllAvailable() finally q.stop()
    snap().exactHeavyHitters(
        s.read.parquet(s"$d/events.parquet"), "user_id", minFraction = 0.008)
      .orderBy("user_id")
      .localCheckpoint(true)
  }
}

/** Operators the reference never needed but Spark exposes for free
  * (SURVEY.md §2.6 note: "our engine gets grouping sets/cube/rollup and
  * approx_count_distinct for free if we expose them") — exposed and
  * oracle-checked here, plus window/regexp surface the §2.7/§2.9 families
  * imply.
  */
object Extras {

  /** The shared clustered-COW seed store of the d8/d10/d11/d12/x30
    * scripts — `documents(doc_id, lang, n_chars)` compacted then
    * clustered into 8 doc_id-statted files — staged once per JVM
    * (pid-keyed `_SEEDED` marker), plus a FRESH work copy per call so
    * every run mutates deterministic state. One builder on purpose: all
    * five queries trust the same marker, so a geometry change (target
    * file count, statsCols) edited into a per-query copy would silently
    * serve mismatched seed content to whichever query runs second in the
    * JVM. Returns the work copy's store path.
    */
  private def cowWorkStore(s: org.apache.spark.sql.SparkSession, d: String,
                           runTag: String): String = {
    import graft.sources.DocStore
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val pid = ProcessHandle.current().pid()
    val seed = TmpDirs.cleanupOnExit(
      s"$tmp/graft-cowseed-${Integer.toHexString(d.hashCode)}-p$pid")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(seed, "_SEEDED"))) {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seed))
      val store = s"$seed/store"
      DocStore.insertMany(docs, store)
      DocStore.compact(s, store, targetFiles = 1, format = Some("parquet"))
      DocStore.cluster(s, store, col("doc_id"), targetFiles = 8,
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(seed, "_SEEDED"))
    }
    val work = TmpDirs.cleanupOnExit(
      s"$tmp/graft-$runTag-${Integer.toHexString(d.hashCode)}-p$pid")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(seed), new java.io.File(work))
    s"$work/store"
  }

  val defs: Seq[(String, Entry)] = Seq(

    // ---- rollup: hierarchical subtotals (nulls mark rolled-up levels)
    "a6_rollup" -> withOracle(
      (s, d) =>
        Tables.lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    // ---- cube: all subtotal combinations
    "a7_cube" -> withOracle(
      (s, d) =>
        Tables.orders(s, d)
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("price_sum"))
          .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS price_sum
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    // ---- intersect (completes the U-family alongside u1/u2)
    "u3_intersect" -> withOracle(
      (s, d) =>
        Tables.customer(s, d).select("c_nationkey").distinct()
          .intersect(Tables.supplier(s, d)
            .select(col("s_nationkey").as("c_nationkey")).distinct())
          .orderBy("c_nationkey"),
      """SELECT c_nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY 1""".stripMargin),

    // ---- first/last value over an explicit full frame
    "w5_first_last" -> withOracle(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .select(col("event_id"),
            first("event_type").over(w).as("first_type"),
            last("event_type").over(w).as("last_type"))
          .orderBy("event_id")
      },
      """SELECT event_id,
        |       first_value(event_type) OVER w AS first_type,
        |       last_value(event_type)  OVER w AS last_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin),

    // ---- ntile bucketing under a total order — distributed: a bare
    //      Window.orderBy would funnel the whole table through ONE task;
    //      Ranks.ntileSpread range-partitions the order instead (two-pass
    //      offset rank). No-SinglePartition pinned in PlanQualitySpec.
    "w6_ntile" -> withOracle(
      (s, d) =>
        graft.ops.Ranks.ntileSpread(
            Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
            4, Seq(col("o_totalprice").desc, col("o_orderkey")),
            out = "price_quartile")
          .select("o_orderkey", "price_quartile")
          .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |       CAST(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
        |         AS price_quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ---- RANGE-interval frame: trailing-1-hour event count per user.
    //      Both engines order by the SAME floored epoch seconds — Spark's
    //      timestamp->long cast truncates, but DuckDB's CAST(epoch(ts) AS
    //      BIGINT) ROUNDS (1.7s -> 2), so the oracle must floor(epoch(ts))
    //      explicitly or fractional-second events near a frame boundary
    //      would disagree on membership. Count-only keeps the result
    //      independent of within-frame accumulation order.
    "w8_range_frame" -> withOracle(
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").cast("long")).rangeBetween(-3599, 0)
        Tables.events(s, d)
          .select(col("event_id"), count(lit(1)).over(w).as("n_trailing"))
          .orderBy("event_id")
      },
      """SELECT event_id,
        |       count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |         RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS n_trailing
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- rank distributions: percent_rank ((rank-1)/(n-1)) and cume_dist
    //      (rows<=current / n) are exact small-integer ratios — bit-equal
    //      doubles in both engines under the same total order
    "w9_rank_dist" -> withOracle(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_id"),
            percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
          .orderBy("event_id")
      },
      """SELECT event_id,
        |       percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // ---- gaps-and-islands over per-user event sequences: contiguous
    //      event_id runs collapse to one island row (start, end, length),
    //      the lag-difference restatement — sequence-completeness
    //      auditing (did ingestion drop ids?) as one window + one agg,
    //      shuffled once by user.
    "x25_gaps_islands" -> withOracle(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"))
          .withColumn("prev", lag("event_id", 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull || col("event_id") =!= col("prev") + 1, 1)
              .otherwise(0))
          .withColumn("island",
            sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "island")
          .agg(min("event_id").as("island_start"),
               max("event_id").as("island_end"),
               count(lit(1)).as("island_len"))
          .select("user_id", "island_start", "island_end", "island_len")
          .orderBy("user_id", "island_start")
      },
      """WITH r AS (
        |  SELECT user_id, event_id,
        |         lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |           AS prev
        |  FROM events),
        |b AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN prev IS NULL OR event_id <> prev + 1
        |              THEN 1 ELSE 0 END AS brk
        |  FROM r),
        |i AS (
        |  SELECT user_id, event_id,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS island
        |  FROM b)
        |SELECT user_id, min(event_id) AS island_start,
        |       max(event_id) AS island_end,
        |       CAST(count(*) AS BIGINT) AS island_len
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id, island_start""".stripMargin),

    // ---- GLOBAL percent_rank/cume_dist without the single-partition
    //      window both would naively plan (w9 is the partitioned form):
    //      under a total order cume_dist == rn/n and percent_rank ==
    //      (rn-1)/(n-1), so the distributed rank (ops.Ranks) plus two
    //      exact-integer divisions — bit-equal doubles in both engines —
    //      replace the order-by-everything window. n==1 degenerates to
    //      0/1, matching SQL's defined percent_rank of 0.
    "w11_rank_fracs" -> withOracle(
      (s, d) => {
        val (ranked, n) = graft.ops.Ranks.withGlobalRowNumber(
          Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice"), col("o_orderkey")), "rn")
        val den = math.max(n - 1, 1L).toDouble
        ranked.select(col("o_orderkey"),
            ((col("rn") - 1).cast("double") / lit(den)).as("pr"),
            (col("rn").cast("double") / lit(n.toDouble)).as("cd"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey,
        |       percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr,
        |       cume_dist() OVER (ORDER BY o_totalprice, o_orderkey) AS cd
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ---- regexp extraction (X-family extension)
    "x17_regexp_extract" -> withOracle(
      (s, d) =>
        Tables.part(s, d)
          .withColumn("first_word", regexp_extract(col("p_name"), "^(\\w+)", 1))
          .groupBy("first_word").agg(count(lit(1)).as("cnt"))
          .orderBy("first_word"),
      """SELECT regexp_extract(p_name, '^(\w+)', 1) AS first_word, count(*) AS cnt
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- HLL approximate distinct: algorithms differ across engines, so
    //      rows-only; exactness bound pinned in ScalaTest instead
    "a8_approx_distinct" -> rowsOnly(
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct("l_partkey").as("approx_parts"),
               count(lit(1)).as("cnt"))
          .orderBy("l_returnflag")),

    // ---- salted two-phase aggregation: spreads a hot grouping key over
    //      16 reducers; the oracle is the PLAIN group-by — salting must be
    //      result-invariant
    "a9_salted_agg" -> withOracle(
      (s, d) =>
        graft.ops.Skew.saltedSumCount(Tables.lineitem(s, d),
            keys = Seq("l_returnflag"), valueCol = "l_quantity",
            saltCol = col("l_orderkey"))
          .select(col("l_returnflag"), round(col("sum_value"), 2).as("sum_qty"),
                  col("cnt"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- salted JOIN under a hot key: dim replicates once per salt,
    //      fact salts by row identity, join runs on (key, salt) so the
    //      hot key spreads over 8 reducers. Result — and the oracle —
    //      are exactly the plain inner join.
    "j12_salted_join" -> withOracle(
      (s, d) =>
        graft.ops.Skew.saltedJoin(
            Tables.lineitem(s, d).withColumnRenamed("l_orderkey", "o_orderkey"),
            Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
            keys = Seq("o_orderkey"), identityCol = col("l_partkey"),
            saltBuckets = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
          .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- snapshot diff (CDC): added/removed/changed keys between two
    //      deterministic derivations of customer. +10 on a double and the
    //      inequality compare are exact binary ops in both engines.
    "d3_snapshot_diff" -> withOracle(
      (s, d) => {
        val cust = Tables.customer(s, d)
        val old = cust.filter(col("c_custkey") % 13 =!= 0)
        val neu = cust.filter(col("c_custkey") % 11 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + 10)
              .otherwise(col("c_acctbal")))
        graft.ops.Diff.snapshotDiff(old, neu, Seq("c_custkey"), Seq("c_acctbal"))
          .orderBy("c_custkey")
      },
      """WITH old AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 13 <> 0),
        |new AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 11 <> 0)
        |SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
        |       CASE WHEN o.c_custkey IS NULL THEN 'added'
        |            WHEN n.c_custkey IS NULL THEN 'removed'
        |            ELSE 'changed' END AS change_type
        |FROM old o FULL JOIN new n ON o.c_custkey = n.c_custkey
        |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR o.c_acctbal <> n.c_acctbal
        |ORDER BY c_custkey""".stripMargin),

    // ---- incremental aggregate maintenance: merging a delta's partial
    //      aggregate into a stored aggregate must equal re-aggregating
    //      everything (the oracle states the full aggregation)
    "inc1_merge_agg" -> withOracle(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        def aggOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("l_returnflag")
            .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
        graft.ops.Incremental.mergeAggregate(
            aggOf(li.filter(col("l_orderkey") % 2 === 0)),
            aggOf(li.filter(col("l_orderkey") % 2 === 1)),
            keys = Seq("l_returnflag"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- incremental JOIN-view maintenance (classic IVM delta algebra):
    //      with both sides split into base + delta, the view's new rows
    //      are exactly dA⋈B0 ∪ A0⋈dB ∪ dA⋈dB — three delta-sized joins
    //      instead of re-joining 100 TB of history. Folding their partial
    //      aggregate into the stored aggregate must equal the full
    //      recompute, which is what the oracle states.
    "inc2_delta_join" -> withOracle(
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        val o0 = o.filter(col("o_orderkey") % 4 =!= 0)
        val dO = o.filter(col("o_orderkey") % 4 === 0)
        val l0 = li.filter(col("l_orderkey") % 3 =!= 0)
        val dL = li.filter(col("l_orderkey") % 3 === 0)
        def j(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
          a.join(b, col("o_orderkey") === col("l_orderkey"))
        def aggOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("o_orderpriority")
            .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
        graft.ops.Incremental.mergeAggregate(
            aggOf(j(o0, l0)),
            aggOf(graft.ops.Incremental.deltaJoin(o0, dO, l0, dL)(j)),
            keys = Seq("o_orderpriority"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, sum(l_quantity) AS sum_qty, count(*) AS cnt
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- incremental AGGREGATE-view maintenance over DocStore cursor
    //      CDC (DocStore.syncAggregate — the update/delete-capable IVM
    //      that inc1/inc2's insert-only algebra cannot express): a
    //      collection is seeded, appended to, updated, and deleted from,
    //      with a CDC poll maintaining a per-lang (cnt, sum_n_chars) view
    //      after each mutation — each poll costs O(delta + view), never a
    //      source rescan, and the consumed cursor commits ATOMICALLY with
    //      the view (exactly-once; SyncAggregateSpec pins crash-repoll).
    //      FULLY ORACLED: the mutation script is deterministic, so DuckDB
    //      restates the final corpus state and aggregates it directly —
    //      the gate proves four incremental polls converged to the true
    //      aggregate, integer-exact.
    "d6_sync_aggregate" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val base = java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-syncagg-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}").toString
        TmpDirs.cleanupOnExit(base)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
        val src = s"$base/src"; val dst = s"$base/agg"
        def poll(): Unit =
          DocStore.syncAggregate(s, src, dst, "doc_id", "lang", Seq("n_chars"))
        DocStore.insertMany(docs.filter(col("doc_id") % 3 =!= 2), src)
        poll() // seed
        DocStore.insertMany(docs.filter(col("doc_id") % 3 === 2), src)
        poll() // append window: reads only the appended files
        DocStore.updateMany(s, src, col("doc_id") % 7 === 0,
          Map("n_chars" -> (col("n_chars") + 100)))
        poll() // rewrite window: signed before/after deltas
        DocStore.deleteMany(s, src, Some(col("doc_id") % 5 === 0))
        poll() // deletes shrink groups
        DocStore.find(s, dst)
          .select(col("lang"), col("cnt"), col("sum_n_chars"))
          .orderBy("lang")
      },
      """SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(n_chars + CASE WHEN doc_id % 7 = 0 THEN 100 ELSE 0 END)
        |         AS BIGINT) AS sum_n_chars
        |FROM documents WHERE doc_id % 5 <> 0
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- d6's STEADY-STATE twin: d6 benches its whole mutation script
    //      (4 mutations + 4 polls — mostly DocStore rewrite cost), which
    //      is honest machinery but not the O(delta) claim. This benches
    //      ONE delta append + ONE incremental poll against a pre-seeded
    //      store (seed staged once per JVM, keyed by pid — min-of-3
    //      discards the seeding run; each run works on a fresh copy so
    //      repeats are deterministic). FULLY ORACLED: seed + delta = the
    //      whole corpus, so the view must equal DuckDB's direct aggregate.
    "d6b_sync_poll" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
        val pid = ProcessHandle.current().pid()
        val seed = TmpDirs.cleanupOnExit(
          s"$tmp/graft-syncaggseed-${Integer.toHexString(d.hashCode)}-p$pid")
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(seed, "_SEEDED"))) {
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seed))
          DocStore.insertMany(docs.filter(col("doc_id") % 10 =!= 0), s"$seed/src")
          DocStore.syncAggregate(s, s"$seed/src", s"$seed/agg",
            "doc_id", "lang", Seq("n_chars"))
          java.nio.file.Files.createFile(java.nio.file.Paths.get(seed, "_SEEDED"))
        }
        val work = TmpDirs.cleanupOnExit(
          s"$tmp/graft-syncaggpoll-${Integer.toHexString(d.hashCode)}-p$pid")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(seed), new java.io.File(work))
        // the steady state: a 10% delta lands, one poll folds it in —
        // reads ONLY the appended files plus the view-sized aggregate
        DocStore.insertMany(docs.filter(col("doc_id") % 10 === 0), s"$work/src")
        DocStore.syncAggregate(s, s"$work/src", s"$work/agg",
          "doc_id", "lang", Seq("n_chars"))
        DocStore.find(s, s"$work/agg")
          .select(col("lang"), col("cnt"), col("sum_n_chars"))
          .orderBy("lang")
      },
      """SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- file-granular copy-on-write mutations (DocStore `_LINKS`):
    //      a clustered+statted store takes two SELECTIVE mutations — the
    //      stats prune the rewrite set to the files that may match, the
    //      rest carries forward by reference, so each mutation costs
    //      O(matched files) instead of a corpus rewrite (DocStoreCowSpec
    //      pins rewritten-bytes < snapshot). Store built once per JVM
    //      (pid-keyed stage); each run mutates a fresh copy, so the
    //      measured time IS the COW mutation path. FULLY ORACLED: the
    //      script is deterministic, DuckDB restates the final corpus.
    "d8_cow_update" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val store = cowWorkStore(s, d, "cowrun")
        // both filters prune on the clustered doc_id stats: ~1 of 8 files
        // rewritten per mutation, 7 carried by reference
        DocStore.updateMany(s, store, col("doc_id").between(10L, 29L),
          Map("n_chars" -> (col("n_chars") + lit(50L))), retain = 3)
        DocStore.deleteMany(s, store,
          Some(col("doc_id").between(40L, 49L)), retain = 3)
        DocStore.find(s, store)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang,
        |       CAST(n_chars + CASE WHEN doc_id BETWEEN 10 AND 29
        |                           THEN 50 ELSE 0 END AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id NOT BETWEEN 40 AND 49
        |ORDER BY doc_id""".stripMargin),

    // ---- incremental COW vacuum end-to-end (DocStore.vacuum): four
    //      selective mutations fragment the clustered home generation's
    //      live fraction, vacuum re-homes its still-live files (reading
    //      ONLY them — the dead versions are never read), two further
    //      mutations slide the retention window so the home's bytes
    //      actually free — and the corpus stays row-exact throughout.
    //      FULLY ORACLED: vacuum is row-preserving and the mutation
    //      script is deterministic, so DuckDB restates the final corpus.
    //      minLiveFraction = 0.9 rather than the 0.5 default so the
    //      re-home fires at every SF (file count is fixed at 8 while the
    //      rows per file scale, so the touched-file fraction varies).
    "d10_cow_vacuum" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val store = cowWorkStore(s, d, "vacrun")
        Seq((10L, 29L), (130L, 149L)).foreach {
          case (lo, hi) => DocStore.updateMany(s, store,
            col("doc_id").between(lo, hi),
            Map("n_chars" -> (col("n_chars") + lit(50L))))
        }
        DocStore.vacuum(s, store, minLiveFraction = 0.9)
        DocStore.deleteMany(s, store, Some(col("doc_id").between(250L, 259L)))
        DocStore.updateMany(s, store, col("doc_id").between(300L, 309L),
          Map("n_chars" -> (col("n_chars") + lit(7L))))
        DocStore.find(s, store)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang,
        |       CAST(n_chars
        |            + CASE WHEN doc_id BETWEEN 10 AND 29 THEN 50
        |                   WHEN doc_id BETWEEN 130 AND 149 THEN 50
        |                   WHEN doc_id BETWEEN 300 AND 309 THEN 7
        |                   ELSE 0 END AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id NOT BETWEEN 250 AND 259
        |ORDER BY doc_id""".stripMargin),

    // ---- incremental clustering maintenance end-to-end
    //      (DocStore.recluster): a COW delete opens a hole in the
    //      clustered corpus, a same-range append refills it — the fresh
    //      file's key range overlaps the survivors' and locality decays;
    //      recluster merges exactly that overlap group (O(overlapping
    //      bytes), everything else carried by _LINKS) and restores
    //      per-file range disjointness. FULLY ORACLED: recluster is
    //      row-preserving and the churn script is deterministic, so
    //      DuckDB restates the final corpus.
    "d11_recluster" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val store = cowWorkStore(s, d, "reclrun")
        DocStore.deleteMany(s, store, Some(col("doc_id").between(100L, 119L)))
        DocStore.insertMany(
          docs.filter(col("doc_id").between(400L, 419L))
            .withColumn("doc_id", col("doc_id") - lit(300L))
            .repartition(1),
          store)
        val merged = DocStore.recluster(s, store, "doc_id")
        require(merged > 0L,
          s"d11: the refilled range should have decayed clustering ($merged)")
        DocStore.find(s, store)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id NOT BETWEEN 100 AND 119
        |  UNION ALL
        |  SELECT CAST(doc_id - 300 AS BIGINT) AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id BETWEEN 400 AND 419
        |) ORDER BY doc_id""".stripMargin),

    // ---- metadata-exact aggregates (DocStore.minMaxFast, countFast's
    //      sibling — the table-format "aggregate pushdown to manifests"
    //      shape): doc_id bounds come from the stats sidecar with zero
    //      data IO (including the appended file's incremental stats row),
    //      lang/n_chars were never statted so exactly they scan — the
    //      hybrid is exact either way. FULLY ORACLED: plain min/max over
    //      the deterministic corpus.
    "d12_minmax_fast" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val store = cowWorkStore(s, d, "minmaxrun")
        // the append extends the doc_id range; its incremental stats row
        // keeps the doc_id bounds metadata-served
        DocStore.insertMany(
          docs.filter(col("doc_id") < 10L)
            .withColumn("doc_id", col("doc_id") + lit(1000000L))
            .repartition(1),
          store)
        DocStore.minMaxFast(s, store, Seq("doc_id", "lang", "n_chars"))
      },
      """WITH c AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars FROM documents
        |  WHERE doc_id < 10)
        |SELECT CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        |       CAST(max(doc_id) AS BIGINT) AS max_doc_id,
        |       min(lang) AS min_lang, max(lang) AS max_lang,
        |       CAST(min(n_chars) AS BIGINT) AS min_n_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_n_chars
        |FROM c""".stripMargin),

    // ---- corpus mutations from PURE SQL (docstore_update /
    //      docstore_delete TVFs): the same COW mutation script as d8,
    //      driven through the SQL surface — each statement carries an
    //      idempotence TOKEN, so an analyzer double-evaluation or an
    //      orchestrator retry replays as a no-op returning the recorded
    //      count (SqlMutationSpec pins SQL == API state identity and
    //      token idempotence). FULLY ORACLED: DuckDB restates the final
    //      corpus, same statement as d8's oracle.
    "x30_sql_docstore_update" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val store = cowWorkStore(s, d, "sqlmutrun")
        s.sql(s"SELECT * FROM docstore_update('$store', 'x30-upd', " +
          "'doc_id BETWEEN 10 AND 29', 'n_chars', 'n_chars + 50L')").collect()
        s.sql(s"SELECT * FROM docstore_delete('$store', 'x30-del', " +
          "'doc_id BETWEEN 40 AND 49')").collect()
        DocStore.find(s, store)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang,
        |       CAST(n_chars + CASE WHEN doc_id BETWEEN 10 AND 29
        |                           THEN 50 ELSE 0 END AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id NOT BETWEEN 40 AND 49
        |ORDER BY doc_id""".stripMargin),

    // ---- metadata-only schema evolution end-to-end (DocStore.addColumn /
    //      dropColumn + the widening-COW $set): ADD a column (rowless
    //      commit, every file carried), backfill a slice through the COW
    //      mutation path — the int -> long $set widens the committed
    //      schema while 7 of 8 files stay carried at their narrow
    //      physical type — then DROP a column, also metadata-only. Zero
    //      data bytes rewritten except the one matched file; at 100 TB a
    //      rewrite-based ALTER is a cluster-day. FULLY ORACLED: the DDL
    //      script is deterministic, DuckDB restates the final corpus.
    "d13_schema_evolve" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val store = cowWorkStore(s, d, "ddlrun")
        DocStore.addColumn(s, store, "flag",
          org.apache.spark.sql.types.IntegerType)
        DocStore.updateMany(s, store, col("doc_id").between(10L, 29L),
          Map("flag" -> lit(1L))) // int -> long: the widening-COW path
        DocStore.dropColumn(s, store, "lang")
        DocStore.find(s, store)
          .select(col("doc_id"), col("n_chars"), col("flag"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CASE WHEN doc_id BETWEEN 10 AND 29
        |            THEN CAST(1 AS BIGINT) ELSE NULL END AS flag
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- the whole maintenance triad as ONE policy call
    //      (DocStore.maintain): two overlapping-range appends and a COW
    //      mutation decay the clustered store's file count, disjointness,
    //      and live fraction; one maintain() restores all three — tail
    //      merge at O(tail bytes), recluster at O(overlapping bytes),
    //      vacuum at O(reclaimed live bytes) — and the corpus stays
    //      row-exact. The operator cron for a mutating 100 TB corpus is
    //      this one idempotent call. FULLY ORACLED: every leg is
    //      row-preserving and the churn is deterministic, so DuckDB
    //      restates the final corpus.
    "d14_maintain" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val store = cowWorkStore(s, d, "maintrun")
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val extra = docs
          .withColumn("lang", lit("zz"))
          .withColumn("n_chars", col("n_chars") + lit(1L))
        // two appends spanning the whole clustered key range: the tail
        // grows AND every appended file overlaps every clustered one
        DocStore.insertMany(
          extra.filter(col("doc_id") % 97 === 0).repartition(1), store)
        DocStore.insertMany(
          extra.filter(col("doc_id") % 89 === 0).repartition(1), store)
        DocStore.updateMany(s, store, col("doc_id").between(10L, 29L),
          Map("n_chars" -> (col("n_chars") + lit(50L))))
        val r = DocStore.maintain(s, store, keyCol = Some("doc_id"),
          maxDataFiles = 8, smallBytes = 1L << 20,
          maxOverlapping = 0, minLiveFraction = 0.9)
        require(r.compacted || r.reclustered,
          s"d14: the churn should have tripped the policy ($r)")
        DocStore.find(s, store)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id", "lang", "n_chars")
      },
      """WITH c AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'zz' AS lang, n_chars + 1 AS n_chars
        |  FROM documents WHERE doc_id % 97 = 0
        |  UNION ALL
        |  SELECT doc_id, 'zz' AS lang, n_chars + 1 AS n_chars
        |  FROM documents WHERE doc_id % 89 = 0
        |)
        |SELECT doc_id, lang,
        |       CAST(n_chars + CASE WHEN doc_id BETWEEN 10 AND 29
        |                           THEN 50 ELSE 0 END AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id, lang, n_chars""".stripMargin),

    // ---- declarative data-quality expectations (ops.Expect): all
    //      row-local rules fold into ONE aggregate over ONE scan;
    //      uniqueness is a (count, count-distinct) pair; referential
    //      rules are anti-join counts. Two rules fail by construction
    //      (l_orderkey repeats across lines; the shrunk part dimension
    //      misses most keys) so the pass/fail path is exercised, not just
    //      the all-green one.
    "ex1_expectations" -> withOracle(
      (s, d) => {
        import graft.ops.Expect._
        val li = Tables.lineitem(s, d)
        check(li, Seq(
            NotNull("l_returnflag"),
            InRange("l_quantity", 1, 50),
            InSet("l_returnflag", Seq("A", "N", "R")),
            Satisfies("price_positive", col("l_extendedprice") > 0),
            Unique(Seq("l_orderkey")),
            RefIntegrity("ref_orders", "l_orderkey",
              Tables.orders(s, d), "o_orderkey"),
            RefIntegrity("ref_small_part", "l_partkey",
              Tables.part(s, d).filter(col("p_partkey") <= 300), "p_partkey")))
          .orderBy("rule")
      },
      """WITH t AS (SELECT count(*) AS total FROM lineitem)
        |SELECT rule, CAST(violations AS BIGINT) AS violations,
        |       CAST(total AS BIGINT) AS total,
        |       CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INTEGER) AS pass
        |FROM (
        |  SELECT 'not_null_l_returnflag' AS rule,
        |         (SELECT count(*) FROM lineitem WHERE l_returnflag IS NULL) AS violations,
        |         total FROM t
        |  UNION ALL SELECT 'range_l_quantity',
        |         (SELECT count(*) FROM lineitem
        |          WHERE NOT COALESCE(l_quantity >= 1 AND l_quantity <= 50, false)), total FROM t
        |  UNION ALL SELECT 'in_set_l_returnflag',
        |         (SELECT count(*) FROM lineitem
        |          WHERE NOT COALESCE(l_returnflag IN ('A','N','R'), false)), total FROM t
        |  UNION ALL SELECT 'price_positive',
        |         (SELECT count(*) FROM lineitem
        |          WHERE NOT COALESCE(l_extendedprice > 0, false)), total FROM t
        |  UNION ALL SELECT 'unique_l_orderkey',
        |         (SELECT count(*) - count(DISTINCT l_orderkey) FROM lineitem), total FROM t
        |  UNION ALL SELECT 'ref_orders',
        |         (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |          ON l.l_orderkey = o.o_orderkey
        |          WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL), total FROM t
        |  UNION ALL SELECT 'ref_small_part',
        |         (SELECT count(*) FROM lineitem
        |          WHERE l_partkey IS NOT NULL
        |            AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey <= 300)),
        |         total FROM t)
        |ORDER BY rule""".stripMargin),

    // ---- SCD2 interval building: each event is valid until the user's
    //      next event (open-ended null for the latest). (user_id, ts) is
    //      unique in the data and event_id breaks any future tie, so the
    //      lead window is fully deterministic; ms formatting truncates
    //      identically in both engines (the x8 pattern).
    "scd1_intervals" -> withOracle(
      (s, d) =>
        graft.ops.Scd.intervals(Tables.events(s, d), keys = Seq("user_id"),
            orderCols = Seq(col("ts"), col("event_id")), validFromCol = "ts")
          .select(col("user_id"), col("event_id"),
            graft.ops.Dates.formatMs23(col("valid_from")).as("valid_from"),
            graft.ops.Dates.formatMs23(col("valid_to")).as("valid_to"))
          .orderBy("user_id", "event_id"),
      """SELECT user_id, event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS valid_from,
        |       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |                '%Y-%m-%d %H:%M:%S.%g') AS valid_to
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    // ---- fuzzy join (lossless PassJoin segment blocking + threshold
    //      levenshtein verify): probes are deterministic one-char-dropped
    //      part names (every 10th part — TPC-H names are an adversarial
    //      half-segment-collision worst case, see FuzzyJoin's Scaladoc),
    //      so every probe matches its origin at distance 1 and possibly
    //      near-identical siblings. The oracle states the brute-force
    //      cross form; the engine never materializes the cross product.
    "j13_fuzzy_match" -> withOracle(
      (s, d) => {
        val part = Tables.part(s, d)
        val probes = part.filter(col("p_partkey") % 10 === 0)
          .select(col("p_partkey").as("probe_key"),
            expr("substr(p_name, 2)").as("probe"))
        graft.ops.FuzzyJoin.levenshteinJoin(
            part.select("p_partkey", "p_name"), probes,
            leftCol = "p_name", rightCol = "probe", maxDist = 1)
          .groupBy("probe_key").agg(count(lit(1)).as("n_matches"))
          .orderBy("probe_key")
      },
      """WITH probes AS (
        |  SELECT p_partkey AS probe_key, substr(p_name, 2) AS probe
        |  FROM part WHERE p_partkey % 10 = 0)
        |SELECT probe_key, count(*) AS n_matches
        |FROM probes JOIN part ON levenshtein(probe, p_name) <= 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- pivot: wide conditional aggregation (oracle states it as CASE
    //      columns — identical semantics)
    "x18_pivot" -> withOracle(
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(round(sum("l_quantity"), 2))
          .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
        |       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- grouping sets through the spark.sql entry point (temp view +
    //      SQL text — the engine's second query surface besides the
    //      DataFrame API)
    "a10_grouping_sets" -> withOracle(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql(
          """SELECT o_orderstatus, o_orderpriority,
            |       count(*) AS cnt, round(sum(o_totalprice), 2) AS price_sum
            |FROM orders_v
            |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
            |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
            |""".stripMargin)
      },
      """SELECT o_orderstatus, o_orderpriority,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS price_sum
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    // ---- data-quality: FK/unique violation counts over the star schema
    //      (the reference silently assumes integrity, SURVEY §2.5 J4)
    "q1_quality_checks" -> withOracle(
      (s, d) => {
        import graft.ops.Quality
        import org.apache.spark.sql.DataFrame
        val li = Tables.lineitem(s, d)
        val o  = Tables.orders(s, d)
        val c  = Tables.customer(s, d)
        // each check aggregates to one row; UNION them so the whole audit
        // is ONE job with four independent subtrees, not four sequential
        // driver-side count() actions
        def checkRow(name: String, violations: DataFrame) =
          violations.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("check"), col("n_violations"))
        checkRow("lineitem_orderkey_fk",
            Quality.fkViolations(li, o, "l_orderkey", "o_orderkey"))
          .unionByName(checkRow("orders_custkey_fk",
            Quality.fkViolations(o, c, "o_custkey", "c_custkey")))
          .unionByName(checkRow("orders_pk_unique",
            Quality.uniqueViolations(o, Seq("o_orderkey"))))
          .unionByName(checkRow("orders_required_nonnull",
            Quality.nullViolations(o, Seq("o_orderkey", "o_orderdate"))))
          .orderBy("check")
      },
      """SELECT 'lineitem_orderkey_fk' AS check, CAST(count(*) AS BIGINT) AS n_violations
        |  FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |UNION ALL
        |SELECT 'orders_pk_unique', CAST(count(*) AS BIGINT)
        |  FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'orders_required_nonnull', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_orderkey IS NULL OR o_orderdate IS NULL
        |ORDER BY 1""".stripMargin),

    // ---- per-column profiling (long format; int/string columns so the
    //      min/max string casts agree across engines)
    "q2_profile" -> withOracle(
      (s, d) =>
        graft.ops.Quality.profile(Tables.orders(s, d),
            Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
          .orderBy("column"),
      """SELECT 'o_custkey' AS column, count(*) AS n_rows,
        |       CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |       CAST(min(o_custkey) AS VARCHAR) AS min_value,
        |       CAST(max(o_custkey) AS VARCHAR) AS max_value FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |       CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |       min(o_orderstatus), max(o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |       CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |       min(o_orderpriority), max(o_orderpriority) FROM orders
        |ORDER BY 1""".stripMargin),

    // ---- bounded top-k via custom TypedImperativeAggregate: map-side
    //      partial top-k (ships <= k values per key per task) vs the
    //      Window+row_number formulation that shuffles every row (w1).
    //      Output exploded to scalar rows (o_custkey, rk, price) — the
    //      gate hashes scalar columns, and TopKAgg's descending-values
    //      contract makes rank k identical to row_number DESC on values
    //      even under ties.
    "a11_topk_agg" -> withOracle(
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(graft.functions.TopKAgg.top_k(col("o_totalprice"), 3).as("top_prices"))
          .select(col("o_custkey"), posexplode(col("top_prices")))
          .select(col("o_custkey"), (col("pos") + 1).as("rk"), col("col").as("price"))
          .orderBy("o_custkey", "rk"),
      """SELECT o_custkey, CAST(rk AS INTEGER) AS rk, price
        |FROM (SELECT o_custkey, o_totalprice AS price,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC) AS rk
        |      FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),

    // ---- batch sessionization (gaps-and-islands): the SQL-expressible
    //      twin of streaming.Streams.sessionize — new session when the
    //      inter-event gap exceeds 30 minutes
    "w7_sessionize" -> withOracle(
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("gap_ms", unix_millis(col("ts")) -
            unix_millis(lag(col("ts"), 1).over(byUser)))
          .withColumn("new_sess",
            when(col("gap_ms").isNull || col("gap_ms") > 1800000L, 1).otherwise(0))
          .withColumn("session_idx", sum("new_sess").over(running))
          .groupBy("user_id", "session_idx")
          .agg(count(lit(1)).as("n_events"),
            date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            round(sum("value"), 2).as("value_sum"))
          .orderBy("user_id", "session_idx")
      },
      """SELECT user_id, session_idx, count(*) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       round(sum(value), 2) AS value_sum
        |FROM (
        |  SELECT user_id, ts, event_id, value,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM (
        |    SELECT *, CASE WHEN gap_ms IS NULL OR gap_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
        |    FROM (SELECT *, epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
        |                    ORDER BY ts, event_id)) AS gap_ms
        |          FROM events))
        |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- event-time session windows via the built-in session_window
    //      aggregation (merging-interval state, the streaming-capable twin
    //      of w7's gaps-and-islands formulation). Statement and oracle are
    //      StreamingQuery.sessionAgg/sessionOracleSql, shared verbatim with
    //      the streaming drain st4 (see there for the boundary analysis).
    "w10_session_window" -> withOracle(
      (s, d) =>
        StreamingQuery.sessionAgg(Tables.events(s, d))
          .orderBy("user_id", "session_start"),
      StreamingQuery.sessionOracleSql),

    // ---- null-safe equality join (<=>): NULL keys match each other — the
    //      dimension-join semantics for facts with unknown keys routed to
    //      an UNKNOWN dim member, which plain = silently drops. The corpus
    //      has no null keys, so they are planted deterministically (the
    //      pii1 pattern); oracle = IS NOT DISTINCT FROM.
    "x22_nullsafe_join" -> withOracle(
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"),
            when(col("c_custkey") % 7 === 0, lit(null))
              .otherwise(col("c_nationkey")).cast("int").as("nk"))
        val dim = Tables.nation(s, d)
          .select(col("n_nationkey").cast("int").as("nk"), col("n_name"))
          .unionByName(Seq("UNKNOWN").toDF("n_name")
            .select(lit(null).cast("int").as("nk"), col("n_name")))
        cust.join(broadcast(dim), cust("nk") <=> dim("nk"))
          .groupBy("n_name").agg(count(lit(1)).as("n"))
          .orderBy("n_name")
      },
      """WITH cust AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
        |  FROM customer),
        |dim AS (
        |  SELECT CAST(n_nationkey AS INTEGER) AS nk, n_name FROM nation
        |  UNION ALL SELECT NULL, 'UNKNOWN')
        |SELECT n_name, count(*) AS n
        |FROM cust JOIN dim ON cust.nk IS NOT DISTINCT FROM dim.nk
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // ---- unpivot/melt (the inverse of x18's pivot): wide measure columns
    //      to long (measure, val) rows via the first-class Dataset.unpivot.
    //      Values stay raw doubles (bit-identical IEEE, never rounded);
    //      the 5-column id tuple is the proven-unique lineitem key, so the
    //      ORDER BY is total.
    "x21_unpivot" -> withOracle(
      (s, d) =>
        Tables.lineitem(s, d)
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_suppkey"), col("l_quantity")),
            Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
            "measure", "val")
          .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity", "measure"),
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |       'l_extendedprice' AS measure, l_extendedprice AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |       'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |       'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |         measure""".stripMargin),

    // ---- stream-stream interval join must equal the batch range join on
    //      identical data (inner join: matches emitted exactly once,
    //      arrival-order-independent)
    "st5_stream_interval" -> withOracle(
      (s, d) => StreamingQuery.errorPairs(s, d),
      """SELECT e.event_id, r.event_id AS err_event_id
        |FROM events e JOIN events r
        |  ON e.user_id = r.user_id AND r.event_type = 'error'
        | AND r.ts < e.ts AND r.ts >= e.ts - INTERVAL 5 MINUTE
        |ORDER BY e.event_id, err_event_id""".stripMargin),

    // ---- st5's LEFT OUTER form: matches emit on arrival, unmatched rows
    //      emit null-extended on watermark EVICTION. The emission set is
    //      deterministic for fixed data: the global watermark is the MIN
    //      over both sides' (max event time - delay), and the errors side
    //      — a filtered subset — trails, so W = ms-truncated max error ts
    //      minus 10 minutes; unmatched events younger than W are withheld
    //      at end-of-stream by watermark semantics (they may yet match in
    //      a live stream). The oracle restates W from the data.
    "st9_stream_leftouter" -> withOracle(
      (s, d) => StreamingQuery.errorPairsOuter(s, d),
      """WITH err AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'),
        |wm AS (
        |  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 10 MINUTE AS w
        |  FROM err),
        |matched AS (
        |  SELECT e.event_id, r.event_id AS err_event_id
        |  FROM events e JOIN err r
        |    ON e.user_id = r.user_id
        |   AND r.ts < e.ts AND r.ts >= e.ts - INTERVAL 5 MINUTE)
        |SELECT event_id, err_event_id FROM matched
        |UNION ALL
        |SELECT e.event_id, CAST(NULL AS BIGINT) AS err_event_id
        |FROM events e, wm
        |WHERE e.ts < wm.w
        |  AND e.event_id NOT IN (SELECT event_id FROM matched)
        |ORDER BY event_id, err_event_id NULLS FIRST""".stripMargin),

    // ---- streaming IVF index maintenance: embeddings stream into a
    //      cell-partitioned index; the fitted-path search over it must be
    //      row-identical to e3 (directly comparable in the verify dump;
    //      streamed==batch equality pinned in StreamsSpec). rows-only:
    //      ANN is approximate by contract, the e3 justification.
    "st11_stream_ivf" -> rowsOnly(
      (s, d) => StreamingQuery.ivfIngest(s, d)),

    // ---- streaming conversion-window funnel (custom funnel state machine
    //      over flatMapGroupsWithState): exact vs the batch restatement
    //      for every user whose window provably closed; the oracle derives
    //      the emission boundary (final watermark) from the data, st9's
    //      discipline. All stage math on ms-floored timestamps (getTime ==
    //      epoch_ms), strict > chaining, stages within t1 + 25 days.
    "st10_stream_funnel" -> withOracle(
      (s, d) => StreamingQuery.funnel(s, d),
      """WITH ms AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
        |wm AS (SELECT epoch_ms(date_trunc('milliseconds', max(ts))) - 600000 AS w
        |       FROM events),
        |a AS (SELECT user_id, min(t) AS t1 FROM ms
        |      WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT m.user_id, min(t) AS t2 FROM ms m JOIN a USING (user_id)
        |       WHERE event_type = 'view' AND t > t1 AND t <= t1 + 2160000000
        |       GROUP BY 1),
        |s3 AS (SELECT m.user_id, min(t) AS t3
        |       FROM ms m JOIN a USING (user_id) JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND t > t2 AND t <= t1 + 2160000000
        |       GROUP BY 1),
        |s4 AS (SELECT m.user_id, min(t) AS t4
        |       FROM ms m JOIN a USING (user_id) JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t3 AND t <= t1 + 2160000000
        |       GROUP BY 1)
        |SELECT a.user_id,
        |       CAST(1 + CASE WHEN s2.t2 IS NULL THEN 0
        |                     WHEN s3.t3 IS NULL THEN 1
        |                     WHEN s4.t4 IS NULL THEN 2 ELSE 3 END AS INTEGER) AS stage,
        |       strftime(epoch_ms(a.t1), '%Y-%m-%d %H:%M:%S.%g') AS t1,
        |       strftime(epoch_ms(s2.t2), '%Y-%m-%d %H:%M:%S.%g') AS t2,
        |       strftime(epoch_ms(s3.t3), '%Y-%m-%d %H:%M:%S.%g') AS t3,
        |       strftime(epoch_ms(s4.t4), '%Y-%m-%d %H:%M:%S.%g') AS t4
        |FROM a LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |       LEFT JOIN s4 USING (user_id), wm
        |WHERE a.t1 + 2160000000 < wm.w
        |ORDER BY a.user_id""".stripMargin),

    // ---- streaming session windows: the SAME sessionAgg statement and the
    //      SAME oracle as w10, shared by reference — the equivalence
    //      contract cannot drift
    "st4_stream_session" -> withOracle(
      (s, d) => StreamingQuery.sessions(s, d),
      StreamingQuery.sessionOracleSql),

    // ---- incrementally maintained CMS across micro-batches: estimates
    //      from the merged sketch are exact at this geometry (a14's
    //      determinism argument; merged cells are plain sums, so batch
    //      cuts cannot matter), making the oracle the plain batch count
    "st6_stream_cms" -> withOracle(
      (s, d) => StreamingQuery.cmsCounts(s, d),
      """SELECT user_id, CAST(count(*) AS BIGINT) AS est_count
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- incrementally maintained heavy hitters: per-micro-batch MG
    //      summaries folded into one bounded driver summary (mergeable-
    //      summaries guarantee keeps candidates complete at the
    //      threshold), exact verify over the at-rest table — output is
    //      exact, so the oracle is a16's GROUP BY ... HAVING
    "st7_stream_topk" -> withOracle(
      (s, d) => StreamingQuery.streamTopK(s, d),
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(count(*) AS DOUBLE) /
        |         (SELECT CAST(count(*) AS DOUBLE) FROM events) AS frac
        |FROM events GROUP BY user_id
        |HAVING count(*) >= CAST(0.008 AS DOUBLE) *
        |  (SELECT count(*) FROM events)
        |ORDER BY user_id""".stripMargin),

    // ---- incrementally maintained HLL registers (replay-immune
    //      register-max fold; see StreamingQuery.streamHll)
    "st8_stream_hll" -> rowsOnly(
      (s, d) => StreamingQuery.streamHll(s, d)),

    // ---- incrementally maintained quantile sketch (per-batch bounded
    //      sketch, additive driver fold; see StreamingQuery.streamQuantiles)
    "st12_stream_quantiles" -> rowsOnly(
      (s, d) => StreamingQuery.streamQuantiles(s, d)),

    // ---- streaming near-dup detection: arrival-time MinHash LSH against
    //      a slot-partitioned index of everything ingested before (the
    //      dedup twin of st11). rows-only: LSH banding has no DuckDB
    //      twin; StreamsSpec pins drained-stream == one-shot-batch pair
    //      equality and replay idempotence
    "st14_stream_neardup" -> rowsOnly(
      (s, d) => StreamingQuery.nearDupIngest(s, d)),

    // ---- contamination check: the eval split probed READ-ONLY against a
    //      near-dup index of the training split (st14's read-side twin).
    //      rows-only for the st14 reason; StreamsSpec pins probe == batch
    //      LSH reference and index immutability
    "st15_neardup_probe" -> rowsOnly(
      (s, d) => StreamingQuery.nearDupProbe(s, d)),

    // ---- CDC-driven near-dup index maintenance: the index FOLLOWS the
    //      corpus (appends matched at arrival, deletes taken down, text
    //      updates re-indexed) at O(delta) per poll. rows-only for the
    //      st14 reason (LSH banding has no DuckDB twin); SyncNearDupSpec
    //      pins index content == fresh one-shot index of the live corpus
    //      and crash-replay idempotence
    "d7_neardup_sync" -> rowsOnly(
      (s, d) => StreamingQuery.nearDupSync(s, d)),

    // ---- d7's STEADY-STATE twin: d7 benches two full LSH index builds
    //      (seed + re-seed after a takedown); the O(changed docs +
    //      candidate buckets) claim is what a production poll pays. This
    //      benches ONE delta batch folded into a PRE-SEEDED index (seed
    //      staged once per JVM keyed by pid; min-of-3 discards the
    //      seeding run; each run copies the seed so repeats are
    //      deterministic). rows-only for d7's reason (LSH banding has no
    //      DuckDB twin); SyncNearDupSpec pins poll == fresh-index equality
    "d7b_neardup_poll" -> rowsOnly(
      (s, d) => {
        import graft.sources.DocStore
        val docs = graft.core.Tables.documents(s, d).select("doc_id", "text")
        val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
        val pid = ProcessHandle.current().pid()
        val seed = TmpDirs.cleanupOnExit(
          s"$tmp/graft-ndsyncseed-${Integer.toHexString(d.hashCode)}-p$pid")
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(seed, "_SEEDED"))) {
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seed))
          DocStore.insertMany(docs.filter(col("doc_id") % 20 =!= 7), s"$seed/src")
          graft.streaming.Streams.syncNearDupIndex(s, s"$seed/src", s"$seed/idx",
            idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
          java.nio.file.Files.createFile(java.nio.file.Paths.get(seed, "_SEEDED"))
        }
        val work = TmpDirs.cleanupOnExit(
          s"$tmp/graft-ndsyncpoll-${Integer.toHexString(d.hashCode)}-p$pid")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(seed), new java.io.File(work))
        // the steady state: a 5% delta arrives, one poll matches it
        // against everything indexed and joins the index
        DocStore.insertMany(docs.filter(col("doc_id") % 20 === 7), s"$work/src")
        graft.streaming.Streams.syncNearDupIndex(s, s"$work/src", s"$work/idx",
          idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
        s.read.parquet(s"$work/idx/matches")
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("id_a", "id_b")
          .localCheckpoint(true)
      }),

    // ---- CDC-driven IVF ANN index maintenance (Streams.syncIvfIndex,
    //      the embedding twin of d7): an embedding corpus is seeded into
    //      a batch-dir cell-partitioned index, an appended batch joins it
    //      via the pure-insert fast path (no takedown scan), and a source
    //      DELETE propagates as an index takedown — the ANN index follows
    //      a mutating corpus at O(changed embeddings) per poll instead of
    //      going stale. The model fits ONCE (cachedIvf, shared with e3)
    //      and stays pinned by the index's _META. rows-only: fitted
    //      centroids have no DuckDB twin (e3's justification); SyncIvfSpec
    //      pins poll == fresh-assignment identity, crash replay, and
    //      takedown tombstones.
    "d9_ivf_sync" -> rowsOnly(
      (s, d) => {
        import graft.sources.DocStore
        // double elements end-to-end: the seed round-trips a JSON
        // generation (double inference); float appends would leave the
        // store with mixed physical widths
        val emb = graft.core.Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val base = TmpDirs.cleanupOnExit(java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-ivfsync-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}").toString)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
        val src = s"$base/src"; val idx = s"$base/idx"
        val model = graft.sim.Ann.cachedIvf(d,
          graft.core.Tables.embeddings(s, d), nCells = 16, lloydIters = 2)
        def poll() = graft.streaming.Streams.syncIvfIndex(s, src, idx, model)
        DocStore.insertMany(emb.filter(col("vec_id") % 4 =!= 1), src)
        DocStore.compact(s, src, targetFiles = 4, format = Some("parquet"))
        poll() // seed: snapshot assigned as batch 1
        // ONE mixed window: an appended batch AND a source delete — the
        // poll ingests the inserts and takes down the deleted vectors in
        // a single deterministic batch
        DocStore.insertMany(emb.filter(col("vec_id") % 4 === 1), src)
        DocStore.deleteMany(s, src, Some(col("vec_id") % 9 === 0), retain = 3)
        poll()
        graft.sim.Ann.ivfSearch(model, s.read.parquet(idx),
            emb.filter(col("vec_id") < 10), k = 5, nProbe = 4)
          .select(col("q_id"), col("rk"), col("vec_id"))
          .orderBy("q_id", "rk")
          .localCheckpoint(true)
      }),

    // ---- d9's STEADY-STATE twin (the d6b/d7b convention): d9 benches the
    //      full lifecycle including the seed assignment of the whole
    //      corpus; this benches what a production deployment pays per
    //      poll — ONE mixed CDC window (insert batch + selective delete)
    //      folded into a PRE-SEEDED index (src+idx staged once per JVM
    //      keyed by pid; min-of-3 discards the seeding run; each run
    //      copies the staging so repeats are deterministic). rows-only
    //      for d9's reason (fitted centroids have no DuckDB twin).
    "d9b_ivf_poll" -> rowsOnly(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val model = graft.sim.Ann.cachedIvf(d,
          Tables.embeddings(s, d), nCells = 16, lloydIters = 2)
        // the steady state: ONE poll folds the staged mixed window —
        // ingest the inserts, take down the deleted vectors (cell-hinted
        // discovery) — then the serving search runs over the result
        val work = IvfSyncStage.work(s, d, emb, model, "ivfsyncpoll")
        graft.streaming.Streams.syncIvfIndex(s, s"$work/src", s"$work/idx", model)
        graft.sim.Ann.ivfSearch(model, s.read.parquet(s"$work/idx"),
            emb.filter(col("vec_id") < 10), k = 5, nProbe = 4)
          .select(col("q_id"), col("rk"), col("vec_id"))
          .orderBy("q_id", "rk")
          .localCheckpoint(true)
      }),

    // ---- the IVF-SYNC SERVING PATH, DuckDB-hash-pinned (closing d9/d9b's
    //      rows-only gap the r11 verdict flagged): same staged lifecycle
    //      as d9b — seed index, one mixed CDC window (insert batch +
    //      selective delete) — then the index's batch dirs are FOLDED
    //      (Streams.compactIvfIndex, the index-maintenance leg) and the
    //      index serves EXHAUSTIVELY (nProbe = nCells probes every cell).
    //      Exhaustive probing makes the fitted centroids irrelevant to
    //      the RESULT: top-k over the synced+compacted index must equal
    //      brute-force cosine over the live corpus, which DuckDB restates
    //      exactly (the e1 shape over the post-mutation row set). One
    //      green hash row pins "index follows corpus" AND "compaction
    //      changes nothing" end-to-end.
    "d9c_ivf_serve_exhaustive" -> withOracle(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val model = graft.sim.Ann.cachedIvf(d,
          Tables.embeddings(s, d), nCells = 16, lloydIters = 2)
        val work = IvfSyncStage.work(s, d, emb, model, "ivfsyncserve")
        graft.streaming.Streams.syncIvfIndex(s, s"$work/src", s"$work/idx", model)
        graft.streaming.Streams.compactIvfIndex(s, s"$work/idx")
        graft.sim.Ann.ivfSearch(model, s.read.parquet(s"$work/idx"),
            emb.filter(col("vec_id") < 10), k = 5, nProbe = 16)
          .select(col("q_id"), col("rk"), col("vec_id"))
          .orderBy("q_id", "rk")
          .localCheckpoint(true)
      },
      """SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id
        |FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY (list_sum(list_transform(range(1, 65),
        |                       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |             / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))) DESC,
        |           c.vec_id)
        |           AS rk
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        |   AND NOT (c.vec_id BETWEEN 100 AND 119)
        |) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // ---- the ONE-CALL maintenance story, DuckDB-hash-pinned: a corpus
    //      store churns (appends + a delete) while an IVF index FOLLOWS it
    //      by CDC sync (which self-registers the index against the store),
    //      then Streams.maintainAll — the single cron line — runs the
    //      store triad AND folds the registered index's batch dirs. The
    //      require()s pin that both legs actually tripped; the exhaustive
    //      serve (nProbe = nCells, the d9c discipline) pins that the whole
    //      maintenance pass changed NOTHING: top-k over the maintained
    //      index == DuckDB brute-force cosine over the live corpus.
    "d15_maintain_all" -> withOracle(
      (s, d) => {
        import graft.sources.DocStore
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          .filter(col("vec_id") < 1000) // the lifecycle, not the volume
        val base = TmpDirs.cleanupOnExit(java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-maintall-${Integer.toHexString(d.hashCode)}-p${ProcessHandle.current().pid()}").toString)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
        val src = s"$base/src"; val idx = s"$base/idx"
        val model = graft.sim.Ann.cachedIvf(d,
          Tables.embeddings(s, d), nCells = 16, lloydIters = 2)
        def poll() = graft.streaming.Streams.syncIvfIndex(s, src, idx, model)
        DocStore.insertMany(emb.filter(col("vec_id") % 4 =!= 1), src)
        DocStore.compact(s, src, targetFiles = 1, format = Some("parquet"))
        poll() // seed: registers idx against src, snapshot as batch 1
        // ONE mixed churn window (the d9 shape): a delete rewrite plus an
        // append tail — batch dirs pile on the index, small files on the
        // store
        DocStore.deleteMany(s, src,
          Some(col("vec_id").between(100L, 119L)), retain = 3)
        // the append excludes the just-deleted range — re-inserting it
        // would resurrect ids the lifecycle (and the oracle) removed
        DocStore.insertMany(emb.filter(col("vec_id") % 4 === 1 &&
          !col("vec_id").between(100L, 119L)), src)
        poll()
        val r = graft.streaming.Streams.maintainAll(s, src,
          maxDataFiles = 1, maxBatchDirs = 1)
        require(r.store.compacted,
          s"d15: the churn should have tripped the store triad ($r)")
        require(r.indexesFolded.get(idx).exists(_ > 0),
          s"d15: the churn should have tripped the registered fold ($r)")
        graft.sim.Ann.ivfSearch(model, s.read.parquet(idx),
            emb.filter(col("vec_id") < 10), k = 5, nProbe = 16)
          .select(col("q_id"), col("rk"), col("vec_id"))
          .orderBy("q_id", "rk")
          .localCheckpoint(true)
      },
      """SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id
        |FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY (list_sum(list_transform(range(1, 65),
        |                       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |             / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))) DESC,
        |           c.vec_id)
        |           AS rk
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        |   AND c.vec_id < 1000 AND NOT (c.vec_id BETWEEN 100 AND 119)
        |) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // ---- st12's read-side twin: per-batch sketches STORED as a table
    //      (overwrite-by-batch = replay-idempotent), served by pure SQL
    //      merge+probe — build once, query many, restart-safe
    "st13_stream_sketch_table" -> rowsOnly(
      (s, d) => StreamingQuery.streamStoredQuantiles(s, d)),

    // ---- streamed KMV sketch store, served after the drain: per-batch
    //      bottom-k rows merged by re-sketching (merge == one-shot build
    //      bit-for-bit, KmvSpec) — so THIS streaming sketch is fully
    //      ORACLED with a25's SQL, the only sketch family whose streamed
    //      result can cross the hash-exact gate (its merge is a set
    //      operation, not order-sensitive buffer folding)
    "st16_stream_kmv" -> withOracle(
      (s, d) => StreamingQuery.streamStoredKmv(s, d),
      """WITH sh AS (
        |  SELECT DISTINCT source,
        |         CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) AS hv
        |  FROM (SELECT source, unnest(list_transform(range(1, len(t) - 1),
        |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |        FROM (SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |              FROM documents))),
        |ranked AS (
        |  SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
        |  FROM sh),
        |agg AS (
        |  SELECT source, CAST(count(*) AS INTEGER) AS n_sketch, max(hv) AS kth
        |  FROM ranked WHERE rk <= 256 GROUP BY source)
        |SELECT source, n_sketch, kth,
        |       CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |            ELSE CAST(1148417904979476480 AS DOUBLE) / CAST(kth AS DOUBLE)
        |       END AS est_distinct
        |FROM agg ORDER BY source""".stripMargin),

    // ---- custom expressions through the SQL surface (GraftExtensions):
    //      signature determinism is the contract — rows-only here, exact
    //      parity with the Column API pinned in ScalaTest
    "x20_sql_simhash" -> rowsOnly(
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("docs_v")
        s.sql(
          """SELECT doc_id, simhash64(split(lower(trim(text)), '\\s+')) AS simhash
            |FROM docs_v ORDER BY doc_id""".stripMargin)
      }),

    // ---- SQL surface for the exact set-similarity join: the
    //      setsim_self_join TABLE function (GraftExtensions
    //      injectTableFunction) resolves the view and builds the SAME
    //      AllPairs/PPJoin plan the Column API builds — j14 from pure SQL,
    //      same oracle. (Materialize-then-sort stays outside the SQL for
    //      the j14 reason: a global ORDER BY above the candidate+verify
    //      subtree would re-execute it through the range sampler.)
    // ---- vector search from PURE SQL (knn_search TVF): the corpus arg
    //      resolves views, so the metadata filter is an ordinary SQL
    //      view — the filtered-search surface (e11) with zero new query
    //      semantics. Same Column-API implementation underneath
    //      (bruteForceTopK; parity pinned in AnnFilterSpec), same DuckDB
    //      oracle as e11.
    "x29_sql_knn" -> withOracle(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        emb.filter(col("label") === 3).createOrReplaceTempView("knn_corpus_v")
        emb.filter(col("vec_id") < 10).createOrReplaceTempView("knn_queries_v")
        s.sql("SELECT q_id, rk, vec_id FROM knn_search(" +
            "'knn_corpus_v', 'knn_queries_v', 'vec_id', 'embedding', 5)")
          .orderBy("q_id", "rk")
      },
      """SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id
        |FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY (list_sum(list_transform(range(1, 65),
        |                       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |             / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))) DESC,
        |           c.vec_id)
        |           AS rk
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label = 3
        |) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    "x26_sql_setsim_join" -> withOracle(
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("docs_setsim_v")
        s.sql(
          "SELECT * FROM setsim_self_join('docs_setsim_v', 'doc_id', 'text', 9, 10)")
          .localCheckpoint()
          .orderBy("id_a", "id_b")
      },
      """WITH s AS (
        |  SELECT doc_id,
        |         list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS ts
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
        |         CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS BIGINT) AS uni
        |  FROM s a JOIN s b ON b.doc_id > a.doc_id)
        |SELECT id_a, id_b, inter, uni, CAST(inter AS DOUBLE) / uni AS jaccard
        |FROM p WHERE inter * 10 >= uni * 9
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- SQL surface for the as-of join: the asof_join TABLE function —
    //      j8 from pure SQL (DuckDB states it natively with ASOF JOIN, the
    //      engine's TVF builds the carry-forward plan), same oracle.
    "x27_sql_asof_join" -> withOracle(
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.createOrReplaceTempView("events_asof_v")
        ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("err_ts"))
          .createOrReplaceTempView("errors_asof_v")
        s.sql(
          """SELECT event_id,
            |       date_format(last_err, 'yyyy-MM-dd HH:mm:ss') AS last_error_at
            |FROM asof_join('events_asof_v', 'errors_asof_v', 'user_id',
            |               'ts', 'err_ts', 'err_ts', 'last_err')
            |ORDER BY event_id""".stripMargin)
      },
      """SELECT l.event_id,
        |       strftime(r.err_ts, '%Y-%m-%d %H:%M:%S') AS last_error_at
        |FROM events l
        |ASOF LEFT JOIN (SELECT user_id, ts AS err_ts FROM events
        |                WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts >= r.err_ts
        |ORDER BY l.event_id""".stripMargin),

    // ---- as-of join: each event matched to the user's most recent
    //      prior-or-equal error event (composed from built-ins; DuckDB
    //      states it natively with ASOF JOIN)
    "j8_asof" -> withOracle(
      (s, d) => {
        val ev = Tables.events(s, d)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("err_ts"))
        graft.ops.AsOf.joinAsOf(ev, errors, Seq("user_id"),
            leftTs = "ts", rightTs = "err_ts", valueCol = "err_ts",
            outCol = "last_err")
          .select(col("event_id"),
            date_format(col("last_err"), "yyyy-MM-dd HH:mm:ss").as("last_error_at"))
          .orderBy("event_id")
      },
      """SELECT l.event_id,
        |       strftime(r.err_ts, '%Y-%m-%d %H:%M:%S') AS last_error_at
        |FROM events l
        |ASOF LEFT JOIN (SELECT user_id, ts AS err_ts FROM events
        |                WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts >= r.err_ts
        |ORDER BY l.event_id""".stripMargin),

    // ---- streaming/batch agreement: the readStream windowed aggregation
    //      must match the batch oracle on identical data
    "st1_stream_hourly" -> withOracle(
      (s, d) => StreamingQuery.hourly(s, d),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- streaming cross-batch dedup must equal the batch DISTINCT of the
    //      dedup key on identical data (keys only: the retained row per key
    //      is arrival-order-dependent by contract)
    "st2_stream_dedup" -> withOracle(
      (s, d) => StreamingQuery.dedupPairs(s, d),
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),

    // ---- stream-static dimension join (state-free enrichment) must match
    //      the batch join on identical data
    "st3_stream_enrich" -> withOracle(
      (s, d) => StreamingQuery.enrichedSegments(s, d),
      """SELECT c_mktsegment, count(*) AS n_events
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- edit distance (text-similarity scalar; same DP definition in
    //      both engines)
    "x19_levenshtein" -> withOracle(
      (s, d) =>
        Tables.nation(s, d)
          .select(col("n_nationkey"),
            levenshtein(col("n_name"), lit("ARGENTINA")).as("dist"))
          .orderBy("n_nationkey"),
      """SELECT n_nationkey, CAST(levenshtein(n_name, 'ARGENTINA') AS INTEGER) AS dist
        |FROM nation ORDER BY 1""".stripMargin)
  )
}
