package graft.streaming

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}
import graft.core.Parallel

final case class SessionState(startMs: Long, lastMs: Long, n: Int, sumValue: Double)

/** Structured Streaming form of the reference's incremental semantics
  * (SURVEY.md §2.11).
  *
  * The reference's "stream" is a daily cron pulling an explicit
  * (date_from, date_to) window with a Monday weekend-widening rule
  * (/root/reference/dags/dag_maestros.py:10-22,42) and dedup/staging for
  * idempotent re-delivery. The streaming twins:
  *  - explicit date window        -> event-time window + watermark
  *  - weekend catch-up / late rows -> the watermark's lateness allowance
  *  - dedup-before-load            -> dropDuplicatesWithinWatermark
  *  - per-entity incremental state -> flatMapGroupsWithState sessionization
  *
  * All transforms take a DataFrame/Dataset so the SAME code runs in batch
  * (tests, backfills) and streaming (readStream) — Spark's unified model.
  *
  * This object also holds the entry points of the two derived indexes
  * that follow a DocStore collection: the IVF ANN index and the near-dup
  * index. [[DerivedIndex]], which it extends, is the one owner of their
  * on-disk layout and of every protocol they share (sync poll, takedown,
  * batch-dir fold, sidecars); the entry points here supply only what
  * differs per kind. Appending to an index written by an older writer's
  * layout is unsupported: the entry points refuse it and ask for a
  * rebuild. The reverse is unsupported too, and nothing detects it: a
  * build that predates the sorted-shingle kernel, appending to a near-dup
  * index whose `_META` says `shingles_sorted=1`, writes unsorted shingle
  * arrays that every reader trusts as sorted, so verification undercounts
  * matches. Never run such a build against an index a newer one wrote.
  */
object Streams extends DerivedIndex {

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
                           n_events: Int, total_value: Double)

  /** Watermarked tumbling-window aggregation (streaming twin of
    * w4_window_hourly).
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("cnt"), col("value_sum"))

  /** Exactly-once-ish dedup across micro-batches, the streaming analog of
    * the dedup-before-load guard (/root/reference/dags/CotyData_IPN.py:166).
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment (the streaming twin of the J3/J5 dimension
    * lookup): joining a stream against a static dim is STATE-FREE — Spark
    * re-plans the static side per micro-batch and broadcasts it when
    * small, so there is no watermark, no state store, and the dim can be
    * swapped on disk between batches (slowly-changing dimension pickup
    * for free). Contrast with stream-stream joins, which buffer state.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey))

  /** Stream-stream interval join: left rows matched to right rows with the
    * same key whose timestamp falls in [leftTs - window, leftTs). Unlike
    * [[enrichWithDim]] both sides buffer state; the time-range condition
    * plus the two watermarks are what let Spark EVICT that state — without
    * them an inner stream-stream join holds both streams forever. Matches
    * are emitted as soon as both sides have arrived, so the result set is
    * independent of micro-batch cut points (pinned by the st5 gate query
    * against the batch oracle). Column names must not collide across the
    * two sides.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   windowSpec: String = "5 minutes",
                   watermark: String = "10 minutes"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) < col(leftTs) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowSpec"))

  /** LEFT OUTER stream-stream interval join: [[intervalJoin]]'s matches
    * plus a null-extended row for every left event that found no partner.
    * The outer row CANNOT be emitted when the left event arrives — a
    * matching right may still be in flight — so it is emitted by state
    * EVICTION: once the watermark passes the point where the join
    * condition admits no future right, the buffered left row leaves the
    * state store as a null-extended result. Rows younger than the final
    * watermark are still awaiting partners when the stream ends and are
    * therefore NOT emitted — that trailing holdback is inherent to
    * watermark semantics, deterministic for a fixed input (the watermark
    * derives from data timestamps, never wall-clock), and disappears in a
    * live deployment where the stream keeps running.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
                        leftKey: String, rightKey: String,
                        leftTs: String, rightTs: String,
                        windowSpec: String = "5 minutes",
                        watermark: String = "10 minutes"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) < col(leftTs) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowSpec"),
        "leftOuter")

  /** Streaming ingestion into a document collection (S7/K8 store) with
    * dedup-before-insert: each micro-batch keeps only keys the collection
    * has not seen — the Bloom fast-path anti-join, so the bloom-negative
    * bulk of every batch skips the exact join entirely — and appends them
    * as one manifest-committed generation. Replayed or overlapping batches
    * are idempotent by construction: the reference's staged-sync contract
    * (K2, /root/reference/dags/CotyData_IPN.py:166 dedup-before-load)
    * carried into streaming.
    */
  def ingestToDocStore(stream: DataFrame, path: String, key: String,
                       expectedKeys: Long = 1000000L,
                       autoCompactAt: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // dedup WITHIN the batch first: the anti-join only filters against
        // keys already in the store, so a batch carrying the same key twice
        // (or the very first batch, which sees an empty store) would insert
        // duplicates without this
        val unique = batch.dropDuplicates(key)
        val existing = graft.sources.DocStore.find(spark, path)
        val fresh =
          if (existing.columns.contains(key))
            graft.ops.BloomJoin.bloomAntiJoin(
              unique, existing.select(key), key, key, expectedKeys)
          else unique // first batch into an empty collection
        if (!fresh.isEmpty) graft.sources.DocStore.insertMany(fresh, path)
        // the small-files policy rides the sink: every micro-batch appends
        // files, so an unattended ingest needs the compaction built in.
        // foreachBatch serializes batches, so the rewrite never even races
        // an append here (and if it did, DocStore's salvage protocol would
        // carry the raced batch into the committed generation).
        if (autoCompactAt > 0)
          graft.sources.DocStore.maybeCompact(spark, path, autoCompactAt,
            targetFiles = math.max(1, autoCompactAt / 4))
        ()
      }
      .start()

  /** Incrementally maintained count-min sketch over a stream: each
    * micro-batch builds its own bounded cell table
    * ([[graft.ops.Sketch.cmsBuild]] — map-side combined, at most
    * depth x width rows whatever the batch size) and cell-wise merges it
    * into driver-held counters — CMS mergeability doing for streams what
    * `cmsMerge` does for partitions. The accumulated state is depth x
    * width longs, the same bounded model-state class as an IVF codebook;
    * the stream itself is never retained. Returns the running query and a
    * snapshot accessor producing a queryable [[graft.ops.Sketch.CmsSketch]]
    * at any point (estimates from a snapshot can only over-count, exactly
    * as in batch).
    */
  def maintainCms(stream: DataFrame, key: String, depth: Int, width: Int)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => graft.ops.Sketch.CmsSketch) = {
    val cells = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    // resolve the key's type from the stream schema UP FRONT: a snapshot
    // taken before the first batch must still carry a probeable type (an
    // empty sketch estimates every key as 0, it doesn't fail analysis)
    @volatile var keyType: org.apache.spark.sql.types.DataType =
      stream.schema(key).dataType
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sk = graft.ops.Sketch.cmsBuild(batch, col(key), depth, width)
        val rows = sk.cells.collect() // bounded: <= depth x width cells
        // foreachBatch callbacks run sequentially; synchronize only against
        // concurrent snapshot() readers
        cells.synchronized {
          keyType = sk.keyType
          rows.foreach { r =>
            val k = (r.getInt(0), r.getLong(1))
            cells(k) = cells.getOrElse(k, 0L) + r.getLong(2)
          }
        }
        ()
      }
      .start()
    val spark = stream.sparkSession
    def snapshot(): graft.ops.Sketch.CmsSketch = {
      import spark.implicits._
      val (rows, kt) = cells.synchronized {
        (cells.iterator.map { case ((r, b), c) => (r, b, c) }.toSeq, keyType)
      }
      graft.ops.Sketch.CmsSketch(rows.toDF("r", "bucket", "cnt"), depth, width, kt)
    }
    (q, () => snapshot())
  }

  /** Incrementally maintained HyperLogLog registers over a stream: each
    * micro-batch builds its bounded register table
    * ([[graft.ops.Hll.hllBuild]] — at most 2^p rows whatever the batch)
    * and folds register-wise max into a driver-held array. Register max
    * is idempotent AND commutative, so replayed or reordered batches
    * cannot corrupt the summary — stronger than CMS's additive merge,
    * which double-counts on replay. Driver state: 2^p bytes-ish of ints.
    */
  def maintainHll(stream: DataFrame, key: String, p: Int = 12)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => graft.ops.Hll.HllSketch) = {
    val regs = new Array[Int](1 << p)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = graft.ops.Hll.hllBuild(batch, col(key), p)
          .registers.collect() // bounded: <= 2^p rows
        regs.synchronized {
          rows.foreach { r =>
            val b = r.getInt(0)
            if (r.getInt(1) > regs(b)) regs(b) = r.getInt(1)
          }
        }
        ()
      }
      .start()
    val spark = stream.sparkSession
    def snapshot(): graft.ops.Hll.HllSketch = {
      import spark.implicits._
      val rows = regs.synchronized {
        regs.iterator.zipWithIndex.collect {
          case (rho, b) if rho > 0 => (b, rho)
        }.toSeq
      }
      graft.ops.Hll.HllSketch(rows.toDF("bucket", "max_rho"), p)
    }
    (q, () => snapshot())
  }

  /** Incrementally maintained quantile sketch over a stream: each
    * micro-batch aggregates into ONE bounded sketch
    * ([[graft.functions.QuantileSketch]] — O(k log(n/k)) doubles whatever
    * the batch size) and merges into a driver-held buffer. Merge is
    * ADDITIVE, so like the CMS fold (and unlike HLL's idempotent register
    * max) an at-least-once replay would double-count — production
    * deployments dedupe by batchId in foreachBatch; the drained bench
    * shape replays nothing, and the spec pins streamed n == batch n
    * exactly plus the standard rank-error bound.
    */
  def maintainQuantileSketch(stream: DataFrame, valueCol: String, k: Int = 256)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => graft.functions.QuantileSketch.Buffer) = {
    val holder = new graft.functions.QuantileSketch.Buffer(k)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bytes = batch
          .agg(graft.functions.QuantileSketch
            .quantile_sketch(col(valueCol), k).as("s"))
          .head().getAs[Array[Byte]](0) // bounded: one sketch per batch
        holder.synchronized {
          holder.mergeIn(graft.functions.QuantileSketch.deserialize(bytes))
        }
        ()
      }
      .start()
    // snapshots hand out defensive copies: the live buffer keeps merging
    (q, () => holder.synchronized {
      graft.functions.QuantileSketch.deserialize(holder.serialize())
    })
  }

  /** STORED per-batch quantile sketches: each micro-batch aggregates to
    * ONE bounded sketch row written to `sketchDir/batch_id=N/` — the
    * read-side twin of [[maintainQuantileSketch]]. Where the driver-held
    * fold answers only within this process, the stored table is the
    * build-once/query-many warehouse shape: any later percentile
    * question is `sketch_quantiles(quantile_sketch_merge(sk), probs)`
    * over a table with one small row per batch — plain SQL, any session,
    * surviving driver restarts — and never a rescan of the stream's rows.
    *
    * Replay-immune where the driver fold is not: the batch's OUTPUT
    * PARTITION is keyed by batchId and written with overwrite, so an
    * at-least-once redelivery rewrites the same row instead of
    * double-counting (the foreachBatch idempotence idiom).
    */
  def storeQuantileSketches(stream: DataFrame, valueCol: String,
                            sketchDir: String, k: Int = 256)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .agg(graft.functions.QuantileSketch
            .quantile_sketch(col(valueCol), k).as("sk"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$sketchDir/batch_id=$batchId")
        ()
      }
      .start()

  /** One bounded KMV sketch row per (micro-batch, group): the streaming
    * build side of [[graft.ops.Kmv]]. `stream` must already carry the
    * group column and a deterministic long hash column (ops.Kmv.hashKey
    * for the oracle-exact md5 form). Per batch the aggregate ships at
    * most k longs per group; `overwrite` into `batch_id=N` makes an
    * at-least-once replay REWRITE its batch instead of duplicating it —
    * and because bottom-k-of-bottom-ks == bottom-k-of-union (KmvSpec),
    * the merged read side equals the one-shot batch build EXACTLY, so
    * the streamed sketch crosses the same DuckDB oracle the batch sketch
    * does (st16 — unlike the quantile sketch, whose merge is order-
    * sensitive by contract).
    */
  def storeKmvSketches(stream: DataFrame, grpCol: String, hashCol: String,
                       sketchDir: String, k: Int = 256)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.groupBy(col(grpCol).as("grp"))
          .agg(graft.functions.KmvAgg.kmv_sketch(col(hashCol), k).as("mins"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$sketchDir/batch_id=$batchId")
        ()
      }
      .start()

  /** A point-in-time view of a streamed Misra-Gries summary: candidate
    * keys with their (under-)counts, the exact total row count folded in,
    * and the key's type for re-joining against stored data. The candidate
    * guarantee carried over from batch ([[graft.ops.HeavyHitters]]): every
    * key with true frequency >= 1/budget of `total` is present — merging
    * per-batch summaries keeps the undercount <= total/(budget+1)
    * (Agarwal et al., PODS 2012), so a verify pass over candidates only
    * still returns the EXACT heavy hitters.
    */
  final case class MgSnapshot(counters: Seq[(Any, Long)], total: Long,
                              budget: Int,
                              keyType: org.apache.spark.sql.types.DataType) {
    /** Exact heavy hitters at `minFraction`, verified against `data`
      * (the at-rest table the stream fed — or any table to count over):
      * broadcast the bounded candidate set, count exactly, threshold.
      * Refuses a `minFraction` below the summary's guarantee (the
      * candidate set is only provably complete at >= 1/budget) — the
      * same strict bound the batch op enforces, checked here because the
      * threshold is chosen at snapshot time, not at maintenance time.
      */
    def exactHeavyHitters(data: DataFrame, key: String,
                          minFraction: Double): DataFrame = {
      graft.ops.HeavyHitters.requireBudget(minFraction, budget)
      val spark = data.sparkSession
      graft.ops.HeavyHitters.exactOverCandidates(spark,
        data.select(col(key)), counters.map(_._1).toArray, keyType,
        minFraction, total, key)
    }
  }

  /** Incrementally maintained heavy-hitter summary over a stream: each
    * micro-batch runs the per-partition Misra-Gries pass (bounded state,
    * no shuffle) and its summaries fold into ONE driver-held MG summary of
    * `budget` counters — the streaming twin of [[graft.ops.HeavyHitters]],
    * exploiting that MG summaries are mergeable with no loss of the
    * candidate guarantee. Driver state is `budget` counters + one long,
    * whatever the stream length; the stream itself is never retained.
    * Candidates at minFraction >= 1/budget are provably complete, so a
    * downstream exact verify ([[MgSnapshot.exactHeavyHitters]]) stays
    * gate-oracle-able against plain GROUP BY ... HAVING.
    */
  def maintainHeavyHitters(stream: DataFrame, key: String, budget: Int = 256)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => MgSnapshot) = {
    val acc = new java.util.HashMap[Any, Long](budget * 2)
    var total = 0L
    val keyType = stream.schema(key).dataType
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val summary = graft.ops.HeavyHitters.partitionSummaries(
          batch.select(col(key)), budget)
        // foreachBatch callbacks run sequentially; synchronize only against
        // concurrent snapshot() readers
        acc.synchronized {
          total += summary.iterator.filter(_.getBoolean(2)).map(_.getLong(1)).sum
          graft.ops.HeavyHitters.mgMergeInto(acc,
            summary.iterator.filterNot(_.getBoolean(2))
              .map(r => (r.get(0), r.getLong(1))), budget)
        }
        ()
      }
      .start()
    def snapshot(): MgSnapshot = acc.synchronized {
      import scala.jdk.CollectionConverters._
      MgSnapshot(acc.entrySet().asScala.map(e => (e.getKey, e.getValue)).toSeq,
        total, budget, keyType)
    }
    (q, () => snapshot())
  }

  /** Gap-based sessionization with custom state
    * (KeyValueGroupedDataset.flatMapGroupsWithState). Sessions close when
    * `gapMs` passes without an event for the user (emitted as soon as a
    * later event proves the gap) or on event-time timeout.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._

    def flush(uid: Long, st: SessionState): Session =
      Session(uid, new Timestamp(st.startMs), new Timestamp(st.lastMs), st.n, st.sumValue)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          for (e <- sorted) {
            val t = e.ts.getTime
            if (st == null) st = SessionState(t, t, 1, e.value)
            else if (t - st.lastMs > gapMs) {
              out += flush(uid, st)
              st = SessionState(t, t, 1, e.value)
            } else st = SessionState(st.startMs, math.max(st.lastMs, t), st.n + 1,
                                     st.sumValue + e.value)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Sessionization with event-time timeout: like [[sessionize]], but open
    * sessions also FLUSH once the watermark passes lastEvent + gap — no
    * session waits forever for a next event that never comes. Input must
    * carry a watermark on `ts`.
    */
  def sessionizeWithTimeout(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._

    def flush(uid: Long, st: SessionState): Session =
      Session(uid, new Timestamp(st.startMs), new Timestamp(st.lastMs), st.n, st.sumValue)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed lastEvent + gap: close the open session
            val out = state.getOption.map(flush(uid, _)).iterator
            state.remove()
            out
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            for (e <- sorted) {
              val t = e.ts.getTime
              if (st == null) st = SessionState(t, t, 1, e.value)
              else if (t - st.lastMs > gapMs) {
                out += flush(uid, st)
                st = SessionState(t, t, 1, e.value)
              } else st = SessionState(st.startMs, math.max(st.lastMs, t), st.n + 1,
                                       st.sumValue + e.value)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastMs + gapMs)
            }
            out.iterator
          }
      }
  }

  /** Streaming file ingestion: readStream over a parquet directory with the
    * engine's windowed aggregation — the Trigger.AvailableNow shape the
    * reference's daily batch maps onto.
    */
  def fileStream(spark: SparkSession, path: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  // ---- derived indexes (protocol and layout: DerivedIndex) -----------
  //
  // Per kind: the layout, the batch writer, the content column, and the
  // geometry pinned in `_META`.

  /** Streaming ANN index maintenance: each micro-batch of embeddings is
    * assigned to its IVF cell (a pure broadcast projection —
    * [[graft.sim.Ann.IvfModel.assign]] is a codegen'd argmax over the
    * fitted centroids, no shuffle) and published to a batch-dir,
    * CELL-PARTITIONED parquet index (`batch_id=N/cell=M/`), so probe-time
    * reads touch only the probed cells' directories. This closes the
    * fit-rarely / ingest-continuously / query-often loop: Lloyd runs once
    * offline ([[graft.sim.Ann.fitIvf]]), the stream keeps the index
    * current, [[graft.sim.Ann.ivfSearch]] serves against the growing
    * index (read `spark.read.parquet(path)` — the extra batch_id
    * partition column is inert to the search).
    *
    * Delivery is at-least-once, and the overwrite-by-batch-dir layout
    * (the near-dup index discipline) makes a foreachBatch REPLAY rewrite
    * identical content instead of appending duplicates — exactly-once
    * index bytes without driver state. A PRODUCER re-sending rows in a
    * genuinely new batch still duplicates (dedup upstream via
    * [[dedupStream]] or [[ingestToDocStore]]'s seen-key anti-join);
    * results stay correct either way because ivfSearch deduplicates
    * candidates before the exact re-rank. Replays also honor takedowns:
    * each batch anti-joins ids tombstoned at-or-after it
    * ([[removeFromIvfIndex]]), so a replayed pre-takedown batch can
    * never reinstate removed vectors. A `_META` sidecar pins the model
    * geometry + centroid content — resuming (or probing) with a
    * different model fails loudly instead of silently probing wrong
    * cells.
    */
  def ingestToIvfIndex(stream: DataFrame, model: graft.sim.Ann.IvfModel,
                       path: String, embCol: String = "embedding",
                       idCol: String = "vec_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        if (!batch.isEmpty)
          ivfBatch(batch.toDF(), bid, path, model, idCol, embCol)
        ()
      }

  /** The IVF layout: `batch_id=N/cell=M/` at the root, tombstones in
    * `_tombstones` (underscore-prefixed so `spark.read.parquet(indexPath)`
    * partition discovery never sees them as data dirs). `data` is the
    * indexed rows' columns when known (a CDC-synced index holds exactly
    * the id and the embedding); a stream-built index holds whatever its
    * stream carried.
    */
  private def ivfLayout(indexPath: String,
                        data: Option[StructType] = None): IndexLayout =
    IndexLayout(indexPath, Seq(BatchTree(indexPath, Some("cell"), data = data)),
      s"$indexPath/_tombstones")

  /** One IVF ingest batch: tombstone-filter, assign cells, publish as
    * `batch_id=N/cell=M/` with static overwrite (replay-idempotent).
    * Shared by the stream sink and [[syncIvfIndex]].
    */
  private[graft] def ivfBatch(batch: DataFrame, bid: Long, indexPath: String,
                                  model: graft.sim.Ann.IvfModel,
                                  idCol: String, embCol: String): Long = {
    val fs = fsOf(batch.sparkSession, indexPath)
    val ix = ivfLayout(indexPath)
    healAll(fs, ix) // a crashed compaction heals first
    requireIvfGeometry(fs, indexPath, model, "ingestToIvfIndex")
    writeMeta(fs, indexPath, Seq("cells" -> model.centroids.length,
      "centroids" -> model.centroids.hashCode()))
    // the returned count rides the write job as an Observation (the
    // DocStore.insertMany pattern), so no caller pays a second pass over
    // the batch to count it. Observed before the tombstone anti-join: the
    // count is input rows, pre-tombstone.
    val obs = org.apache.spark.sql.Observation()
    withoutTombstoned(fs, ix, batch.observe(obs, count(lit(1)).as("rows")), idCol, bid)
      .withColumn("cell", model.assign(col(embCol)))
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .option("partitionOverwriteMode", "static")
      .parquet(s"$indexPath/batch_id=$bid")
    obs.get("rows").asInstanceOf[Long]
  }

  /** Validate `model` against the index's `_META` pin (cell count + a
    * content hash of the centroid values, written by the first batch).
    * Cell ids are only comparable under the SAME fitted centroids — a
    * mismatched model would silently assign/probe wrong cells (no error,
    * just wrong recall), the same failure class the near-dup `_META`
    * guards against.
    */
  private def requireIvfGeometry(fs: FileSystem,
                                 indexPath: String,
                                 model: graft.sim.Ann.IvfModel,
                                 what: String): Unit = {
    val stored = readMeta(fs, indexPath)
    stored.get("cells").foreach(s => require(s.toInt == model.centroids.length,
      s"$what: model has ${model.centroids.length} cells but the index " +
        s"at $indexPath was built with ${s.trim} — cell ids are not comparable"))
    stored.get("centroids").foreach(s =>
      require(s.toInt == model.centroids.hashCode(),
        s"$what: model centroids differ from the ones the index at " +
          s"$indexPath was built with — refit drift; rebuild the index " +
          "or serve with the persisted model (ModelStore)"))
    // layout guard: an index written by the pre-batch-dir layout has
    // `cell=M` dirs at the ROOT. Appending `batch_id=N/cell=M` next to
    // them would put leaf files at different depths and brick every
    // later partition discovery ("Conflicting directory structures") —
    // refuse LOUDLY before the first write lands instead
    val root = new Path(indexPath)
    if (fs.exists(root) &&
        fs.listStatus(root).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("cell=")))
      throw new IllegalStateException(
        s"$what: the index at $indexPath uses the legacy root-level " +
          "cell=M layout; the batch-dir layout (batch_id=N/cell=M) " +
          "cannot be mixed into it — rebuild the index from the corpus")
  }

  /** TAKEDOWN for an IVF index built by [[ingestToIvfIndex]] /
    * [[syncIvfIndex]]: purge `ids` so no future probe or replayed ingest
    * batch can serve them — the right-to-be-forgotten operation for an
    * embedding index, the [[DerivedIndex]] takedown protocol (tombstones
    * first, one discovery aggregate, stage-then-swap rewrites of the
    * affected batch dirs, repartitioned by cell). Returns how many
    * indexed vectors were removed. The sync poll ([[syncIvfIndex]]) runs
    * its own cell-hinted takedown without tombstones. Single-writer like
    * the ingest: do not run while a batch is in flight.
    */
  def removeFromIvfIndex(spark: SparkSession, indexPath: String,
                         ids: DataFrame, idCol: String = "vec_id"): Long = {
    require(fsOf(spark, indexPath).exists(new Path(indexPath)),
      s"removeFromIvfIndex: no index at $indexPath")
    val ix = ivfLayout(indexPath)
    takedown(spark, ix, ids, idCol)(_ => Some(ix.trees.head.read(spark)))
  }

  /** The IVF takedown's discovery scan, pruned by partition to `cells` —
    * at 100 TB the difference between scanning the whole index's id
    * column and O(hinted cells). The caller owns the hint's COMPLETENESS
    * (a missed cell = an incomplete takedown).
    */
  private def ivfScope(spark: SparkSession, ix: IndexLayout, cells: Seq[Long]): DataFrame =
    ix.trees.head.read(spark).filter(col("cell").isin(cells: _*))

  /** Keep an IVF ANN index FOLLOWING a DocStore corpus by cursor CDC —
    * the embedding twin of [[syncNearDupIndex]], so a mutating corpus
    * never leaves its ANN index stale or holding removed vectors:
    * appended embeddings are assigned and join the index;
    * deleted documents' vectors are taken down (batch-dir rewrites);
    * an UPDATED embedding is re-indexed — but only when the vector
    * actually changed (a metadata-only document update touches nothing).
    * Returns how many vectors were upserted this poll.
    *
    * Exactly-once by the [[DerivedIndex]] sync protocol: a poll is a
    * takedown (idempotent) + one [[ivfBatch]] at the deterministic
    * `lastBid + 1`, with the consumed cursor committed to `_SYNC` only
    * after both. The takedown's discovery scan is CELL-HINTED: the
    * superseded vectors live in the cells their before-images (the
    * window's first change per id) assign to under the `_META`-pinned
    * model, and that cell set rides the poll's checkpoint job. The model
    * must stay FIXED across polls (fit once, persist via ModelStore, serve
    * forever — refitting would scramble cell ids under the existing
    * index).
    */
  def syncIvfIndex(spark: SparkSession, srcPath: String, indexPath: String,
                   model: graft.sim.Ann.IvfModel,
                   idCol: String = "vec_id", embCol: String = "embedding",
                   maxBatchDirs: Int = 0): Long = {
    requireIvfGeometry(fsOf(spark, indexPath), indexPath, model, "syncIvfIndex")
    // the hint: the DISTINCT CELLS of the superseded vectors (<= nCells
    // values, never ids). A null before-image (the doc carried no
    // embedding at the cursor) was never indexed, so its absence from the
    // hint is exact. Crash-replay sound: a replayed poll's after-image
    // copies live only in batch `bid`, which the ivfBatch after the
    // takedown overwrites whole. A synced index holds exactly the polled
    // (id, embedding) rows, so they give its layout's file columns.
    syncIndex[Long](spark, srcPath, ivfLayout(indexPath, _), "ivf", "syncIvfIndex",
      idCol, embCol, maxBatchDirs, 0L, identity,
      side => Seq(min_by(side("before"), col("generation")).as("__embBefore")),
      when(col("__embBefore").isNotNull, model.assign(col("__embBefore"))))(
      ivfBatch(_, _, indexPath, model, idCol, embCol)) { (ix, cells) =>
      if (cells.isEmpty) None else Some(ivfScope(spark, ix, cells))
    }
  }

  /** Fold an IVF index's `batch_id=N/cell=M` dirs at/below the safe
    * cutoff into one consolidated batch ([[DerivedIndex]] fold; per-cell
    * layout preserved, so cell-pruned probes and the takedown's cell
    * hints work unchanged). knn/sync results are row-identical before and
    * after; a crashed run heals at the next entry. Returns folded dir
    * count.
    */
  def compactIvfIndex(spark: SparkSession, indexPath: String,
                      maxBatchDirs: Int = 1,
                      maxFileBytes: Long = 1L << 28): Long =
    foldIndex(spark, ivfLayout(indexPath), maxBatchDirs, maxFileBytes)

  /** Streaming NEAR-DUP detection: the dedup twin of [[ingestToIvfIndex]]
    * — documents stream in, each micro-batch is checked for near-
    * duplicates against EVERYTHING ingested before it (and within
    * itself), matches are emitted incrementally, and the batch then joins
    * the index. This is the shape a continuously-fed training corpus
    * needs: reject/flag a near-dup at ARRIVAL time instead of re-running
    * the full O(corpus) MinHash job nightly.
    *
    * Index layout under `indexPath` (all plain parquet, no driver state —
    * a restarted driver resumes from the directories):
    *  - `keys/batch_id=N/slot=S/` — LSH band keys, slot =
    *    xxhash64(band, band_hash) mod 16: a probe reads ONLY the slots
    *    its batch touches (partition pruning), never the whole key set
    *  - `shingles/batch_id=N/id_slot=S/` — shingle sets for exact
    *    verification, id-sloted the same way, read only for candidate ids
    *  - `matches/batch_id=N/` — verified (id_a, id_b, jaccard) emitted by
    *    that batch
    * Every per-batch write is OVERWRITE-by-batch-dir, so an at-least-once
    * replay rewrites identical content instead of duplicating it (reads
    * filter `batch_id < current`, so a replayed batch also cannot match
    * against its own half-written previous attempt). Replays also honor
    * takedowns: each batch filters its input against the
    * `tombstones/` sidecar ([[removeFromNearDupIndex]]), so a replayed
    * pre-takedown batch can never reinstate removed documents.
    *
    * Per-batch cost is bounded by the batch, not the corpus: band keys
    * and shingles are batch-sized projections; the stored-key probe is a
    * slot-pruned read semi-joined to batch buckets; bucket caps
    * ([[graft.dedup.BucketDrops]], counted drops) bound pair fan-out with
    * bucket sizes evaluated as-of arrival (a bucket that later exceeds
    * the cap keeps its earlier, legitimately-emitted matches — arrival-
    * time semantics, the streaming analogue of m1's cap; drained-stream
    * == one-shot-batch pair equality on under-cap data is pinned in
    * StreamsSpec). Shingle reads for verification are id-slot-pruned to
    * the candidate set.
    */
  def ingestToNearDupIndex(stream: DataFrame, indexPath: String,
                           idCol: String = "doc_id", textCol: String = "text",
                           k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                           threshold: Double = 0.7, maxBucket: Int = 1000)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
      // guard against an empty trigger: the whole per-batch pipeline
      // (reads, joins, three writes) would run for nothing
      if (!batch.isEmpty) {
        // ResolveWriteToStream force-disables AQE on the stream's cloned
        // session; the work in this sink is plain batch actions (joins,
        // aggregates, parquet writes) where AQE's broadcast conversion
        // and partition coalescing are exactly what we want — without it
        // every join in the candidate chain is a sort-merge at the fixed
        // partition count (~2x slower per batch, measured). The flip
        // touches only that cloned session, and the prior value is
        // restored after the batch so the streaming engine's own planning
        // never sees a conf it decided to disable.
        val spark = batch.sparkSession
        val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        try nearDupBatch(batch, bid, indexPath, idCol, textCol,
          k, bands, rowsPerBand, threshold, maxBucket)
        finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      }
      ()
    }

  /** Slot count of the near-dup trees: keys by xxhash64(band, band_hash),
    * shingles by xxhash64(id), each mod `Slots`.
    */
  private val Slots = 16L

  /** A near-dup id's shingles slot. */
  private def idSlot(id: Column): Column = pmod(xxhash64(id), lit(Slots))

  /** The near-dup layout: `keys` (slot), `shingles` (id_slot) and
    * `matches` (pairs, unpartitioned), in that order. Given the id field,
    * every tree's file columns are known: they are the columns the
    * [[graft.dedup.MinHashDedup]] kernels write (band is the posexplode
    * position, shingles are strings).
    */
  private def nearDupLayout(indexPath: String,
                            id: Option[StructField] = None): IndexLayout = {
    def data(fields: StructField => Seq[StructField]) = id.map(i => StructType(fields(i)))
    IndexLayout(indexPath,
      Seq(BatchTree(s"$indexPath/keys", Some("slot"), data = data(i =>
          Seq(i, StructField("band", IntegerType), StructField("band_hash", LongType)))),
        BatchTree(s"$indexPath/shingles", Some("id_slot"), data = data(i =>
          Seq(i, StructField("sh", ArrayType(StringType))))),
        BatchTree(s"$indexPath/matches", None, pairs = true, data = data(i =>
          Seq(i.copy(name = "id_a"), i.copy(name = "id_b"), StructField("jaccard", DoubleType))))),
      s"$indexPath/tombstones")
  }

  /** Validate against the index's LSH geometry, persisted as `_META` by
    * the first ingest batch: band hashes are only comparable when shingle
    * size and banding match, so a probe or a later ingest run with
    * different parameters would silently produce garbage candidates
    * (usually: no matches at all — "the eval set is clean" when it is
    * not). `_META` also carries `shingles_sorted=1`: the shingles tree
    * holds SORTED duplicate-free arrays (the shingleSets kernel), which
    * the merge-walk verify requires — it silently undercounts on unsorted
    * input. An index whose shingles predate that flag (written before the
    * kernel, or before `_META` existed) is refused: rebuild it.
    */
  private def requireNearDupGeometry(fs: FileSystem,
                                     indexPath: String, k: Int, bands: Int,
                                     rowsPerBand: Int, what: String): Unit = {
    val stored = readMeta(fs, indexPath)
    def chk(nm: String, v: Int): Unit = stored.get(nm).foreach(s =>
      require(s.trim.toInt == v,
        s"$what: $nm=$v does not match the geometry this index was built " +
          s"with ($nm=${s.trim}, from $indexPath/_META) — band hashes are " +
          "only comparable under identical shingling and banding"))
    chk("k", k); chk("bands", bands); chk("rowsPerBand", rowsPerBand)
    if (!stored.get("shingles_sorted").exists(_.trim == "1") &&
        fs.exists(new Path(s"$indexPath/shingles")))
      throw new IllegalStateException(
        s"$what: the index at $indexPath predates sorted shingle arrays " +
          "(no shingles_sorted=1 in its _META) — rebuild the index from " +
          "the corpus")
  }

  /** READ-ONLY probe of a near-dup index built by
    * [[ingestToNearDupIndex]]: which of `docs` are near-duplicates of
    * the INDEXED corpus? The contamination check an eval set runs
    * against a training corpus — same slot-pruned key probe, bucket
    * caps, and exact-Jaccard verify as the ingest path, but nothing is
    * published (the index is untouched) and probe-vs-probe pairs are
    * NOT reported (only probe-vs-corpus contamination; self-dedup the
    * probe set separately if needed). Cap semantics: stored buckets over
    * `maxBucket` are dropped AND counted ([[graft.dedup.BucketDrops]]),
    * with `requirePair = false` — a probe reaches a bucket via its own
    * key, so a SINGLE stored member still pairs.
    *
    * Returns (probe id as `id_a`, indexed id as `id_b`, jaccard),
    * MATERIALIZED (`localCheckpoint`) — the result is bounded by verified
    * matches, and materializing it lets the probe-side caches be released
    * before returning instead of leaking them into the caller's session.
    */
  def probeNearDupIndex(docs: DataFrame, indexPath: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                        threshold: Double = 0.7, maxBucket: Int = 1000)
      : DataFrame = {
    val spark = docs.sparkSession
    val fs = fsOf(spark, indexPath)
    val keysDir = s"$indexPath/keys"
    val shDir = s"$indexPath/shingles"
    require(fs.exists(new Path(keysDir)) && fs.exists(new Path(shDir)),
      s"probeNearDupIndex: $indexPath has no keys/shingles dirs — build " +
        "the index with ingestToNearDupIndex first")
    // a crashed compaction must complete before any read: between its
    // intent and rename some batch dirs exist only in the staged union
    healIndexCompaction(fs, keysDir); healIndexCompaction(fs, shDir)
    requireNearDupGeometry(fs, indexPath, k, bands, rowsPerBand, "probeNearDupIndex")
    val sh = graft.dedup.MinHashDedup
      .shingleSets(docs, idCol, textCol, k).cache()
    val keys = graft.dedup.MinHashDedup
      .bandKeysFromShingles(sh, idCol, bands, rowsPerBand)
      .withColumn("slot", pmod(xxhash64(col("band"), col("band_hash")), lit(Slots)))
      .cache()
    def emptyResult = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        docs.schema(docs.schema.fieldIndex(idCol)).copy(name = "id_a"),
        docs.schema(docs.schema.fieldIndex(idCol)).copy(name = "id_b"),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType))))
    val slots = keys.select("slot").distinct().collect().map(_.getLong(0)).toSeq
    if (slots.isEmpty) { // empty probe set
      sh.unpersist(); keys.unpersist(); return emptyResult
    }
    val storedKeys = spark.read.parquet(keysDir)
      .filter(col("slot").isin(slots: _*))
      .select(col("band"), col("band_hash"), col(idCol))
    // stored bucket sizes for the cap (the probe side cannot blow up a
    // bucket it merely visits); requirePair=false per the BucketDrops
    // contract — a single stored member still pairs with a probe
    val counts = storedKeys.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n"))
    val under = graft.dedup.BucketDrops
      .keepUnderCap(counts, "__n", maxBucket, "neardup-probe",
        requirePair = false)
      .select("band", "band_hash")
    val cands = keys.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
      .join(storedKeys.select(col("band"), col("band_hash"), col(idCol).as("id_b")),
        Seq("band", "band_hash"))
      .join(under, Seq("band", "band_hash"), "leftsemi")
      .filter(col("id_a") =!= col("id_b")) // a doc probed against an index containing it
      .select("id_a", "id_b").distinct()
    val candSlots = cands
      .select(idSlot(col("id_b")).as("s"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (candSlots.isEmpty) { sh.unpersist(); keys.unpersist(); return emptyResult }
    val storedSh = spark.read.parquet(shDir)
      .filter(col("id_slot").isin(candSlots: _*))
      .select(col(idCol), col("sh"))
    // SIDE-CORRECT verify: id_a resolves from the PROBE shingles, id_b
    // from the (slot-pruned) STORED shingles — a probe doc reusing an
    // indexed id with different text must be compared against the
    // INDEXED text on the b side, not its own. Both sides sorted and
    // duplicate-free => exact Jaccard as one merge walk per pair
    // (|A∪B| = |A|+|B|-|A∩B|), the verifiedPairsFromShingles kernel.
    val inter = graft.functions.functions
      .sorted_intersect_count(col("sh_a"), col("sh_b"))
    val out = cands
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(storedSh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // materialize BEFORE releasing the probe-side caches: the lazy frame
    // still references sh/keys, and unpersisting first would silently
    // recompute the whole candidate chain at the caller's first action
    val result = out.localCheckpoint()
    sh.unpersist(); keys.unpersist()
    result
  }

  /** TAKEDOWN for a near-dup index built by [[ingestToNearDupIndex]]:
    * purge `ids` from the index so no FUTURE ingest batch or
    * [[probeNearDupIndex]] call can ever match against them — the
    * right-to-be-forgotten operation a training-corpus index needs.
    * Returns how many indexed documents were actually removed (0 = the
    * ids were never indexed; loud no-op signal).
    *
    * The [[DerivedIndex]] takedown protocol: cost is bounded by the
    * AFFECTED ingest batches, not the index — the id-slot-pruned shingle
    * read locates each id's batch, and only those batches' keys/shingles
    * dirs (plus the match dirs that mention the ids — found by one scan
    * of the pair-sized matches table) are rewritten, stage-then-swap, so
    * a crash can never lose the surviving docs' rows for a batch.
    *
    * REPLAY-PROOF via tombstones: before any rewrite, the requested ids
    * are appended to `indexPath/tombstones/` stamped with the max batch
    * id existing at takedown time (`cutoff_bid`), and every ingest batch
    * anti-joins its input against tombstones whose cutoff covers its own
    * batch id — so an at-least-once replay of a pre-takedown batch
    * rewrites the batch WITHOUT the removed ids instead of reinstating
    * them, with no stream quiescing required. A genuinely NEW batch
    * (id above the cutoff) is untouched: re-inserting a removed document
    * later remains a deliberate producer choice. Batch ids are monotonic
    * within a checkpoint lineage — the same contract the
    * overwrite-by-batch-dir layout already requires of the ingest.
    * ([[syncNearDupIndex]], whose replay protocol is already
    * deterministic, runs its own takedown without tombstones.)
    *
    * Single-writer like the ingest itself: do not run while a batch is in
    * flight (a DRAINED stream between triggers is fine — empty triggers
    * write nothing).
    */
  def removeFromNearDupIndex(spark: SparkSession, indexPath: String,
                             ids: DataFrame, idCol: String = "doc_id"): Long = {
    val fs = fsOf(spark, indexPath)
    require(fs.exists(new Path(s"$indexPath/keys")) &&
        fs.exists(new Path(s"$indexPath/shingles")),
      s"removeFromNearDupIndex: $indexPath has no keys/shingles dirs")
    val ix = nearDupLayout(indexPath)
    takedown(spark, ix, ids, idCol) { idDf =>
      // bounded driver collect: the ids' id-slots, at most `Slots` values
      nearDupScope(spark, ix, idDf.select(idSlot(col(idCol)))
        .distinct().collect().map(_.getLong(0)).toSeq)
    }
  }

  /** The near-dup takedown's discovery scan: the shingles tree pruned to
    * the removed ids' id-slots.
    */
  private def nearDupScope(spark: SparkSession, ix: IndexLayout,
                           idSlots: Seq[Long]): Option[DataFrame] =
    if (idSlots.isEmpty) None
    else Some(ix.trees(1).read(spark).filter(col("id_slot").isin(idSlots: _*)))

  /** MAINTENANCE for a near-dup index: fold accumulated batch dirs of
    * keys/shingles/matches into one consolidated dir each, whenever any
    * of them exceeds `maxBatchDirs` ([[DerivedIndex]] fold). Probe/poll
    * results are row-identical before and after. Returns the number of
    * batch dirs folded away across the three trees. Single-maintainer:
    * never run while a poll/ingest/takedown is in flight.
    */
  def compactNearDupIndex(spark: SparkSession, indexPath: String,
                          maxBatchDirs: Int = 1,
                          maxFileBytes: Long = 1L << 28): Long =
    foldIndex(spark, nearDupLayout(indexPath), maxBatchDirs, maxFileBytes)

  /** One [[maintainAll]] pass's outcome: the store triad's report plus
    * the batch dirs folded per registered derived index.
    */
  final case class MaintainAllReport(
      store: graft.sources.DocStore.MaintenanceReport,
      indexesFolded: Map[String, Long])

  /** The WHOLE maintenance story — store AND derived indexes — as ONE
    * idempotent call: [[graft.sources.DocStore.maintain]]'s triad
    * (tail-merge / recluster / vacuum; every threshold but `maxDataFiles`
    * at maintain's default), then every index registered
    * against the store (the sync entry points self-register on every
    * poll) folds its batch dirs via [[compactNearDupIndex]] /
    * [[compactIvfIndex]] under the same `maxBatchDirs` policy. Every leg
    * is threshold-gated: a healthy store and healthy indexes cost
    * metadata listings only and commit nothing, so the operator cron
    * collapses to this one line (`docstore_maintain_all` on the SQL
    * surface), run after every ingest window. Registry entries whose
    * index dir no longer exists (operator deleted the index) are pruned
    * from the registry rather than probed forever. Single-maintainer on
    * the index legs — never run concurrently with a poll/ingest/takedown
    * of the same index, the [[compactNearDupIndex]] contract.
    *
    * Registry entries are ABSOLUTE index paths: cloning a store directory
    * copies its `_INDEXES` verbatim, so the clone's registry still names
    * the original's indexes until a sync against the clone registers the
    * clone's own. An operator cloning a store should clear `_INDEXES` in
    * the copy — otherwise the clone's maintainAll folds the ORIGINAL's
    * indexes (content-preserving, but a second maintainer the swap lock
    * then has to arbitrate).
    */
  def maintainAll(spark: SparkSession, path: String,
                  keyCol: Option[String] = None,
                  maxDataFiles: Int = 64,
                  retain: Int = 2,
                  maxBatchDirs: Int = 8): MaintainAllReport = {
    val store = graft.sources.DocStore.maintain(spark, path, keyCol,
      maxDataFiles = maxDataFiles, retain = retain)
    val entries = registeredIndexes(spark, path)
    val (live, dead) = entries.partition { case (_, idx) =>
      fsOf(spark, idx).exists(new Path(idx))
    }
    if (dead.nonEmpty) {
      val fs = fsOf(spark, path)
      // prune under the registry monitor, against a FRESH read — the
      // stale `entries` list would clobber a registration a concurrent
      // sync poll just added (self-healing, but no reason to rely on it)
      registryGuard(fs, path).synchronized {
        val deadSet = dead.toSet
        writeIndexRegistry(fs, path,
          registeredIndexes(spark, path).filterNot(deadSet.contains))
      }
    }
    val folded = live.map {
      case ("neardup", idx) =>
        idx -> compactNearDupIndex(spark, idx, maxBatchDirs)
      case ("ivf", idx) =>
        idx -> compactIvfIndex(spark, idx, maxBatchDirs)
      case (kind, idx) =>
        // an unknown kind (registry written by a newer version) is left
        // alone — folding with the wrong layout assumptions could corrupt
        idx -> 0L
    }.toMap
    MaintainAllReport(store, folded)
  }

  /** Keep a near-dup index FOLLOWING a DocStore corpus by cursor CDC —
    * the loop that makes the index a live property of the collection
    * rather than a nightly rebuild: appended documents are matched
    * against everything already indexed and join it (arrival-time
    * semantics, the [[ingestToNearDupIndex]] batch body); deleted
    * documents are taken down (keys, shingles, AND the matches that
    * referenced them — right-to-be-forgotten follows the source delete
    * with no separate workflow); updated documents are re-indexed under
    * their new text, but ONLY when the text actually changed — a
    * metadata-only update touches nothing (pinned). Returns the poll's
    * newly verified matches (typed-empty when caught up).
    *
    * Exactly-once by the [[DerivedIndex]] sync protocol: a poll is a
    * takedown (idempotent) + one nearDupBatch at the deterministic
    * `lastBid + 1`, with the consumed cursor committed to `_SYNC` only
    * after both — pinned by restoring `_SYNC` and re-polling. Within one
    * poll the old content is removed before the new is ingested, so the
    * new batch's self/stored matching never sees the superseded text.
    * The index belongs to this maintainer (single-writer, like the
    * stream ingest). At 100 TB every poll costs O(changed documents +
    * their candidate buckets), never a corpus rescan.
    */
  def syncNearDupIndex(spark: SparkSession, srcPath: String, indexPath: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                       threshold: Double = 0.7, maxBucket: Int = 1000,
                       maxBatchDirs: Int = 0)
      : DataFrame = {
    val fs = fsOf(spark, indexPath)
    requireNearDupGeometry(fs, indexPath, k, bands, rowsPerBand,
      "syncNearDupIndex")
    // the hint: the removed ids' id-slots, at most `Slots` values
    syncIndex[DataFrame](spark, srcPath, rows => nearDupLayout(indexPath,
        rows.map(_(idCol))), "neardup", "syncNearDupIndex", idCol, textCol,
      maxBatchDirs, emptyMatches(spark), _.localCheckpoint(true), _ => Nil,
      idSlot(col(idCol)))({ (batch, bid) =>
      nearDupBatch(batch, bid, indexPath, idCol, textCol,
        k, bands, rowsPerBand, threshold, maxBucket)
      val matches = nearDupLayout(indexPath, Some(batch.schema(idCol))).trees(2)
      if (fs.exists(new Path(s"${matches.dir}/batch_id=$bid"))) matches.readBatch(spark, bid)
      else emptyMatches(spark)
    })(nearDupScope(spark, _, _))
  }

  /** Typed-empty (id_a, id_b, jaccard) frame — the no-new-matches poll. */
  private def emptyMatches(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "jaccard")
  }

  private def nearDupBatch(batch: DataFrame, bid: Long,
                           indexPath: String, idCol: String, textCol: String,
                           k: Int, bands: Int, rowsPerBand: Int,
                           threshold: Double, maxBucket: Int): Unit = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, indexPath)
    val ix = nearDupLayout(indexPath, Some(batch.schema(idCol)))
    val Seq(keysTree, shTree, _) = ix.trees
    def existing(dir: String): Boolean = fs.exists(new Path(dir))
    val keysDir = keysTree.dir
    val shDir = shTree.dir
    // complete a crashed compaction before reading stored keys/shingles
    healAll(fs, ix)
    // geometry contract: resuming an index with different parameters
    // would write incomparable band hashes — fail loudly instead
    requireNearDupGeometry(fs, indexPath, k, bands, rowsPerBand,
      "ingestToNearDupIndex")
    writeMeta(fs, indexPath, Seq("k" -> k, "bands" -> bands,
      "rowsPerBand" -> rowsPerBand, "shingles_sorted" -> 1))
    val live = withoutTombstoned(fs, ix, batch, idCol, bid)

    val sh = graft.dedup.MinHashDedup
      .shingleSets(live, idCol, textCol, k).cache()
    // the slots this batch touches (at most `Slots` values) ride the job
    // that materializes its keys
    val keyed = org.apache.spark.sql.Observation()
    val keys = graft.dedup.MinHashDedup
      .bandKeysFromShingles(sh, idCol, bands, rowsPerBand)
      .withColumn("slot", pmod(xxhash64(col("band"), col("band_hash")), lit(Slots)))
      .observe(keyed, collect_set(col("slot")).as("slots"))
      .localCheckpoint(true)
    val slots = keyed.get("slots").asInstanceOf[Seq[Long]].sorted
    // stored keys pruned TWICE: partition pruning to the slots this
    // batch touches, then a broadcast semi-join to the batch's exact
    // (band, band_hash) bucket set — only buckets the batch can pair
    // with are read into the candidate machinery. At 100 TB this is
    // the difference between "stored keys in 16 slots" (corpus-sized)
    // and "stored members of batch-touched buckets" (delta-sized).
    // Cap semantics unchanged: bucket sizes still count ALL members of
    // a touched bucket; untouched buckets' pairs were old-old and
    // filtered out downstream anyway. The bucket set is broadcast as-is:
    // a repeated bucket cannot widen a semi-join, so de-duplicating it
    // would only cost an exchange.
    val storedKeys =
      if (existing(keysDir) && slots.nonEmpty)
        keysTree.read(spark)
          .filter(col("batch_id") < bid && col("slot").isin(slots: _*))
          .join(broadcast(keys.select(col("band"), col("band_hash"))),
            Seq("band", "band_hash"), "leftsemi")
          .select(col("band"), col("band_hash"), col(idCol))
      else keys.select(col("band"), col("band_hash"), col(idCol)).limit(0)
    val combined = storedKeys
      .unionByName(keys.select(col("band"), col("band_hash"), col(idCol)))
    // cap evaluated over stored+batch bucket membership (as-of arrival);
    // candidatePairs counts drops via BucketDrops
    val cands = graft.dedup.MinHashDedup
      .candidatePairs(combined, idCol, maxBucket)
    // keep only pairs touching THIS batch (old-old pairs were already
    // reported when their second member arrived): two broadcast LEFT
    // joins adding presence flags, one filter — no shuffle and no
    // re-distinct (cands is already distinct), where a semi-join per
    // side plus a union-distinct would cost three more stages
    val newIds = live.select(col(idCol)).distinct()
    // the candidate ids' slots (at most `Slots` values) ride the job that
    // materializes the candidates
    val paired = org.apache.spark.sql.Observation()
    val candsNew = cands
      .join(broadcast(newIds.select(col(idCol).as("id_a"), lit(true).as("__a"))),
        Seq("id_a"), "left")
      .join(broadcast(newIds.select(col(idCol).as("id_b"), lit(true).as("__b"))),
        Seq("id_b"), "left")
      .filter(coalesce(col("__a"), lit(false)) || coalesce(col("__b"), lit(false)))
      .select("id_a", "id_b")
      .observe(paired, collect_set(idSlot(col("id_a"))).as("a"),
        collect_set(idSlot(col("id_b"))).as("b"))
      .localCheckpoint(true)
    val candSlots = Seq("a", "b")
      .flatMap(paired.get(_).asInstanceOf[Seq[Long]]).distinct.sorted
    val storedSh =
      if (existing(shDir) && candSlots.nonEmpty)
        shTree.read(spark)
          .filter(col("batch_id") < bid && col("id_slot").isin(candSlots: _*))
          .select(col(idCol), col("sh"))
      else sh.select(col(idCol), col("sh")).limit(0)
    val shAll = storedSh.unionByName(sh.select(col(idCol), col("sh")))
    val verified = graft.dedup.MinHashDedup
      .verifiedPairsFromShingles(shAll, candsNew, idCol, threshold)

    // repartition BY the partition column before a partitionBy write:
    // otherwise every one of the N shuffle tasks opens a file in every
    // slot dir (N x Slots tiny files + that many committer renames);
    // clustered, each slot dir gets one file. ALL THREE writes
    // (matches, keys, shingles) are independent — different dirs;
    // matches correctness never depended on write order (readers
    // filter batch_id < bid) and a crash leaving any subset of the
    // three dirs replays byte-identically (overwrite-by-batch-dir,
    // with the takedown cutoff covering half-written batches) — so
    // they run CONCURRENTLY ([[Parallel.runAll]]). Static overwrite
    // explicitly: replay idempotence needs the whole batch dir
    // REPLACED, whatever the session's partitionOverwriteMode.
    Parallel.runAll(spark, Seq(
      () => verified.write.mode(SaveMode.Overwrite)
        .parquet(s"$indexPath/matches/batch_id=$bid"),
      () => keys.select(col(idCol), col("band"), col("band_hash"), col("slot"))
        .repartition(col("slot"))
        .write.mode(SaveMode.Overwrite).partitionBy("slot")
        .option("partitionOverwriteMode", "static")
        .parquet(s"$keysDir/batch_id=$bid"),
      () => sh.withColumn("id_slot", idSlot(col(idCol)))
        .repartition(col("id_slot"))
        .write.mode(SaveMode.Overwrite).partitionBy("id_slot")
        .option("partitionOverwriteMode", "static")
        .parquet(s"$shDir/batch_id=$bid")))
    sh.unpersist()
  }

  /** Per-user conversion-window state: first-signup anchor (Long.MaxValue
    * while unanchored), pending stage events (ms, stageCode 2/3/4), max
    * event time seen, and a post-emission tombstone (`done`) so a
    * re-signup after the window closed cannot re-anchor and emit a
    * second row for the user.
    */
  final case class FunnelBuf(t1: Long, buf: List[(Long, Int)], lastMs: Long,
                             done: Boolean = false)
  final case class FunnelResult(user_id: Long, stage: Int,
                                t1: Long, t2: Option[Long],
                                t3: Option[Long], t4: Option[Long])

  /** Streaming conversion-window funnel: signup -> view -> click ->
    * purchase, each stage STRICTLY after the previous and all within
    * `windowMs` of the user's FIRST signup. Emits exactly one row per
    * anchored user, when the watermark proves the window closed — at that
    * point no admissible event can change the answer, so the result is
    * EXACT for any micro-batch cut and any (watermark-admissible) event
    * order. This is the piece the min-per-stage batch funnel (fn1) cannot
    * give a stream: incremental evaluation with bounded state.
    *
    * Why buffering is necessary for exactness: the stage recurrence
    * t2 = min(view > t1) is NOT order-insensitive — a late-arriving
    * earlier signup lowers t1 and can admit a view that was already seen
    * and would have been discarded. So stage events are buffered until
    * the window provably closed. State stays bounded: the buffer only
    * holds events inside [min(watermark, t1), t1 + windowMs] — pruning
    * below min(wm, t1) is sound because the final anchor satisfies
    * t1_final >= min(t1_now, wm) (late signups below the watermark are
    * dropped by Spark before reaching the operator), and anything above
    * t1 + windowMs can never join the funnel. Per-user cost is one
    * window's worth of stage events, the same bound any conversion-window
    * system pays.
    *
    * Emission boundary (restated by the st10 oracle): a user emits iff
    * final_watermark > t1 + windowMs; younger anchors are withheld at
    * end-of-drain — st9's holdback semantics, deterministic for fixed
    * data because the watermark derives from event timestamps.
    */
  def funnelStream(events: Dataset[Event], windowMs: Long): Dataset[FunnelResult] = {
    import events.sparkSession.implicits._
    val stageOf = Map("view" -> 2, "click" -> 3, "purchase" -> 4)

    def finalize(uid: Long, st: FunnelBuf): FunnelResult = {
      val sorted = st.buf.filter(p => p._1 > st.t1 && p._1 <= st.t1 + windowMs).sorted
      var t2 = -1L; var t3 = -1L; var t4 = -1L
      sorted.foreach { case (t, c) =>
        c match {
          case 2 if t2 < 0 => t2 = t
          case 3 if t3 < 0 && t2 > 0 && t > t2 => t3 = t
          case 4 if t4 < 0 && t3 > 0 && t > t3 => t4 = t
          case _ => ()
        }
      }
      val stage = 1 + Seq(t2, t3, t4).takeWhile(_ > 0).size
      FunnelResult(uid, stage, st.t1,
        Option(t2).filter(_ > 0), Option(t3).filter(_ > 0), Option(t4).filter(_ > 0))
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, FunnelResult](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[FunnelBuf]) =>
          if (!it.hasNext && state.hasTimedOut) {
            val st = state.getOption
            st match {
              case Some(s) if s.t1 != Long.MaxValue && !s.done =>
                // emit once, then TOMBSTONE rather than remove: a later
                // re-signup must not re-anchor and emit a second row for
                // the user. One tombstone per emitted user is the price
                // of exactly-once keyed output (the dropDuplicates
                // state-shape); removing it is a retention policy choice
                // the caller can layer on.
                state.update(FunnelBuf(s.t1, Nil, s.lastMs, done = true))
                Iterator.single(finalize(uid, s))
              case Some(_) => state.remove(); Iterator.empty // unanchored GC
              case None => Iterator.empty
            }
          } else {
            val wm = state.getCurrentWatermarkMs()
            val prev = state.getOption.getOrElse(FunnelBuf(Long.MaxValue, Nil, 0L))
            if (prev.done) {
              it.foreach(_ => ()) // drain; post-emission events are irrelevant
              state.update(prev)  // keep the tombstone, set no timeout
              Iterator.empty
            } else {
              var t1 = prev.t1
              var last = prev.lastMs
              val add = List.newBuilder[(Long, Int)]
              it.foreach { e =>
                val t = e.ts.getTime
                if (t > last) last = t
                if (e.event_type == "signup") { if (t < t1) t1 = t }
                else stageOf.get(e.event_type).foreach(c => add += ((t, c)))
              }
              val lower = math.min(wm, t1) // t1 == MaxValue while unanchored -> wm
              val buf = (prev.buf ++ add.result()).filter(p =>
                p._1 >= lower && (t1 == Long.MaxValue || p._1 <= t1 + windowMs))
              if (t1 != Long.MaxValue && wm > t1 + windowMs) {
                // window already provably closed inside this batch
                state.update(FunnelBuf(t1, Nil, last, done = true))
                Iterator.single(finalize(uid, FunnelBuf(t1, buf, last)))
              } else {
                state.update(FunnelBuf(t1, buf, last))
                // Spark fires an event-time timeout when timeoutTs <
                // watermark (STRICT), so timeoutTs = t1 + windowMs fires
                // exactly when wm > t1 + windowMs — the same boundary the
                // inline check and the st10 oracle state. The clamp floor
                // is wm, NOT wm + 1: setTimeoutTimestamp accepts equality
                // with the current watermark (GroupStateImpl rejects only
                // timeoutTs < wm), so when this batch observes
                // wm == t1 + windowMs the timeout stays at t1 + windowMs
                // and still fires at the exact oracle boundary — a +1
                // floor would push it to t1 + windowMs + 1 and withhold a
                // user whose final watermark lands exactly on
                // t1 + windowMs + 1, which the oracle emits.
                state.setTimeoutTimestamp(math.max(wm,
                  if (t1 != Long.MaxValue) t1 + windowMs else last + windowMs))
                Iterator.empty
              }
            }
          }
      }
  }
}
