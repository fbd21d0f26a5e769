package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import Streams.Event

class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("windowedCounts aggregates per event-time window across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.windowedCounts(mem.toDF(), watermark = "5 seconds",
        windowLen = "1 minute")
      .writeStream.outputMode("complete").format("memory").queryName("wc").start()
    mem.addData(Event(1, ts(0), "click", 2.0), Event(1, ts(10), "click", 3.0))
    q.processAllAvailable()
    mem.addData(Event(2, ts(70), "view", 1.0))
    q.processAllAvailable()
    val out = spark.table("wc").orderBy("window_start", "event_type")
      .select("event_type", "cnt", "value_sum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    assert(out == Seq(("click", 2L, 5.0), ("view", 1L, 1.0)))
  }

  test("dedupStream drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.dedupStream(mem.toDF(), Seq("user_id", "event_type"))
      .writeStream.outputMode("append").format("memory").queryName("dd").start()
    mem.addData(Event(1, ts(0), "click", 1.0), Event(1, ts(1), "click", 9.0),
                Event(2, ts(2), "view", 4.0))
    q.processAllAvailable()
    val n = spark.table("dd").count()
    q.stop()
    assert(n == 2) // (1,click) deduped
  }

  test("enrichWithDim joins each micro-batch against the static dim, state-free") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "bronze")).toDF("cust_id", "tier")
    val q = Streams.enrichWithDim(mem.toDF(), dim, "user_id", "cust_id")
      .writeStream.outputMode("append").format("memory").queryName("en").start()
    mem.addData(Event(1, ts(0), "click", 2.0), Event(3, ts(1), "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(2, ts(5), "view", 4.0))
    q.processAllAvailable()
    val out = spark.table("en").select("user_id", "tier").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    q.stop()
    // user 3 has no dim row -> dropped by the inner join; both batches joined
    assert(out == Seq((1L, "gold"), (2L, "bronze")))
  }

  test("sessionize closes a session when the gap is exceeded") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 30000)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    // session 1: 3 events within gap; then 60s silence; session 2 opens
    mem.addData(Event(7, ts(0), "a", 1.0), Event(7, ts(10), "a", 2.0),
                Event(7, ts(20), "a", 3.0))
    q.processAllAvailable()
    mem.addData(Event(7, ts(80), "a", 5.0)) // proves the 60s gap -> closes s1
    q.processAllAvailable()
    val sessions = spark.table("sess").orderBy("start").as[Streams.Session].collect()
    q.stop()
    assert(sessions.length == 1) // only the closed session is emitted
    assert(sessions(0).n_events == 3 && sessions(0).total_value == 6.0)
    assert(sessions(0).start == ts(0) && sessions(0).end == ts(20))
  }

  test("sessionizeWithTimeout flushes open sessions when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val withWm = mem.toDS()
      .withWatermark("ts", "0 seconds")
      .as[Event]
    val q = Streams.sessionizeWithTimeout(withWm, gapMs = 30000)
      .writeStream.outputMode("append").format("memory").queryName("sesst").start()
    mem.addData(Event(9, ts(0), "a", 1.0), Event(9, ts(5), "a", 2.0))
    q.processAllAvailable()
    // advance the watermark far past 9's lastEvent+gap via another key
    mem.addData(Event(8, ts(500), "b", 1.0))
    q.processAllAvailable()
    mem.addData(Event(8, ts(1000), "b", 1.0)) // one more batch so timeout fires
    q.processAllAvailable()
    val sessions = spark.table("sesst").as[Streams.Session].collect()
      .filter(_.user_id == 9)
    q.stop()
    assert(sessions.length == 1, s"open session must flush on timeout: ${sessions.toSeq}")
    assert(sessions(0).n_events == 2 && sessions(0).total_value == 3.0)
  }

  test("intervalJoin matches across micro-batch boundaries (left arrives before right)") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[Event]
    val right = MemoryStream[Event]
    val joined = Streams.intervalJoin(
      left.toDF(),
      right.toDF().select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("value").as("r_value")),
      "user_id", "r_user", "ts", "r_ts", windowSpec = "1 minute")
      .select(col("user_id"), col("value"), col("r_value"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ij").start()
    // left event first; its matching right event only arrives two batches later
    left.addData(Event(1, ts(100), "click", 10.0))
    q.processAllAvailable()
    right.addData(Event(1, ts(70), "error", 1.0))   // 30 s before -> in window
    q.processAllAvailable()
    right.addData(Event(1, ts(30), "error", 2.0))   // 70 s before -> outside
    right.addData(Event(2, ts(95), "error", 3.0))   // other user
    q.processAllAvailable()
    val out = spark.table("ij").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    q.stop()
    assert(out == Set((1L, 10.0, 1.0)),
      s"exactly the in-window same-user pair, whatever the batch cuts: $out")
  }

  test("intervalJoinOuter: matches emit as pairs, evicted non-matches as nulls") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[Event]
    val right = MemoryStream[Event]
    val joined = Streams.intervalJoinOuter(
      left.toDF(),
      right.toDF().select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("value").as("r_value")),
      "user_id", "r_user", "ts", "r_ts",
      windowSpec = "1 minute", watermark = "1 minute")
      .select(col("user_id"), col("value"), col("r_value"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ijo").start()
    left.addData(Event(1, ts(100), "click", 10.0)) // will match
    left.addData(Event(2, ts(100), "click", 20.0)) // never matches
    q.processAllAvailable()
    right.addData(Event(1, ts(70), "error", 1.0))
    q.processAllAvailable()
    // nothing unmatched emitted yet: user 2 may still find a partner
    val mid = spark.table("ijo").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(mid == Set((1L, 10.0)), s"only the matched pair before eviction: $mid")
    // push both watermarks far past ts(100); the outer row emits in the
    // eviction (no-data) batch AFTER the watermark-advancing data batch
    left.addData(Event(9, ts(1000), "click", 0.0))
    right.addData(Event(9, ts(1000), "error", 0.0))
    q.processAllAvailable()
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (System.nanoTime < deadline &&
           !spark.table("ijo").collect().exists(_.isNullAt(2)))
      Thread.sleep(50)
    val out = spark.table("ijo").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    q.stop()
    // user 2's row is null-extended; the watermark-advancing rows at
    // ts(1000) are younger than the final watermark and stay withheld
    assert(out == Set((1L, 10.0, Some(1.0)), (2L, 20.0, None)), out.toString)
  }

  test("state-store parity: RocksDB provider yields identical results to HDFS-backed") {
    implicit val sqlCtx = spark.sqlContext
    // the two stateful shapes that carry real state: a stream-stream
    // interval join (two-sided join state) and a windowed aggregation
    var n = 0
    def run(tag: String): (Set[(Long, Double, Double)], Set[(String, Long)]) = {
      n += 1
      val left = MemoryStream[Event]
      val right = MemoryStream[Event]
      val joined = Streams.intervalJoin(
        left.toDF(),
        right.toDF().select(col("user_id").as("r_user"), col("ts").as("r_ts"),
          col("value").as("r_value")),
        "user_id", "r_user", "ts", "r_ts", windowSpec = "1 minute")
        .select(col("user_id"), col("value"), col("r_value"))
      val q = joined.writeStream.outputMode("append").format("memory")
        .queryName(s"ssp_j_$tag$n").start()
      val src = MemoryStream[Event]
      val counts = Streams.windowedCounts(src.toDF(), "10 seconds", "1 minute")
        .select(col("event_type"), col("cnt"))
      val q2 = counts.writeStream.outputMode("update").format("memory")
        .queryName(s"ssp_c_$tag$n").start()
      left.addData(Event(1, ts(100), "click", 10.0))
      src.addData(Event(1, ts(5), "click", 1.0), Event(1, ts(7), "click", 1.0))
      q.processAllAvailable(); q2.processAllAvailable()
      right.addData(Event(1, ts(70), "error", 1.0), Event(1, ts(30), "error", 2.0))
      src.addData(Event(2, ts(8), "click", 1.0))
      q.processAllAvailable(); q2.processAllAvailable()
      val j = spark.table(s"ssp_j_$tag$n").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      val c = spark.table(s"ssp_c_$tag$n").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      q.stop(); q2.stop()
      (j, c)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = run("h")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = run("r")
      assert(rocks == hdfs, s"provider changed results: $rocks vs $hdfs")
      assert(rocks._1 == Set((1L, 10.0, 1.0)))
    } finally spark.conf.unset(key)
  }

  test("ingestToDocStore: replayed micro-batches are idempotent (dedup-before-insert)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("st6").toString + "/coll"

    def run(events: Seq[Event]*): Unit = {
      val mem = MemoryStream[Event]
      val q = Streams.ingestToDocStore(
        mem.toDF().withColumn("k", col("user_id") * 1000 + unix_timestamp(col("ts"))),
        dir, "k", expectedKeys = 1000L)
      events.foreach { batch => mem.addData(batch); q.processAllAvailable() }
      q.stop()
    }

    val b1 = Seq(Event(1, ts(0), "click", 1.0), Event(2, ts(1), "view", 2.0))
    val b2 = Seq(Event(2, ts(1), "view", 2.0), Event(3, ts(2), "click", 3.0)) // overlaps b1
    run(b1, b2)
    run(b1 ++ b2) // full replay in one batch
    val docs = graft.sources.DocStore.find(spark, dir)
    assert(docs.count() == 3, "three distinct keys, whatever the replay/overlap")
    assert(docs.select("k").distinct().count() == 3)
  }

  test("ingestToDocStore: duplicate keys WITHIN one micro-batch insert once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("st7").toString + "/coll"
    val mem = MemoryStream[Event]
    val q = Streams.ingestToDocStore(
      mem.toDF().withColumn("k", col("user_id") * 1000 + unix_timestamp(col("ts"))),
      dir, "k", expectedKeys = 1000L)
    // FIRST batch (empty store — the branch with no anti-join) carries the
    // same key twice, plus a later batch that also repeats a key internally
    mem.addData(Seq(Event(1, ts(0), "click", 1.0), Event(1, ts(0), "view", 9.0)))
    q.processAllAvailable()
    mem.addData(Seq(Event(2, ts(1), "view", 2.0), Event(2, ts(1), "view", 2.0),
                    Event(3, ts(2), "click", 3.0)))
    q.processAllAvailable()
    q.stop()
    val docs = graft.sources.DocStore.find(spark, dir)
    assert(docs.count() == 3, "one row per key even when a batch repeats keys")
    assert(docs.select("k").distinct().count() == 3)
  }

  test("ingestToDocStore autoCompactAt: file count stays bounded, rows exact") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("st-ac").toString + "/coll"
    val mem = MemoryStream[Event]
    val q = Streams.ingestToDocStore(
      mem.toDF().withColumn("k", col("user_id")), dir, "k",
      expectedKeys = 1000L, autoCompactAt = 4)
    // ten single-row batches: unchecked, that is >= 10 data files
    for (i <- 1 to 10) {
      mem.addData(Seq(Event(i.toLong, ts(i % 5), "click", i.toDouble)))
      q.processAllAvailable()
    }
    q.stop()
    val docs = graft.sources.DocStore.find(spark, dir)
    assert(docs.count() == 10)
    assert(docs.select("k").distinct().count() == 10)
    // the policy kept the live generation's file count at or under the
    // threshold + one uncompacted tail batch
    assert(docs.inputFiles.length <= 5,
      s"auto-compaction did not bound files: ${docs.inputFiles.length}")
  }

  test("maintainCms: sketch merged across micro-batches equals the batch-built sketch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val (q, sketch) = Streams.maintainCms(mem.toDF(), "user_id", depth = 3, width = 16)
    // a snapshot BEFORE any batch is a usable empty sketch (estimates 0),
    // not an untyped one that fails analysis
    val pre = graft.ops.Sketch.cmsEstimate(sketch(), Seq(1L).toDF("user_id"), "user_id")
      .head().getLong(1)
    assert(pre == 0L)
    val b1 = (1 to 30).map(i => Event(i % 5, ts(i), "click", 1.0))
    val b2 = (1 to 20).map(i => Event(i % 7, ts(100 + i), "view", 2.0))
    mem.addData(b1); q.processAllAvailable()
    val mid = sketch() // snapshot mid-stream must already cover batch 1
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    val merged = sketch()
    val whole = graft.ops.Sketch.cmsBuild((b1 ++ b2).toDF(), col("user_id"), 3, 16)
    assert(merged.cells.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet ==
           whole.cells.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet)
    assert(merged.depth == 3 && merged.width == 16 && merged.keyType == whole.keyType)
    val midTotal = mid.cells.agg(sum("cnt")).head().getLong(0)
    assert(midTotal == b1.size.toLong * 3) // depth rows per input row
  }

  test("maintainHeavyHitters: merged MG summary keeps every frequent key and exact-verifies") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // 400 rows: user 1 is 40% (heavy), user 2 is 20% (heavy), the rest are
    // a 1%-each long tail; budget 8 forces real evictions in every batch
    val all = (0 until 400).map { i =>
      val u = if (i % 10 < 4) 1L else if (i % 10 < 6) 2L
              else 10L + (i % 37)
      Event(u, ts(i), "click", 1.0)
    }
    val (q, snap) = Streams.maintainHeavyHitters(mem.toDF(), "user_id", budget = 8)
    val pre = snap()
    assert(pre.total == 0L && pre.counters.isEmpty)
    all.grouped(55).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val s = snap()
    assert(s.total == 400L)
    assert(s.counters.size <= 8) // bounded driver state, whatever the stream
    // candidate completeness at 1/budget: both true heavy keys survived
    val candidates = s.counters.map(_._1).toSet
    assert(candidates.contains(1L) && candidates.contains(2L))
    // MG undercount bound relative to the folded total
    val exact = all.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    s.counters.foreach { case (k, c) =>
      val e = exact(k.asInstanceOf[Long])
      assert(c <= e && e - c <= 400L / 9, s"key $k: mg=$c exact=$e")
    }
    // exact verify over the at-rest data == plain group-by/having
    val hh = s.exactHeavyHitters(all.toDF(), "user_id", minFraction = 0.125)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hh == Map(1L -> 160L, 2L -> 80L))
    // a threshold below the summary's guarantee (1/budget) is refused,
    // not silently incomplete
    intercept[IllegalArgumentException] {
      s.exactHeavyHitters(all.toDF(), "user_id", minFraction = 0.01)
    }
  }

  test("maintainHll: streamed registers equal the batch build; replay cannot inflate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val all = (0 until 300).map(i => Event(i % 41, ts(i), "click", 1.0))
    val (q, snap) = Streams.maintainHll(mem.toDF(), "user_id", p = 8)
    all.grouped(70).foreach { b => mem.addData(b); q.processAllAvailable() }
    // replay an already-seen slice: register max is idempotent
    mem.addData(all.take(70)); q.processAllAvailable()
    q.stop()
    val streamed = snap().registers.collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val whole = graft.ops.Hll.hllBuild(all.toDF(), col("user_id"), p = 8)
      .registers.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(streamed == whole)
    // 41 distinct users at p=8: linear counting is near-exact (bucket
    // collisions at m=256 can shift it by ~1)
    val est = graft.ops.Hll.hllEstimate(snap()).head().getLong(0)
    assert(math.abs(est - 41L) <= 2L, s"est=$est")
  }

  test("batch/stream unification: windowedCounts runs on a plain DataFrame") {
    val batch = Seq(Event(1, ts(0), "click", 2.0), Event(1, ts(10), "click", 3.0)).toDF()
    val out = Streams.windowedCounts(batch).collect()
    assert(out.length == 1 && out(0).getAs[Long]("cnt") == 2L)
  }

  test("ingestToIvfIndex: search over the streamed index equals the batch-assigned path") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // deterministic synthetic embeddings: 3 loose clusters in 4-d
    def vec(i: Long): Array[Float] = {
      val c = (i % 3).toInt
      Array.tabulate(4)(j =>
        (if (j == c) 10f else 0f) + ((i * 31 + j * 7) % 5) * 0.1f)
    }
    val all = (0L until 40L).map(i => (i, vec(i)))
    val corpus = all.toDF("vec_id", "embedding")
    val model = graft.sim.Ann.fitIvf(corpus, nCells = 3, lloydIters = 2)
    val index = java.nio.file.Files.createTempDirectory("ivf-ingest").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.ingestToIvfIndex(
      mem.toDF().toDF("vec_id", "embedding"), model, index).start()
    mem.addData(all.take(15): _*); q.processAllAvailable()
    mem.addData(all.slice(15, 30): _*); q.processAllAvailable()
    // a replayed slice: at-least-once appends may duplicate index rows...
    mem.addData(all.slice(25, 40): _*); q.processAllAvailable()
    q.stop()
    val queries = corpus.filter(col("vec_id") < 5)
    def run(cells: org.apache.spark.sql.DataFrame) =
      graft.sim.Ann.ivfSearch(model, cells, queries, k = 3, nProbe = 2)
        .select("q_id", "rk", "vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val streamed = run(spark.read.parquet(index))
    val batch = run(corpus.withColumn("cell", model.assign(col("embedding"))))
    // ...but results are identical: ivfSearch dedupes candidates before
    // the exact re-rank
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("funnelStream: partial funnels, out-of-order batches, withheld young anchor") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val windowMs = 60_000L // 1-minute conversion window
    val q = Streams.funnelStream(
        mem.toDF().withWatermark("ts", "5 seconds").as[Event], windowMs)
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName("fu").start()
    // user 1: full funnel, but the anchor signup arrives in a LATER batch
    // than the view (out-of-order across batches) — buffering must admit
    // the view retroactively.
    // user 2: signup + click only (skips view) -> stage stays 1: the
    // click cannot chain without a view.
    // user 3: signup then view AFTER the window -> stage 1.
    // user 4: view only, never anchored -> no row.
    mem.addData(Event(1, ts(10), "view", 0), Event(2, ts(0), "signup", 0),
                Event(4, ts(5), "view", 0))
    q.processAllAvailable()
    // signup at ts(7): AFTER batch 1's watermark (ts(10) - 5s = ts(5), at
    // which boundary Spark's late filter would drop it) yet BEFORE the
    // already-arrived view at ts(10) — the retroactive-anchor case
    mem.addData(Event(1, ts(7), "signup", 0), Event(1, ts(20), "click", 0),
                Event(1, ts(30), "purchase", 0), Event(2, ts(10), "click", 0),
                Event(3, ts(15), "signup", 0))
    q.processAllAvailable()
    mem.addData(Event(3, ts(90), "view", 0)) // outside 3's window
    q.processAllAvailable()
    // advance the watermark far past every window to force emission
    mem.addData(Event(9, ts(500), "signup", 0))
    q.processAllAvailable()
    // user 3 re-signs-up AFTER its funnel emitted: the tombstone must
    // swallow the re-anchor — no second row for user 3 even after the
    // new window also closes
    mem.addData(Event(3, ts(496), "signup", 0), Event(3, ts(497), "view", 0))
    q.processAllAvailable()
    mem.addData(Event(10, ts(1000), "signup", 0))
    q.processAllAvailable()
    val rows = spark.table("fu")
      .select("user_id", "stage").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    q.stop()
    assert(rows.map(_._1).distinct.size == rows.size,
      s"duplicate user emission: $rows")
    val out = rows.toMap
    // user 4 never anchored; user 9's window closed once ts(1000) moved
    // the watermark (stage 1); user 10 withheld (young anchor)
    assert(out == Map(1L -> 4, 2L -> 1, 3L -> 1, 9L -> 1), s"got $out")
  }

  test("maintainQuantileSketch: streamed fold matches batch n exactly, rank-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Double]
    val vals = (1 to 4000).map(i => ((i * 2654435761L) % 10007).toDouble)
    val (q, snap) = Streams.maintainQuantileSketch(
      mem.toDF().toDF("value"), "value", k = 128)
    // three micro-batches, including a tiny one (exercises merge of a
    // below-k raw buffer into an already-collapsed sketch)
    mem.addData(vals.take(1500): _*); q.processAllAvailable()
    mem.addData(vals.slice(1500, 3995): _*); q.processAllAvailable()
    mem.addData(vals.drop(3995): _*); q.processAllAvailable()
    q.stop()
    val b = snap()
    assert(b.n == vals.length) // additive fold, nothing replayed: exact n
    val sorted = vals.sorted.toArray
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val est = b.quantile(p)
      val idx = {
        val i = java.util.Arrays.binarySearch(sorted, est)
        if (i >= 0) i else -(i + 1)
      }
      val err = math.abs(idx.toDouble - p * sorted.length) / sorted.length
      assert(err <= 0.02, s"p=$p est=$est rank err $err")
    }
  }

  test("storeQuantileSketches: one row per batch, replay-idempotent, SQL serve within bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vals = (1 to 4000).map(i => ((i * 2654435761L) % 10007).toDouble)
    val dir = java.nio.file.Files.createTempDirectory("graft-sketchtab-spec").toString
    def runStream(): Unit = {
      val mem = MemoryStream[Double]
      val q = Streams.storeQuantileSketches(
        mem.toDF().toDF("value"), "value", dir, k = 128)
      mem.addData(vals.take(1500): _*); q.processAllAvailable()
      mem.addData(vals.slice(1500, 3995): _*); q.processAllAvailable()
      mem.addData(vals.drop(3995): _*); q.processAllAvailable()
      q.stop()
    }
    runStream()
    val table = spark.read.parquet(dir)
    assert(table.count() == 3) // one bounded row per micro-batch
    // full REPLAY of the whole stream (fresh source, same batch ids):
    // overwrite-by-batch rewrites rows instead of double-counting
    runStream()
    assert(spark.read.parquet(dir).count() == 3)
    // serve by pure SQL: merged n is exact, estimates rank-bounded
    spark.read.parquet(dir).createOrReplaceTempView("sketchtab_spec_v")
    val served = spark.sql(
      """SELECT sketch_count(m) AS n, sketch_quantiles(m, array(0.1D, 0.5D, 0.9D)) AS q
        |FROM (SELECT quantile_sketch_merge(sk) AS m FROM sketchtab_spec_v)
        |""".stripMargin).head()
    assert(served.getLong(0) == vals.length)
    val sorted = vals.sorted.toArray
    Seq(0.1, 0.5, 0.9).zip(served.getSeq[Double](1)).foreach { case (p, est) =>
      val idx = {
        val i = java.util.Arrays.binarySearch(sorted, est)
        if (i >= 0) i else -(i + 1)
      }
      val err = math.abs(idx.toDouble - p * sorted.length) / sorted.length
      assert(err <= 0.02, s"p=$p est=$est rank err $err")
    }
  }

  test("storeKmvSketches: streamed-merged sketch == one-shot batch build, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two groups, saturating k=64, members split across three batches
    val rows = (0 until 3000).map(i => ("g" + (i % 2), s"key_$i"))
    val dir = java.nio.file.Files.createTempDirectory("graft-kmvtab-spec").toString
    def runStream(): Unit = {
      val mem = MemoryStream[(String, String)]
      val q = Streams.storeKmvSketches(
        mem.toDF().toDF("grp", "key")
          .select(col("grp"), graft.ops.Kmv.hashKey(col("key")).as("hv")),
        "grp", "hv", dir, k = 64)
      mem.addData(rows.take(1000): _*); q.processAllAvailable()
      mem.addData(rows.slice(1000, 2500): _*); q.processAllAvailable()
      mem.addData(rows.drop(2500): _*); q.processAllAvailable()
      q.stop()
    }
    runStream()
    val stored = spark.read.parquet(dir)
    assert(stored.count() == 6) // one bounded row per (batch, group)
    // full replay: overwrite-by-batch rewrites, never duplicates
    runStream()
    assert(spark.read.parquet(dir).count() == 6)
    // the merged read side is BIT-IDENTICAL to sketching all rows at once
    val merged = graft.ops.Kmv.mergeSketches(
        spark.read.parquet(dir).select("grp", "mins"), k = 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val direct = graft.ops.Kmv.build(
        rows.toDF("grp", "key"), col("grp"), col("key"), k = 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged === direct)
  }

  test("ingestToNearDupIndex: streamed matches across batch cuts == one-shot batch pairs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.dedup.MinHashDedup
    // 8 clusters of 3 near-dup variants (each variant mutates one token of
    // a 12-token base -> high shingle overlap) + 24 unique docs; variants
    // of each cluster are spread across DIFFERENT micro-batches below
    def doc(c: Int, variant: Int): (Long, String) = {
      val toks = (0 until 12).map(i =>
        if (i == variant) s"x${c}_$variant" else s"w${c}_$i")
      (c * 10L + variant, toks.mkString(" "))
    }
    val clustered = for (c <- 0 until 8; v <- 0 until 3) yield doc(c, v)
    val unique = (0 until 24).map(u =>
      (1000L + u, (0 until 12).map(i => s"u${u}_$i").mkString(" ")))
    val all = clustered ++ unique
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-idx").toString
    def runStream(): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = Streams.ingestToNearDupIndex(
        mem.toDF().toDF("doc_id", "text"), dir,
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
        .start()
      // batch 0: variant 0 of every cluster + some uniques; batch 1:
      // variant 1 + uniques; batch 2: variant 2 + uniques — every
      // cluster pair therefore SPANS batch cuts
      for (v <- 0 until 3) {
        mem.addData((clustered.filter(_._1 % 10 == v) ++
          unique.slice(v * 8, v * 8 + 8)): _*)
        q.processAllAvailable()
      }
      q.stop()
    }
    runStream()
    def streamedPairs() = spark.read.parquet(s"$dir/matches")
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = streamedPairs()
    // the one-shot batch job over the full corpus, same geometry
    val shAll = MinHashDedup.shingleSets(
      all.toDF("doc_id", "text"), "doc_id", "text", 3)
    val batchRun = MinHashDedup.verifiedPairsFromShingles(shAll,
        MinHashDedup.candidatePairs(
          MinHashDedup.bandKeysFromShingles(shAll, "doc_id", 16, 4), "doc_id"),
        "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batchRun)
    assert(streamed.nonEmpty)
    // every cluster's cross-batch pairs were found at arrival time
    assert((0 until 8).forall(c =>
      streamed.contains((c * 10L, c * 10L + 1,
        streamed.find(p => p._1 == c * 10L && p._2 == c * 10L + 1).get._3))))
    // full REPLAY into the same index: overwrite-by-batch keeps matches
    // (and the index) identical instead of duplicated
    runStream()
    assert(streamedPairs() == streamed)
    assert(spark.read.parquet(s"$dir/keys").count() == all.size * 16)
  }

  test("probeNearDupIndex: read-only contamination probe == batch reference, index untouched") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.MinHashDedup
    // corpus: 4 clusters of 3 near-dup variants + 6 unique docs
    def doc(c: Int, variant: Int): (Long, String) = {
      val toks = (0 until 12).map(i =>
        if (i == variant) s"x${c}_$variant" else s"w${c}_$i")
      (c * 10L + variant, toks.mkString(" "))
    }
    def uniq(u: Int): (Long, String) =
      (1000L + u, (0 until 12).map(i => s"u${u}_$i").mkString(" "))
    val corpus = (for (c <- 0 until 4; v <- 0 until 3) yield doc(c, v)) ++
      (0 until 6).map(uniq)
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-probe").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestToNearDupIndex(
      mem.toDF().toDF("doc_id", "text"), dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5).start()
    mem.addData(corpus.take(10): _*); q.processAllAvailable()
    mem.addData(corpus.drop(10): _*); q.processAllAvailable()
    q.stop()

    // probe set, adversarial shapes:
    //  - 5000: near-dup of cluster 0 (plain contamination hit)
    //  - 5001: near-dup of UNIQUE doc 1000 — its stored buckets have a
    //    single member, so this pair only survives with requirePair=false
    //  - 11: REUSES indexed id 11 (cluster 1) but carries cluster-2 text —
    //    matches must come from the probe text (sh_a from the probe side)
    //    and the identical-id pair (11,11) must not appear
    //  - 30: reuses indexed id 30 (cluster 3) with UNRELATED text, while
    //  - 5002 is near cluster 3 — the (5002, 30) verify must read 30's
    //    STORED text (sh_b from the index side), not the probe's
    //  - 6000/6001: near-dups of each other, unrelated to the corpus —
    //    probe-vs-probe pairs are not reported
    def mut(base: (Long, String), newId: Long, tokIdx: Int, tok: String): (Long, String) =
      (newId, base._2.split(" ").updated(tokIdx, tok).mkString(" "))
    val probe = Seq(
      mut(doc(0, 0), 5000L, 1, "p0"),
      mut(uniq(0), 5001L, 1, "p1"),
      mut(doc(2, 0), 11L, 1, "p2"),
      (30L, (0 until 12).map(i => s"z${i}_alien").mkString(" ")),
      mut(doc(3, 0), 5002L, 1, "p3"),
      (6000L, (0 until 12).map(i => s"q${i}_only").mkString(" ")),
      mut((6000L, (0 until 12).map(i => s"q${i}_only").mkString(" ")), 6001L, 1, "p4"))
    val probeDf = probe.toDF("doc_id", "text")

    def indexState(): Set[(String, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val b = Set.newBuilder[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += ((f.getPath.toString, f.getLen)) }
      b.result()
    }
    val before = indexState()
    val got = Streams.probeNearDupIndex(probeDf, dir,
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexState() == before, "probe must not touch the index")

    // LSH-faithful reference: band hashes depend only on text, so the
    // probe's candidates (probe keys ∩ stored keys) are exactly the cross
    // pairs of a combined self-join. Rename probe ids into a disjoint
    // space so id collisions (11, 30) resolve each side's text correctly.
    val Off = 100000L
    val combined = (corpus ++ probe.map(p => (p._1 + Off, p._2))).toDF("doc_id", "text")
    val shAll = MinHashDedup.shingleSets(combined, "doc_id", "text", 3)
    val ref = MinHashDedup.verifiedPairsFromShingles(shAll,
        MinHashDedup.candidatePairs(
          MinHashDedup.bandKeysFromShingles(shAll, "doc_id", 16, 4), "doc_id"),
        "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => (p._1 >= Off) != (p._2 >= Off)) // exactly one probe side
      .map { p => // orient: id_a = probe, id_b = indexed
        if (p._1 >= Off) (p._1 - Off, p._2, p._3) else (p._2 - Off, p._1, p._3)
      }
      .filter(p => p._1 != p._2) // the doc-probed-against-itself exclusion
      .toSet
    assert(got == ref, s"probe=$got ref=$ref")
    // the shapes above actually occurred (the reference isn't vacuous)
    assert(got.exists(p => p._1 == 5000L && p._2 / 10 == 0 && p._2 < 1000))
    assert(got.exists(p => p._1 == 5001L && p._2 == 1000L), "singleton stored bucket must pair")
    assert(got.exists(p => p._1 == 11L && p._2 / 10 == 2 && p._2 < 1000),
      "id-colliding probe must match via its PROBE text")
    assert(!got.exists(p => p._1 == 11L && p._2 / 10 == 1 && p._2 < 1000),
      "id-colliding probe must not match the indexed text's own cluster")
    assert(got.exists(p => p._1 == 5002L && p._2 == 30L),
      "verify must read the b side's STORED text")
    assert(!got.exists(p => p._1 == 6000L || p._1 == 6001L),
      "probe-vs-probe pairs are not reported")
    // SQL surface: the neardup_probe table function resolves the view and
    // builds the SAME probe — row-identical to the Column path
    probeDf.createOrReplaceTempView("ndp_probe_v")
    val sqlGot = spark.sql(
        s"SELECT * FROM neardup_probe('ndp_probe_v', '$dir', 'doc_id', 'text', 3, 0.5)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sqlGot == got, "SQL TVF must match the Column path")
    // empty probe: typed empty frame, no jobs against the index needed
    val empty = Streams.probeNearDupIndex(probeDf.limit(0), dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
    assert(empty.isEmpty && empty.columns.toSeq == Seq("id_a", "id_b", "jaccard"))
  }

  test("legacy index without shingles_sorted flag: probe, ingest, sync refuse") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def doc(c: Int, variant: Int): (Long, String) = {
      val toks = (0 until 12).map(i =>
        if (i == variant) s"x${c}_$variant" else s"w${c}_$i")
      (c * 10L + variant, toks.mkString(" "))
    }
    val corpus = for (c <- 0 until 4; v <- 0 until 2) yield doc(c, v)
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-legacy").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestToNearDupIndex(
      mem.toDF().toDF("doc_id", "text"), dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5).start()
    mem.addData(corpus: _*); q.processAllAvailable()
    val probeDf = Seq((5000L, doc(0, 0)._2.replace("w0_5", "p"))).toDF("doc_id", "text")
    def probe() = Streams.probeNearDupIndex(probeDf, dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
    assert(probe().count() > 0)

    // Doctor the index into the LEGACY shape: a _META without the
    // shingles_sorted flag (an index written before the sorted-shingle
    // kernel, whose arrays the merge-walk verify would undercount)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaP = new org.apache.hadoop.fs.Path(dir, "_META")
    val metaTxt = {
      val in = fs.open(metaP)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    }
    assert(metaTxt.contains("shingles_sorted=1"), "new index must claim the flag")
    val out = fs.create(metaP, true)
    try out.write(metaTxt.linesIterator.filterNot(_.startsWith("shingles_sorted"))
      .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    def batchDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/shingles"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    val before = batchDirs()

    def isRefusal(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case r: IllegalStateException => r.getMessage.contains("rebuild the index")
        case _ => false
      }
    // probe
    assert(isRefusal(intercept[IllegalStateException](probe())))
    // ingest: the next micro-batch fails the query before writing anything
    mem.addData(doc(1, 2))
    assert(isRefusal(intercept[Exception](q.processAllAvailable())))
    q.stop()
    assert(batchDirs() == before)
    // sync: refused before the source is even read
    assert(isRefusal(intercept[IllegalStateException] {
      Streams.syncNearDupIndex(spark, s"$dir-src", dir,
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
    }))
    // an index older than _META itself (shingles, no _META) is refused too
    fs.delete(metaP, false)
    assert(isRefusal(intercept[IllegalStateException](probe())))
  }

  test("removeFromNearDupIndex: takedown purges ids from keys/shingles/matches, future-proof") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def doc(c: Int, variant: Int): (Long, String) = {
      val toks = (0 until 12).map(i =>
        if (i == variant) s"x${c}_$variant" else s"w${c}_$i")
      (c * 10L + variant, toks.mkString(" "))
    }
    // 3 clusters of 3; variants 0+1 ingested across two batches
    val b0 = (0 until 3).map(c => doc(c, 0))
    val b1 = (0 until 3).map(c => doc(c, 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-rm").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestToNearDupIndex(
      mem.toDF().toDF("doc_id", "text"), dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5).start()
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    def matches() = spark.read.parquet(s"$dir/matches")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = matches()
    assert((0 until 3).forall(c => before.contains((c * 10L, c * 10L + 1))))

    // remove doc 0 (cluster 0, batch 0) and doc 11 (cluster 1, batch 1);
    // the stream is DRAINED (no batch in flight) — the quiesced window a
    // real deployment runs takedowns in
    val removed = Streams.removeFromNearDupIndex(spark, dir,
      Seq(0L, 11L).toDF("doc_id"))
    assert(removed == 2L)
    // matches mentioning removed ids are gone; all others intact
    assert(matches() == before.filterNot(p =>
      Set(p._1, p._2).exists(Set(0L, 11L))))
    // keys and shingles no longer carry the ids
    assert(spark.read.parquet(s"$dir/keys")
      .filter(col("doc_id").isin(0L, 11L)).isEmpty)
    assert(spark.read.parquet(s"$dir/shingles")
      .filter(col("doc_id").isin(0L, 11L)).isEmpty)
    // a probe near-dup of removed doc 0 matches the SURVIVING cluster-0
    // member only, never the removed id
    val nearC0 = doc(0, 0)._2.split(" ").updated(0, "probe0").mkString(" ")
    val probe = Streams.probeNearDupIndex(
      Seq((9000L, nearC0)).toDF("doc_id", "text"), dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
      .select("id_b").collect().map(_.getLong(0)).toSet
    assert(probe == Set(1L), s"probe saw $probe")
    // the CONTINUING stream's next batch, near-dup of cluster 0, matches
    // survivor 1 only — the takedown holds against future ingests
    mem.addData((9001L, nearC0)); q.processAllAvailable()
    q.stop()
    val newPairs = matches() -- before
    assert(newPairs.nonEmpty && newPairs.forall(p =>
      !Set(p._1, p._2).exists(Set(0L, 11L))), s"takedown leaked into $newPairs")
    assert(newPairs.contains((1L, 9001L)) || newPairs.contains((9001L, 1L)))
    // idempotent: removing again is a counted no-op
    assert(Streams.removeFromNearDupIndex(spark, dir,
      Seq(0L, 11L).toDF("doc_id")) == 0L)
    // unknown ids: loud zero, index untouched
    assert(Streams.removeFromNearDupIndex(spark, dir,
      Seq(424242L).toDF("doc_id")) == 0L)

    // geometry contract: probing with parameters the index was not built
    // with would silently produce garbage candidates — fail loudly instead
    val geomErr = intercept[IllegalArgumentException] {
      Streams.probeNearDupIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"),
        dir, idCol = "doc_id", textCol = "text", k = 4, threshold = 0.5)
    }
    assert(geomErr.getMessage.contains("geometry"))
    intercept[IllegalArgumentException] {
      Streams.probeNearDupIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"),
        dir, idCol = "doc_id", textCol = "text", k = 3, bands = 32,
        rowsPerBand = 2, threshold = 0.5)
    }

    // crash recovery of the takedown swap: simulate dying between the
    // delete and the rename (staging present, live batch dir gone) and a
    // stale staging next to an intact batch dir — the next call heals both
    val kfs = new java.io.File(s"$dir/keys")
    assert(new java.io.File(kfs, "batch_id=0")
      .renameTo(new java.io.File(kfs, ".takedown-b0-crash")))
    new java.io.File(kfs, ".takedown-b2-stale").mkdirs()
    assert(Streams.removeFromNearDupIndex(spark, dir,
      Seq(424242L).toDF("doc_id")) == 0L)
    assert(new java.io.File(kfs, "batch_id=0").isDirectory)
    assert(!new java.io.File(kfs, ".takedown-b0-crash").exists())
    assert(!new java.io.File(kfs, ".takedown-b2-stale").exists())
    // the healed index still serves: survivor 1 plus the later-ingested
    // 9001 (same text), never the removed doc 0
    assert(Streams.probeNearDupIndex(
        Seq((9000L, nearC0)).toDF("doc_id", "text"), dir,
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
      .select("id_b").collect().map(_.getLong(0)).toSet == Set(1L, 9001L))
  }

  test("takedown tombstones: a replayed pre-takedown batch cannot reinstate removed ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def doc(c: Int, variant: Int): (Long, String) = {
      val toks = (0 until 12).map(i =>
        if (i == variant) s"x${c}_$variant" else s"w${c}_$i")
      (c * 10L + variant, toks.mkString(" "))
    }
    val b0 = (0 until 3).flatMap(c => Seq(doc(c, 0), doc(c, 1)))
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-ts").toString
    val mem1 = MemoryStream[(Long, String)]
    val q1 = Streams.ingestToNearDupIndex(
      mem1.toDF().toDF("doc_id", "text"), dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5).start()
    mem1.addData(b0: _*); q1.processAllAvailable(); q1.stop()
    assert(Streams.removeFromNearDupIndex(spark, dir,
      Seq(0L, 11L).toDF("doc_id")) == 2L)
    // AT-LEAST-ONCE REPLAY of the pre-takedown batch: a fresh query (new
    // temp checkpoint) re-delivers the same content at the same batch id —
    // exactly what a post-failure foreachBatch replay does. Without
    // tombstones this overwrite reinstated the removed docs.
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streams.ingestToNearDupIndex(
      mem2.toDF().toDF("doc_id", "text"), dir,
      idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5).start()
    mem2.addData(b0: _*); q2.processAllAvailable()
    // removed ids stay out of every surface: keys, shingles, matches, probe
    assert(spark.read.parquet(s"$dir/keys")
      .filter(col("doc_id").isin(0L, 11L)).isEmpty)
    assert(spark.read.parquet(s"$dir/shingles")
      .filter(col("doc_id").isin(0L, 11L)).isEmpty)
    assert(spark.read.parquet(s"$dir/matches")
      .filter(col("id_a").isin(0L, 11L) || col("id_b").isin(0L, 11L)).isEmpty)
    val nearC0 = doc(0, 0)._2.split(" ").updated(0, "probe0").mkString(" ")
    assert(Streams.probeNearDupIndex(
        Seq((9000L, nearC0)).toDF("doc_id", "text"), dir,
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
      .select("id_b").collect().map(_.getLong(0)).toSet == Set(1L))
    // survivors replayed intact: cluster 2's pair is still indexed/matched
    assert(spark.read.parquet(s"$dir/matches")
      .filter(col("id_a") === 20L && col("id_b") === 21L).count() == 1)
    // a genuinely NEW batch (id above the cutoff) is untouched by the
    // tombstones — deliberately re-inserting a removed id works
    mem2.addData((0L, doc(0, 0)._2)); q2.processAllAvailable(); q2.stop()
    assert(!spark.read.parquet(s"$dir/keys")
      .filter(col("doc_id") === 0L).isEmpty)
  }

  test("funnelStream: exact-boundary emission when wm lands on t1+W then t1+W+1") {
    // The two adversarial watermark landings around the window close:
    //  - a batch observes wm == t1 + W exactly (the timeout clamp case —
    //    setTimeoutTimestamp accepts equality with the watermark, so the
    //    timeout must stay at t1 + W, not slip to t1 + W + 1);
    //  - the FINAL watermark then lands on exactly t1 + W + 1, the first
    //    ms the oracle emits (final_wm > t1 + W). A +1 clamp floor would
    //    withhold this user forever.
    implicit val sqlCtx = spark.sqlContext
    def at(ms: Long) = new Timestamp(1700000000000L + ms)
    val mem = MemoryStream[Event]
    val windowMs = 60_000L
    val q = Streams.funnelStream(
        mem.toDF().withWatermark("ts", "5 seconds").as[Event], windowMs)
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName("fub").start()
    // batch 1: anchor at 0 (t1+W = 60_000); driver event at 65_000 makes
    // the NEXT batch's watermark exactly 60_000 == t1 + W
    mem.addData(Event(20, at(0), "signup", 0), Event(20, at(10_000), "view", 0),
                Event(99, at(65_000), "signup", 0))
    q.processAllAvailable()
    // batch 2 runs with wm == t1 + W: user 20's post-window click forces a
    // state update in exactly the clamp branch (inline wm > t1+W is false)
    mem.addData(Event(20, at(70_000), "click", 0))
    q.processAllAvailable()
    // batch 3: driver event at 65_001 -> final watermark 60_001 == t1+W+1,
    // the first emitting ms; the timeout (60_000 < 60_001) must fire now
    mem.addData(Event(98, at(65_001), "signup", 0))
    q.processAllAvailable()
    val rows = spark.table("fub")
      .select("user_id", "stage").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    q.stop()
    assert(rows == Seq((20L, 2)), s"got $rows") // signup + in-window view
  }
}
