package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.functions.{hamming64, rhp_sig}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the brief:
  *  - [[bruteForceTopK]]: exact cosine — the baseline/oracle. Queries are
  *    broadcast, the corpus streams: O(|corpus| * |queries|) but a single
  *    narrow scan of the corpus, no shuffle of the corpus side.
  *  - [[lshTopK]]: random-hyperplane LSH (custom codegen'd expression
  *    [[graft.functions.RhpSig]]) with banded multi-probe: candidates are
  *    corpus vectors sharing at least one signature band with the query —
  *    an equi-join on compact long keys, so at 100 TB the corpus is hashed
  *    once and only bucket-mates are scored.
  */
object Ann {

  def cosine(a: Column, b: Column): Column = {
    val dot   = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
                          lit(0.0), (acc, v) => acc + v)
    val normA = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
                          lit(0.0), (acc, v) => acc + v))
    val normB = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
                          lit(0.0), (acc, v) => acc + v))
    dot / (normA * normB)
  }

  /** Exact top-k neighbors for each query vector (excluding self-matches). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    corpus.join(broadcast(q), col("q_id") =!= col(idCol))
      .withColumn("cos", cosine(col("q_emb"), col(embCol)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos"))
  }

  /** (id, band, band_value) LSH keys: `numPlanes` hyperplane bits split
    * into `bands` bands. More bands => higher recall, more candidates.
    */
  def bandKeys(df: DataFrame, idCol: String, embCol: String,
               numPlanes: Int, bands: Int, seed: Long): DataFrame = {
    val width = numPlanes / bands
    val mask = (1L << width) - 1
    df.select(col(idCol), col(embCol),
        rhp_sig(col(embCol), numPlanes, seed).as("rhp"))
      .select(col(idCol), col(embCol),
        posexplode(array((0 until bands).map(b =>
          shiftrightunsigned(col("rhp"), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_value"))
  }

  /** Approximate top-k: LSH-bucketed candidates, exact cosine re-rank. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", embCol: String = "embedding",
              numPlanes: Int = 32, bands: Int = 8, seed: Long = 42L): DataFrame = {
    val ck = bandKeys(corpus, idCol, embCol, numPlanes, bands, seed)
    val qk = bandKeys(queries, idCol, embCol, numPlanes, bands, seed)
      .select(col("band"), col("band_value"),
        col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val cands = ck.join(qk, Seq("band", "band_value"))
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col("q_emb"), col(idCol), col(embCol))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    cands.withColumn("cos", cosine(col("q_emb"), col(embCol)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos"))
  }

  /** Hamming distance between two packed RHP signatures (probing helper). */
  def rhpHamming(a: Column, b: Column): Column = hamming64(a, b)

  /** Nearest-cell id as a PURE PROJECTION: the codegen'd
    * [[graft.functions.NearestCell]] kernel maximizing dot product against
    * driver-normalized centroids. Cosine argmax == dot argmax against unit
    * centroids (the row's own norm is a positive constant across cells),
    * so cell assignment costs zero shuffles — the property that makes IVF
    * assignment viable over a 100 TB corpus. Ties resolve to the lowest
    * cell id, matching a (cos DESC, cell_id ASC) ranking.
    */
  private def nearestCellExpr(emb: Column, unitCentroids: Seq[Seq[Double]]): Column =
    graft.functions.functions.nearest_cell(emb, unitCentroids)

  private def normalized(c: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0.0) c else c.map(_ / n)
  }

  /** Lloyd-refined IVF centroids: deterministic-sample init, then `iters`
    * assign/update rounds. Assignment is the shuffle-free
    * [[nearestCellExpr]] projection; the update is one partial-aggregated
    * per-(cell, dim) mean, collecting only nCells x dim numbers to the
    * driver (the MLlib-KMeans shape: model state on the driver, data never
    * collected). Cells that end a round empty keep their previous centroid.
    * Returns centroids indexed by cell id.
    */
  def lloydCentroids(corpus: DataFrame, nCells: Int, iters: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): Seq[Seq[Double]] = {
    // Seed by hash order, not id order: the first nCells ids are biased
    // when ids correlate with clusters (e.g. data written cluster-by-
    // cluster) — all seeds landing in one cluster makes Lloyd start from
    // the worst possible state. Hash order is a deterministic spread
    // sample, and orderBy+limit plans as top-k (no full sort).
    var centroids: Seq[Seq[Double]] =
      corpus.orderBy(xxhash64(col(idCol)), col(idCol)).limit(nCells)
        .select(col(embCol).cast("array<double>"))
        .collect().toSeq.map(_.getSeq[Double](0))
    var it = 0
    while (it < iters) {
      val means = corpus
        .select(nearestCellExpr(col(embCol), centroids.map(normalized)).as("cell_id"),
          posexplode(col(embCol).cast("array<double>")))
        .groupBy("cell_id", "pos").agg(avg("col").as("m"))
        .collect()
      val byCell = means.groupBy(_.getLong(0))
      centroids = centroids.zipWithIndex.map { case (old, cid) =>
        byCell.get(cid.toLong) match {
          case Some(rows) =>
            val arr = new Array[Double](old.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
            arr.toSeq
          case None => old // empty cell: keep previous centroid
        }
      }
      it += 1
    }
    centroids
  }

  /** Fitted IVF index: centroids on the driver (nCells x dim doubles —
    * the MLlib model shape; data never collected). Real ANN usage is
    * fit-rarely / query-often: fit once with [[fitIvf]], [[IvfModel.assign]]
    * the corpus once (a shuffle-free projection — persist or write it with
    * the table), then serve any number of query batches with [[ivfSearch]]
    * without paying Lloyd again.
    */
  final case class IvfModel(centroids: Seq[Seq[Double]]) {
    private[sim] def unit: Seq[Seq[Double]] = centroids.map(normalized)
    /** Cell id for an embedding column — a pure projection, usable on any
      * frame with a compatible embedding column.
      */
    def assign(emb: Column): Column = nearestCellExpr(emb, unit)
  }

  def fitIvf(corpus: DataFrame, nCells: Int = 16, lloydIters: Int = 2,
             idCol: String = "vec_id", embCol: String = "embedding"): IvfModel =
    IvfModel(lloydCentroids(corpus, nCells, lloydIters, idCol, embCol))

  private val fittedIvf = new graft.core.FitCache[IvfModel]

  private[graft] def clearIvfCacheForTest(): Unit = fittedIvf.clear()

  /** Where a persisted IVF model for (`dataDir`, geometry) lives
    * ([[ModelStore.modelPath]]).
    */
  private[graft] def ivfModelPath(dataDir: String, nCells: Int,
                                  lloydIters: Int): String =
    ModelStore.modelPath("ivf", dataDir, s"c$nCells-i$lloydIters")

  /** Process-wide fit-once cache keyed by (dataset key, geometry) plus a
    * content fingerprint of the dataset dir (see [[graft.core.FitCache]]:
    * regenerating the dir within one JVM invalidates the entry, and the
    * fit runs outside the map's locks). Every consumer of the same corpus
    * serves from ONE Lloyd fit, which also makes cross-query row-identity
    * claims (e3 == st11) structural rather than coincidental. `corpus` is
    * by-name — only evaluated on a fit.
    *
    * The cold path is load-if-present -> fit-and-save through
    * [[ModelStore]]: a RESTARTED driver (fresh JVM, empty FitCache)
    * serves the saved centroids bit-identically instead of re-reading
    * the corpus for a refit — doubles round-trip exactly through the
    * blob, and AnnSpec pins a cleared-cache serve against a tampered
    * store to prove it is the load, not a silent refit. Both store
    * operations are best-effort: an unreadable/torn/stale blob refits,
    * a failed save still serves the fitted model.
    */
  def cachedIvf(key: String, corpus: => DataFrame, nCells: Int = 16,
                lloydIters: Int = 2): IvfModel =
    fittedIvf.getOrFit((key, nCells, lloydIters), key) {
      val spark = org.apache.spark.sql.SparkSession.active
      val path = ivfModelPath(key, nCells, lloydIters)
      (try Some(ModelStore.loadIvf(spark, path))
       catch { case scala.util.control.NonFatal(_) => None })
        .getOrElse {
          val m = fitIvf(corpus, nCells, lloydIters)
          try ModelStore.saveIvf(spark, path, m)
          catch { case scala.util.control.NonFatal(_) => () }
          m
        }
    }

  /** Serve one query batch against a pre-assigned corpus (`cells` =
    * corpus + a `cell` column from [[IvfModel.assign]]): queries probe
    * their `nProbe` nearest cells and re-rank exactly.
    */
  def ivfSearch(model: IvfModel, cells: DataFrame, queries: DataFrame, k: Int,
                nProbe: Int = 4, idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    // probe ranking needs top-nProbe per query: the query set is the small
    // side, so a crossJoin(centroids) + window is cheap here
    val spark = cells.sparkSession
    import spark.implicits._
    val cDf = model.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cell_id", "centroid")
    val pw = Window.partitionBy(col(idCol)).orderBy(col("cell_cos").desc, col("cell_id"))
    val probes = queries.crossJoin(broadcast(cDf))
      .withColumn("cell_cos", cosine(col(embCol), col("centroid")))
      .withColumn("cell_rk", row_number().over(pw))
      .filter(col("cell_rk") <= nProbe)
      .select(col("cell_id").as("cell"), col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    cells.join(probes, Seq("cell"))
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col("q_emb"), col(idCol), col(embCol)).distinct()
      .withColumn("cos", cosine(col("q_emb"), col(embCol)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos"))
  }

  /** IVF-style ANN, self-contained (fit + assign + search in one call —
    * the bench/gate shape): the corpus is partitioned into `nCells` coarse
    * cells ([[lloydCentroids]]: hash-spread init + `lloydIters` k-means
    * rounds, so cells track the data's cluster structure instead of its id
    * order); each vector gets its cell from a shuffle-free projection,
    * queries probe their `nProbe` nearest cells and re-rank exactly.
    *
    * At scale: corpus cell assignment is a projection on the scan (no
    * join, no window); a query touches ~nProbe/nCells of the data. For
    * serving, prefer [[fitIvf]] + [[ivfSearch]] so Lloyd runs once, not
    * per batch.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", embCol: String = "embedding",
              nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 2): DataFrame = {
    val model = fitIvf(corpus, nCells, lloydIters, idCol, embCol)
    val cells = corpus.select(col(idCol), col(embCol), model.assign(col(embCol)).as("cell"))
    ivfSearch(model, cells, queries, k, nProbe, idCol, embCol)
  }

  /** Filtered ANN ("nearest neighbors among rows matching a metadata
    * predicate" — the vector-DB filtered-search shape) with ADAPTIVE
    * probing. Pass `cells` already filtered (the predicate stays a plain
    * `.filter`, so it pushes to the scan and composes with any metadata
    * join). Fixed-nProbe probing breaks under selective filters: the k
    * nearest SURVIVORS may all live outside the query's nProbe nearest
    * cells, so post-filtering returns fewer than k rows — or silently
    * worse ones. Here the probe set is sized by the filter itself:
    * per-cell survivor counts (<= nCells numbers, model-sized driver
    * state, one partial-combined aggregate over the filtered scan) and
    * each query probes its nearest non-empty cells until their cumulative
    * survivor count reaches `max(k+1, ceil(oversample*k))`. That
    * guarantees min(k, non-self survivors) results for EVERY query
    * regardless of filter selectivity — "non-self" because a query
    * vector that itself survives the filter is excluded from its own
    * candidates, so when total survivors <= k only survivors-1 rows
    * exist to return (the k+1 target sizes the probe set; it cannot
    * manufacture candidates the filter left out). When the target covers
    * all survivors the
    * result is exactly the filtered brute-force ranking — both pinned in
    * AnnFilterSpec. A dense filter probes few cells (the IVF economy is
    * kept); a sparse one degrades gracefully toward exact search instead
    * of returning holes.
    *
    * At 100 TB: the count aggregate is one map-side-combined pass over
    * the filtered scan, CACHED process-wide per (model content, filter
    * plan, input-file fingerprint) — repeat query batches over the same
    * filter launch no counting job ([[cachedSurvivorCounts]]; staleness
    * follows the [[graft.core.FitCache]] rule, so regenerated data
    * refreshes the counts); probes are a broadcast of <= nCells centroid
    * rows, and the
    * candidate join touches only probed cells' partitions. No distinct is
    * needed downstream: each corpus row lives in exactly one cell and
    * each (query, cell) is probed once, so candidate pairs are unique by
    * construction (unlike LSH banding).
    */
  // ---- per-(model, filter) survivor-count cache --------------------------
  //
  // The adaptive probe's only aggregate is the per-cell survivor count —
  // <= nCells numbers, but computed by a full pass over the FILTERED scan.
  // Real filtered-ANN serving runs many query batches against the same
  // (model, filter), so the counts are cached process-wide like the fitted
  // models ([[graft.core.FitCache]] discipline): keyed by the model's
  // CONTENT (centroid values, not object identity) and the filtered frame's
  // semantic plan hash, with a (path, size, mtime) fingerprint of the
  // frame's input files folded in so a dataset regenerated in place within
  // one JVM misses the stale entry — the same staleness rule FitCache
  // applies to fits. Counting is deterministic, so a double-compute race
  // resolves via putIfAbsent with identical values.

  private val survivorCounts =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Map[Long, Long]]()

  /** Cache entry cap: a long-lived serving JVM cycling through many
    * (model, filter) pairs must not grow the map forever. Full clear is
    * the simplest safe eviction — counts rebuild in one aggregate, and
    * correctness never depends on a hit.
    */
  private val SurvivorCacheCap = 256

  /** Test hook: cache misses (count jobs actually launched). */
  private[graft] val survivorCountMisses = new java.util.concurrent.atomic.AtomicLong(0L)

  private def cachedSurvivorCounts(model: IvfModel, cells: DataFrame): Map[Long, Long] = {
    def countNow(): Map[Long, Long] = {
      survivorCountMisses.incrementAndGet()
      cells.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // file inputs from the ANALYZED plan, not Dataset.inputFiles: the
    // latter reads the optimized plan, where a .cache() substitutes an
    // InMemoryRelation and hides the underlying files — a cached
    // file-backed corpus (the normal serving shape) must still
    // fingerprint its files
    val files: Seq[String] = cells.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case f: org.apache.spark.sql.execution.FileRelation => f.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten
    // no file inputs (in-memory relations, non-file sources): the file
    // fingerprint would be CONSTANT while the backing data can mutate, so
    // a cached entry could silently under-allocate probes and drop
    // results — never cache those, count every time
    if (files.isEmpty) return countNow()
    val conf = cells.sparkSession.sparkContext.hadoopConfiguration
    val filesFp = files.sorted.foldLeft(0xcbf29ce484222325L) { (h0, f) =>
      val st = scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p) // FS instances are cached
      }.toOption
      val s = s"$f|${st.map(_.getLen).getOrElse(-1L)}|" +
        s"${st.map(_.getModificationTime).getOrElse(-1L)}"
      var h = h0
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      h
    }
    val key = (model.centroids.hashCode(),
      cells.queryExecution.analyzed.semanticHash(), filesFp)
    val hit = survivorCounts.get(key)
    if (hit != null) hit
    else {
      val counted = countNow()
      if (survivorCounts.size >= SurvivorCacheCap) survivorCounts.clear()
      val prev = survivorCounts.putIfAbsent(key, counted)
      if (prev != null) prev else counted
    }
  }

  def ivfSearchAdaptive(model: IvfModel, cells: DataFrame, queries: DataFrame,
                        k: Int, oversample: Double = 4.0,
                        idCol: String = "vec_id",
                        embCol: String = "embedding"): DataFrame = {
    require(k > 0, s"ivfSearchAdaptive: k must be positive, got $k")
    require(oversample >= 1.0,
      s"ivfSearchAdaptive: oversample must be >= 1, got $oversample")
    val spark = cells.sparkSession
    import spark.implicits._
    // k+1 not k: a query vector that itself survives the filter is
    // excluded below, and must not eat the candidate budget
    val target = math.max(k + 1L, math.ceil(oversample * k).toLong)
    val counts = cachedSurvivorCounts(model, cells)
    // a cells frame assigned by a DIFFERENT model would silently probe
    // the wrong geometry (the near-dup index learned this the hard way:
    // geometry mismatches must be loud)
    require(counts.keySet.forall(c => c >= 0 && c < model.centroids.length),
      s"ivfSearchAdaptive: cells column has ids outside this model's " +
        s"${model.centroids.length} cells — assigned by a different model?")
    val cDf = model.centroids.zipWithIndex
      .collect { case (c, i) if counts.getOrElse(i.toLong, 0L) > 0L =>
        (i.toLong, c, counts(i.toLong)) }
      .toDF("cell_id", "centroid", "n")
    // probe the fewest nearest cells whose cumulative survivor count
    // reaches the target: include a cell iff the cells ranked before it
    // have not reached it yet (so the last included cell may overshoot)
    val pw = Window.partitionBy(col(idCol))
      .orderBy(col("cell_cos").desc, col("cell_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val probes = queries.crossJoin(broadcast(cDf))
      .withColumn("cell_cos", cosine(col(embCol), col("centroid")))
      .withColumn("cum_before", sum("n").over(pw) - col("n"))
      .filter(col("cum_before") < target)
      .select(col("cell_id").as("cell"), col(idCol).as("q_id"),
        col(embCol).as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    cells.join(probes, Seq("cell"))
      .filter(col("q_id") =!= col(idCol))
      .withColumn("cos", cosine(col("q_emb"), col(embCol)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos"))
  }

  // -------------------------------------------------------------------
  // SQ8: per-vector symmetric int8 scalar quantization (the FAISS
  // ScalarQuantizer-QT_8bit shape). Unlike PQ there is no codebook to
  // fit: encoding is a pure projection, so a 100 TB corpus quantizes on
  // its ingest scan with no fit pass, no model state, and no staleness
  // story. 4x smaller than the float column, integer dot products in the
  // scan, and — because round/floor and IEEE ops are engine-exact — the
  // whole search ranking crosses the DuckDB oracle gate (e10), which no
  // other ANN family here can (their fitted state is engine-specific).

  /** Quantize an embedding column to int8 codes: c_i = round(x_i * 127 /
    * m) with m = max|x_i| per vector (half-up via floor(v + 0.5), the
    * engine-neutral rounding). Emits the codes plus the two per-vector
    * dequantization constants ranking needs: `sq8_scale` (m) and
    * `sq8_norm` (the ORIGINAL float norm, so approximate-cosine ranking
    * does not drift as quantization error accumulates in the norm).
    */
  def sq8Encode(df: DataFrame, idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    val v = col(embCol)
    // 1e-300 guards the all-zero vector (codes 0/0 -> NaN otherwise);
    // any real magnitude dwarfs it, so non-degenerate vectors see m as-is
    val m = greatest(array_max(transform(v, x => abs(x.cast("double")))), lit(1e-300))
    val nrm = greatest(sqrt(aggregate(transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x)), lit(1e-300))
    df.select(col(idCol), v.as("__emb"), m.as("sq8_scale"), nrm.as("sq8_norm"))
      .select(col(idCol),
        transform(col("__emb"),
          x => floor(x.cast("double") * 127.0 / col("sq8_scale") + 0.5).cast("byte"))
          .as("sq8"),
        col("sq8_scale"), col("sq8_norm"))
  }

  /** Exact top-k over the QUANTIZED corpus: integer dot products (the
    * int8-SIMD kernel shape) dequantized by the corpus side's constants —
    * score = qdot * m_c / |x_c|; the query side's constants are rank-
    * invariant per query and never computed. Queries broadcast, the codes
    * column streams: the e1 scan at a quarter of the bytes and integer
    * multiplies. Composes with IVF (assign cells on the FLOAT column at
    * encode time, probe cells, then this scoring within probed cells) —
    * Sq8Spec pins the composition's row identity against post-filtering.
    */
  def sq8Search(codes: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = sq8Encode(queries, idCol, embCol)
      .select(col(idCol).as("q_id"), col("sq8").as("q_sq8"))
    val qdot = aggregate(zip_with(col("q_sq8"), col("sq8"),
        (a, b) => a.cast("long") * b.cast("long")), lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col(idCol))
    codes.join(broadcast(q), col("q_id") =!= col(idCol))
      .withColumn("qdot", qdot)
      .withColumn("score", col("qdot").cast("double") * col("sq8_scale") / col("sq8_norm"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("qdot"))
  }
}
