package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.functions.{pq_adc, pq_encode_cells, pq_lut_cells}

/** Residual IVF-PQ with per-cell codebooks — the composition of the coarse
  * quantizer ([[Ann.fitIvf]]) with product quantization ([[Pq]]) in its
  * locally-optimized form (LOPQ — Kalantidis & Avrithis, "Locally
  * Optimized Product Quantization", CVPR 2014, building on Jégou, Douze,
  * Schmid's IVFADC, TPAMI 2011): PQ codebooks are trained on RESIDUALS
  * (unit vector minus its cell's unit centroid), one codebook PER CELL, so
  * the byte budget adapts to each cell's local residual geometry instead
  * of pooling all residual directions into one global codebook. The coarse
  * id (one long) plus m bytes replace the full vector.
  *
  * Query path: probe the `nProbe` nearest cells; per (query, cell) build
  * the LUT from the QUERY's residual against that cell with that CELL's
  * codebook — ADC then approximates ||unit(q) - unit(x)||^2 because the
  * shared centroid cancels; top-`candPool` by ADC re-rank exactly.
  *
  * At 100 TB: the codes store (8 + m bytes a row, cell-keyed) is all the
  * scan touches, and a probe reads ~nProbe/nCells of it — unlike [[Pq]]'s
  * flat ADC scan, which reads every code; LUTs broadcast with the query
  * batch; raw vectors are fetched for candPool ids per query only. The
  * codebook tensor is nCells x m x k x subdim doubles of driver/broadcast
  * model state — keep nCells in the LOPQ regime (<= ~1024). All scoring
  * kernels are codegen'd expressions ([[graft.functions.PqEncodeCells]] /
  * [[graft.functions.PqLutCells]] / [[graft.functions.PqAdc]]); residuals
  * are never re-normalized (their magnitude is the signal).
  *
  * The reference engine has no vector search at all; this is the depth
  * step past [[Ann.ivfTopK]] (e3, uncompressed) and [[Pq.pqTopK]] (e5,
  * unpartitioned).
  */
object IvfPq {

  /** Coarse quantizer + per-cell residual codebooks, model state on the
    * driver (data never collected — the MLlib shape).
    */
  final case class IvfPqModel(ivf: Ann.IvfModel,
                              codebooks: Array[Array[Array[Array[Double]]]]) {
    def nCells: Int = codebooks.length
    def m: Int = codebooks.head.length
    def k: Int = codebooks.head.head.length
    def assign(emb: Column): Column = ivf.assign(emb)
    def encodeResidual(res: Column, cell: Column): Column =
      pq_encode_cells(res, cell, codebooks)
    def lutResidual(res: Column, cell: Column): Column =
      pq_lut_cells(res, cell, codebooks)
  }

  private def nrmExpr(emb: Column): Column =
    sqrt(aggregate(transform(emb, x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, v) => a + v))

  /** Unit centroids as a broadcastable (cell, centroid) frame. */
  private def centroidDf(ivf: Ann.IvfModel, df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ivf.unit.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cell", "centroid")
  }

  /** `df` + (cell, res) where res = unit(emb) - unitCentroid(cell): cell
    * assignment is the shuffle-free [[graft.functions.NearestCell]]
    * projection, the centroid attaches via a broadcast join, and the norm
    * is staged in its own column (the HOF re-eval gotcha from [[Pq.fitPq]]).
    */
  private def withResidual(df: DataFrame, ivf: Ann.IvfModel,
                           embCol: String): DataFrame =
    df.withColumn("cell", ivf.assign(col(embCol)))
      .withColumn("nrm", nrmExpr(col(embCol)))
      .withColumn("u", transform(col(embCol),
        x => x.cast("double") /
          when(col("nrm") > 0, col("nrm")).otherwise(lit(1.0))))
      .join(broadcast(centroidDf(ivf, df)), Seq("cell"))
      .withColumn("res", zip_with(col("u"), col("centroid"), (a, b) => a - b))
      .drop("nrm", "u", "centroid")

  /** Fit: coarse cells first ([[Ann.fitIvf]]), then per-cell per-subspace
    * k-means over residuals. Init is a hash-spread sample of up to `k`
    * residuals PER CELL (one window pass); every refinement round is ONE
    * corpus pass — encode projection + posexplode + a partial-aggregated
    * (cell, subspace, code, dim) mean, collecting at most
    * nCells*m*k*subdim rows. Codes that end a round empty keep their
    * previous centroid; cells the sample missed inherit the pooled sample.
    */
  private val fittedIvfPq = new graft.core.FitCache[IvfPqModel]

  private[graft] def clearIvfPqCacheForTest(): Unit = fittedIvfPq.clear()

  private[graft] def ivfPqModelPath(dataDir: String, nCells: Int, m: Int,
                                    k: Int): String =
    ModelStore.modelPath("ivfpq", dataDir, s"c$nCells-m$m-k$k")

  /** Fit-once/serve-many for the residual IVF-PQ model — the
    * [[Ann.cachedIvf]]/[[Pq.cachedPq]] two-layer cache (in-JVM FitCache +
    * cross-restart [[ModelStore]] load-if-present -> fit-and-save),
    * completing restart-safe serving across the whole ANN family.
    */
  def cachedIvfPq(key: String, corpus: => DataFrame, nCells: Int = 16,
                  m: Int = 16, k: Int = 32): IvfPqModel =
    fittedIvfPq.getOrFit((key, nCells, m, k), key) {
      val spark = org.apache.spark.sql.SparkSession.active
      val path = ivfPqModelPath(key, nCells, m, k)
      (try Some(ModelStore.loadIvfPq(spark, path))
       catch { case scala.util.control.NonFatal(_) => None })
        .getOrElse {
          val fitted = fitIvfPq(corpus, nCells = nCells, m = m, k = k)
          try ModelStore.saveIvfPq(spark, path, fitted)
          catch { case scala.util.control.NonFatal(_) => () }
          fitted
        }
    }

  def fitIvfPq(corpus: DataFrame, nCells: Int = 16, m: Int = 16, k: Int = 32,
               iters: Int = 2, lloydIters: Int = 2,
               idCol: String = "vec_id", embCol: String = "embedding"): IvfPqModel = {
    val ivf = Ann.fitIvf(corpus, nCells, lloydIters, idCol, embCol)
    val res = withResidual(corpus, ivf, embCol)
      .select(col(idCol), col("cell"), col("res"))
    val sw = Window.partitionBy("cell").orderBy(xxhash64(col(idCol)), col(idCol))
    val sampled = res.withColumn("srk", row_number().over(sw))
      .filter(col("srk") <= k)
      .select(col("cell"), col("res")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Double](1))
    require(sampled.nonEmpty, "fitIvfPq: empty corpus")
    val dim = sampled.head._2.length
    require(dim % m == 0, s"fitIvfPq: dim $dim not divisible by m=$m")
    val subdim = dim / m
    val byCell: Map[Int, IndexedSeq[Seq[Double]]] =
      sampled.groupBy(_._1).view.mapValues(_.map(_._2).toIndexedSeq).toMap
    val pooled = sampled.map(_._2).toIndexedSeq
    var cb: Array[Array[Array[Array[Double]]]] = Array.tabulate(nCells) { cell =>
      val sample = byCell.getOrElse(cell, pooled)
      Array.tabulate(m) { s =>
        Array.tabulate(k) { c =>
          sample(c % sample.length).slice(s * subdim, (s + 1) * subdim).toArray
        }
      }
    }
    var it = 0
    while (it < iters) {
      val s = floor(col("pos") / subdim).cast("int")
      val means = res
        .select(col("cell"),
          pq_encode_cells(col("res"), col("cell"), cb).as("codes"),
          posexplode(col("res")))
        .select(col("cell").cast("int").as("cl"), s.as("s"),
          pmod(element_at(col("codes"), s + 1).cast("int"), lit(256)).as("c"),
          (col("pos") % subdim).cast("int").as("j"),
          col("col").as("x"))
        .groupBy("cl", "s", "c", "j").agg(avg("x").as("mu"))
        .collect()
      val next = cb.map(_.map(_.map(_.clone())))
      means.foreach(r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2))(r.getInt(3)) = r.getDouble(4))
      cb = next
      it += 1
    }
    IvfPqModel(ivf, cb)
  }

  /** Compressed store: (id, cell, m-byte codes) — persist once, serve many. */
  def encodeCorpus(model: IvfPqModel, corpus: DataFrame,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    withResidual(corpus, model.ivf, embCol)
      .select(col(idCol), col("cell"),
        model.encodeResidual(col("res"), col("cell")).as("codes"))

  /** Probe + ADC scan + exact refine against a pre-encoded store. */
  def search(model: IvfPqModel, codes: DataFrame, corpus: DataFrame,
             queries: DataFrame, k: Int, nProbe: Int = 4, candPool: Int = 50,
             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cDf = centroidDf(model.ivf, queries)
    // top-nProbe cells per query, then the query's residual LUT PER probed
    // cell — the residual (and the cell's own codebook) depend on which
    // centroid the candidate shares, so each (query, cell) pair carries
    // its own LUT
    val pw = Window.partitionBy(col(idCol)).orderBy(col("cell_cos").desc, col("cell"))
    val probes = queries.crossJoin(broadcast(cDf))
      .withColumn("cell_cos", Ann.cosine(col(embCol), col("centroid")))
      .withColumn("cell_rk", row_number().over(pw))
      .filter(col("cell_rk") <= nProbe)
      .withColumn("nrm", nrmExpr(col(embCol)))
      .withColumn("u", transform(col(embCol),
        x => x.cast("double") /
          when(col("nrm") > 0, col("nrm")).otherwise(lit(1.0))))
      .withColumn("qres", zip_with(col("u"), col("centroid"), (a, b) => a - b))
      .select(col("cell"), col(idCol).as("q_id"), col(embCol).as("q_emb"),
        model.lutResidual(col("qres"), col("cell")).as("lut"))
    val aw = Window.partitionBy("q_id").orderBy(col("adc").asc, col(idCol))
    val cands = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col(idCol))
      .withColumn("adc", pq_adc(col("codes"), col("lut")))
      .withColumn("ark", row_number().over(aw))
      .filter(col("ark") <= candPool)
      .select(col("q_id"), col("q_emb"), col(idCol))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    corpus.select(col(idCol), col(embCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("cos", Ann.cosine(col("q_emb"), col(embCol)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos"))
  }

  /** Self-contained fit + encode + search (the bench/gate shape). For
    * serving, fit once and persist [[encodeCorpus]]'s output instead.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 16, m: Int = 16, kCodes: Int = 32,
                iters: Int = 2, nProbe: Int = 4, candPool: Int = 50,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val model = fitIvfPq(corpus, nCells, m, kCodes, iters, 2, idCol, embCol)
    search(model, encodeCorpus(model, corpus, idCol, embCol), corpus,
      queries, k, nProbe, candPool, idCol, embCol)
  }
}
