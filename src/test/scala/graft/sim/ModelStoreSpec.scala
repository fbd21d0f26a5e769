package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class ModelStoreSpec extends SparkTestBase {

  private lazy val emb = graft.core.Tables.embeddings(spark, sf001)
  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory("graft-models").resolve(name).toString

  test("IVF save/load round-trips bit-exactly; loaded model serves identically") {
    val fitted = Ann.fitIvf(emb, nCells = 8, lloydIters = 1)
    val p = tmp("ivf.bin")
    ModelStore.saveIvf(spark, p, fitted)
    val loaded = ModelStore.loadIvf(spark, p)
    assert(loaded.centroids == fitted.centroids) // bit-exact doubles
    def serve(m: Ann.IvfModel) = {
      val cells = emb.select(col("vec_id"), col("embedding"),
        m.assign(col("embedding")).as("cell"))
      Ann.ivfSearch(m, cells, emb.filter(col("vec_id") < 5), k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    }
    assert(serve(loaded) == serve(fitted))
  }

  test("PQ save/load round-trips bit-exactly; loaded codebooks encode identically") {
    val fitted = Pq.fitPq(emb, m = 8, k = 16, iters = 1)
    val p = tmp("pq.bin")
    ModelStore.savePq(spark, p, fitted)
    val loaded = ModelStore.loadPq(spark, p)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
           fitted.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val a = Pq.encodeCorpus(fitted, emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    val b = Pq.encodeCorpus(loaded, emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(a == b)
  }

  test("cachedIvf restart story: a cleared cache serves the SAVED model, not a refit") {
    import spark.implicits._
    // dedicated tiny dataset dir so tampering with its stored model
    // cannot leak into other tests' caches
    val dataDir = java.nio.file.Files.createTempDirectory("graft-restart").toString
    (0L until 40L).map(i => (i, Array.fill(8)((i % 5).toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dataDir/embeddings.parquet")
    def corpus = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val first = Ann.cachedIvf(dataDir, corpus, nCells = 4, lloydIters = 1)
    val path = Ann.ivfModelPath(dataDir, nCells = 4, lloydIters = 1)
    // the fit persisted itself, bit-exactly
    assert(ModelStore.loadIvf(spark, path).centroids == first.centroids)
    // simulate a driver restart (fresh JVM = empty in-memory cache):
    // the same call must come back bit-identical WITHOUT refitting — we
    // prove the load happened by tampering the stored blob with a
    // distinguishable (but valid) model and observing it served
    val marker = Ann.IvfModel(Seq(Seq(1.25, -2.5, 3.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
    ModelStore.saveIvf(spark, path, marker)
    Ann.clearIvfCacheForTest()
    val served = Ann.cachedIvf(dataDir, corpus, nCells = 4, lloydIters = 1)
    assert(served.centroids == marker.centroids,
      "cleared-cache call refit instead of loading the persisted model")
    // a REGENERATED dataset must miss the stale blob and refit (the
    // content fingerprint is part of the model path)
    (0L until 40L).map(i => (i, Array.fill(8)((i % 3).toFloat + 1f)))
      .toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dataDir/embeddings.parquet")
    Ann.clearIvfCacheForTest()
    val refit = Ann.cachedIvf(dataDir, corpus, nCells = 4, lloydIters = 1)
    assert(refit.centroids != marker.centroids)
  }

  test("cachedPq restart story: cleared cache serves the SAVED codebooks, not a refit") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft-restart-pq").toString
    (0L until 64L).map(i => (i, Array.tabulate(16)(j => ((i + j) % 7).toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dataDir/embeddings.parquet")
    def corpus = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val first = Pq.cachedPq(dataDir, corpus, m = 4, k = 8, iters = 1)
    val path = Pq.pqModelPath(dataDir, m = 4, k = 8, iters = 1)
    assert(ModelStore.loadPq(spark, path).codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      first.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // tamper + clear: a served marker model proves the load path ran
    val marker = Pq.PqModel(Array.fill(4)(Array.fill(8)(Array.fill(4)(0.5))))
    ModelStore.savePq(spark, path, marker)
    Pq.clearPqCacheForTest()
    val served = Pq.cachedPq(dataDir, corpus, m = 4, k = 8, iters = 1)
    assert(served.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      marker.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "cleared-cache call refit instead of loading the persisted codebooks")
  }

  test("IVF-PQ save/load round-trips bit-exactly (centroids + per-cell codebooks)") {
    val fitted = IvfPq.fitIvfPq(emb, nCells = 4, m = 8, k = 8, iters = 1,
      lloydIters = 1)
    val p = tmp("ivfpq.bin")
    ModelStore.saveIvfPq(spark, p, fitted)
    val loaded = ModelStore.loadIvfPq(spark, p)
    assert(loaded.ivf.centroids == fitted.ivf.centroids)
    def deep(m: IvfPq.IvfPqModel) =
      m.codebooks.map(_.map(_.map(_.toSeq).toSeq).toSeq).toSeq
    assert(deep(loaded) == deep(fitted))
  }

  test("whitened-ANN pair saves/loads as ONE blob, bit-exactly") {
    val pca = Pca.fit(emb, k = 8)
    import spark.implicits._
    val white = Pca.whiten(emb, pca).toDF()
      .select(col("vec_id"), col("white").as("embedding"))
    val ivf = Ann.fitIvf(white, nCells = 4, lloydIters = 1)
    val p = tmp("whitened.bin")
    ModelStore.saveWhitenedAnn(spark, p, pca, ivf)
    val (lp, li) = ModelStore.loadWhitenedAnn(spark, p)
    assert(lp.mean.toSeq == pca.mean.toSeq)
    assert(lp.components.map(_.toSeq).toSeq == pca.components.map(_.toSeq).toSeq)
    assert(lp.eigenvalues.toSeq == pca.eigenvalues.toSeq)
    assert(lp.eps == pca.eps)
    assert(li.centroids == ivf.centroids)
  }

  test("a torn save never leaves a loadable model; wrong magic refuses") {
    val p = tmp("bad.bin")
    // simulate a crash mid-write: only the tmp file exists
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p + "__tmp"), "partial")
    intercept[java.io.FileNotFoundException] { ModelStore.loadIvf(spark, p) }
    // a committed PQ blob refuses to load as IVF (magic check)
    val pq = tmp("pq2.bin")
    ModelStore.savePq(spark, pq, Pq.fitPq(emb, m = 8, k = 16, iters = 1))
    intercept[IllegalArgumentException] { ModelStore.loadIvf(spark, pq) }
  }

  test("the four model file names stay those of models already on disk") {
    def names(dataDir: String) = Seq(Ann.ivfModelPath(dataDir, nCells = 16, lloydIters = 2),
      IvfPq.ivfPqModelPath(dataDir, nCells = 16, m = 8, k = 256),
      ModelStore.whitenedAnnPath(dataDir, k = 16, nCells = 16),
      Pq.pqModelPath(dataDir, m = 8, k = 256, iters = 4))
    val base = sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR",
      System.getProperty("java.io.tmpdir") + "/graft-models")
    // a key that is no directory fingerprints to 0
    val absent = names("/data/graft/sf-pin")
    assert(absent.forall(_.startsWith(base + "/")))
    assert(absent.map(new java.io.File(_).getName) == Seq(
      "ivf-e09e5e8a-0000000000000000-c16-i2.bin",
      "ivfpq-e09e5e8a-0000000000000000-c16-m8-k256.bin",
      "whitened-e09e5e8a-0000000000000000-k16-c16.bin",
      "pq-e09e5e8a-0000000000000000-m8-k256-i4.bin"))
    // a dataset dir: the content fingerprint of (name, size, mtime), whatever the dir's path
    val dir = java.nio.file.Files.createTempDirectory("graft-model-names")
    val part = java.nio.file.Files.write(dir.resolve("part-0"), Array[Byte](1, 2, 3))
    java.nio.file.Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.fromMillis(1600000000000L))
    val hash = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir.toString))
    assert(names(dir.toString).map(new java.io.File(_).getName) == Seq(
      s"ivf-$hash-b72ac7fb667ba1c5-c16-i2.bin", s"ivfpq-$hash-b72ac7fb667ba1c5-c16-m8-k256.bin",
      s"whitened-$hash-b72ac7fb667ba1c5-k16-c16.bin", s"pq-$hash-b72ac7fb667ba1c5-m8-k256-i4.bin"))
  }
}
