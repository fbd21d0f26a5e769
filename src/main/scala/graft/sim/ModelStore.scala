package graft.sim

import java.io.{DataInputStream, DataOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cross-process persistence for the fitted ANN models. [[graft.core
  * .FitCache]] makes fit-once/serve-many hold within a JVM; a 100 TB
  * deployment also restarts drivers, and refitting Lloyd/PQ on every
  * restart re-reads the corpus for no reason — the model is a few KB of
  * centroids/codebooks. Save after fitting, load at startup, serve.
  *
  * Format: a small versioned binary blob (magic + dims + doubles) written
  * through the Hadoop FileSystem API so it lands wherever the data lives
  * (local disk here, object store on a cluster). Write is
  * tmp-then-rename ([[graft.core.Io.commitSmallFile]]) — a crashed save
  * never leaves a torn model where a loader can trust it.
  */
object ModelStore {

  private val IvfMagic = 0x47414956 // "GAIV"
  private val PqMagic = 0x47415051 // "GAPQ"

  private def writeBlob(spark: SparkSession, path: String)
                       (body: DataOutputStream => Unit): Unit = {
    val p = new Path(path)
    val bytes = new java.io.ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    try body(out) finally out.close()
    graft.core.Io.commitSmallFile(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p.getParent, p.getName, bytes.toByteArray, replace = true)
  }

  private def readBlob[T](spark: SparkSession, path: String, magic: Int)
                         (body: DataInputStream => T): T = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new DataInputStream(fs.open(p))
    try {
      val m = in.readInt()
      require(m == magic, f"modelstore: $path has magic 0x$m%08x, want 0x$magic%08x")
      val version = in.readInt()
      require(version == 1, s"modelstore: $path has unknown version $version")
      body(in)
    } finally in.close()
  }

  private def writeMatrix(out: DataOutputStream, m: Seq[Seq[Double]]): Unit = {
    out.writeInt(m.length)
    out.writeInt(if (m.isEmpty) 0 else m.head.length)
    m.foreach { row =>
      require(row.length == m.head.length, "modelstore: ragged matrix")
      row.foreach(out.writeDouble)
    }
  }

  private def readMatrix(in: DataInputStream): Seq[Seq[Double]] = {
    val rows = in.readInt(); val cols = in.readInt()
    Seq.fill(rows)(Seq.fill(cols)(in.readDouble()))
  }

  def saveIvf(spark: SparkSession, path: String, model: Ann.IvfModel): Unit =
    writeBlob(spark, path) { out =>
      out.writeInt(IvfMagic); out.writeInt(1)
      writeMatrix(out, model.centroids)
    }

  def loadIvf(spark: SparkSession, path: String): Ann.IvfModel =
    readBlob(spark, path, IvfMagic)(in => Ann.IvfModel(readMatrix(in)))

  def savePq(spark: SparkSession, path: String, model: Pq.PqModel): Unit =
    writeBlob(spark, path) { out =>
      out.writeInt(PqMagic); out.writeInt(1)
      out.writeInt(model.codebooks.length)
      model.codebooks.foreach(cb => writeMatrix(out, cb.map(_.toSeq).toSeq))
    }

  def loadPq(spark: SparkSession, path: String): Pq.PqModel =
    readBlob(spark, path, PqMagic) { in =>
      val m = in.readInt()
      Pq.PqModel(Array.fill(m)(readMatrix(in).map(_.toArray).toArray))
    }

  private def writeVector(out: DataOutputStream, v: Array[Double]): Unit = {
    out.writeInt(v.length); v.foreach(out.writeDouble)
  }
  private def readVector(in: DataInputStream): Array[Double] =
    Array.fill(in.readInt())(in.readDouble())

  private val WhitenedMagic = 0x47415748 // "GAWH"

  /** Where a persisted model of `kind` and `geometry` for `dataDir` lives:
    * `<base>/<kind>-<hash of dataDir>-<content fingerprint>-<geometry>.bin`.
    * The dataset's CONTENT fingerprint in the name makes a restart over
    * regenerated data miss the stale blob and refit — the cross-process
    * twin of [[graft.core.FitCache]]'s in-JVM staleness rule.
    * `SPARK_GRAFT_MODEL_DIR` overrides the default base `<tmpdir>/graft-models`
    * (on a cluster, point it at the object store the data lives on).
    */
  private[graft] def modelPath(kind: String, dataDir: String, geometry: String): String = {
    val fp = graft.core.FitCache.fingerprint(dataDir)
    val base = sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR",
      System.getProperty("java.io.tmpdir") + "/graft-models")
    val keyHash = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dataDir))
    f"$base/$kind-$keyHash-$fp%016x-$geometry.bin"
  }

  /** Persisted-blob path for the whitened-ANN pair ([[modelPath]]). */
  def whitenedAnnPath(dataDir: String, k: Int, nCells: Int): String =
    modelPath("whitened", dataDir, s"k$k-c$nCells")

  /** e9's fitted pair — PCA whitening model + the IVF index fitted in the
    * whitened space — as ONE blob: they are fitted together and must load
    * together (two files could tear, serving an index whose space no
    * longer matches the whitener).
    */
  def saveWhitenedAnn(spark: SparkSession, path: String,
                      pca: Pca.PcaModel, ivf: Ann.IvfModel): Unit =
    writeBlob(spark, path) { out =>
      out.writeInt(WhitenedMagic); out.writeInt(1)
      writeVector(out, pca.mean)
      writeMatrix(out, pca.components.map(_.toSeq).toSeq)
      writeVector(out, pca.eigenvalues)
      out.writeDouble(pca.eps)
      writeMatrix(out, ivf.centroids)
    }

  def loadWhitenedAnn(spark: SparkSession, path: String)
      : (Pca.PcaModel, Ann.IvfModel) =
    readBlob(spark, path, WhitenedMagic) { in =>
      val mean = readVector(in)
      val comps = readMatrix(in).map(_.toArray).toArray
      val evs = readVector(in)
      val eps = in.readDouble()
      (Pca.PcaModel(mean, comps, evs, eps), Ann.IvfModel(readMatrix(in)))
    }

  private val IvfPqMagic = 0x47414950 // "GAIP"

  def saveIvfPq(spark: SparkSession, path: String, model: IvfPq.IvfPqModel): Unit =
    writeBlob(spark, path) { out =>
      out.writeInt(IvfPqMagic); out.writeInt(1)
      writeMatrix(out, model.ivf.centroids)
      out.writeInt(model.codebooks.length)
      model.codebooks.foreach { cell =>
        out.writeInt(cell.length)
        cell.foreach(cb => writeMatrix(out, cb.map(_.toSeq).toSeq))
      }
    }

  def loadIvfPq(spark: SparkSession, path: String): IvfPq.IvfPqModel =
    readBlob(spark, path, IvfPqMagic) { in =>
      val ivf = Ann.IvfModel(readMatrix(in))
      val nCells = in.readInt()
      IvfPq.IvfPqModel(ivf, Array.fill(nCells) {
        val m = in.readInt()
        Array.fill(m)(readMatrix(in).map(_.toArray).toArray)
      })
    }
}
