package graft.bench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.DocStore
import graft.streaming.Streams

/** One step of the seeded DocStore lifecycle sequence. */
sealed trait LOp { def kind: String }
object LOp {
  /** New documents; `dupOf(i)` names the live document the i-th one
    * near-duplicates (a copy with one word changed), if any.
    */
  final case class Insert(ids: Seq[Long], dupOf: Seq[Option[Long]], words: Seq[Seq[Int]])
      extends LOp { def kind = "commit" }
  final case class Update(lo: Long, hi: Long) extends LOp { def kind = "commit" }
  final case class Delete(lo: Long, hi: Long) extends LOp { def kind = "commit" }
  final case class FindPoint(id: Long) extends LOp { def kind = "read" }
  final case class FindRange(lo: Long, hi: Long) extends LOp { def kind = "read" }
  case object Changes extends LOp { def kind = "cdc_poll" }
  case object SyncNearDup extends LOp { def kind = "index_poll" }
  case object SyncIvf extends LOp { def kind = "index_poll" }
  case object Maintain extends LOp { def kind = "maintain" }

  /** The operation sequence of one pass: `cycles` rounds of an insert
    * batch (exactly a `dupRate` share near-duplicates), copy-on-write update and
    * delete of key ranges, point and range reads that stats and Bloom
    * pruning can serve, a CDC poll and an IVF index sync; the near-dup
    * index syncs once, in the last round, and one `maintainAll` closes
    * the pass. Pure function of its arguments.
    */
  def sequence(seed: Long, baseIds: IndexedSeq[Long], cycles: Int, batch: Int,
               dupRate: Double): Seq[LOp] = {
    val rnd = new java.util.Random(seed)
    val lo = baseIds.min; val hi = baseIds.max
    def key(span: Int) = lo + rnd.nextInt((hi - lo - span).toInt)
    val ops = mutable.ArrayBuffer[LOp]()
    (0 until cycles).foreach { c =>
      val ids = (0 until batch).map(i => 1000000L + c * 1000L + i)
      // exactly the dup rate, of distinct sources, so every seed gives the
      // near-dup index as many matches to find
      val shuffle = new scala.util.Random(rnd)
      val nDup = (batch * dupRate).round.toInt
      val at = shuffle.shuffle(ids.indices.toVector).take(nDup)
      val src = shuffle.shuffle(baseIds).take(nDup)
      val dupAt = at.zip(src).toMap
      val dup = ids.indices.map(dupAt.get)
      val words = ids.map(_ => Seq.fill(40)(rnd.nextInt(Vocabulary.size)))
      ops += Insert(ids, dup, words)
      ops += FindPoint(ids(rnd.nextInt(ids.size)))
      val u = key(20); ops += Update(u, u + 19)
      val r = key(50); ops += FindRange(r, r + 49)
      val d = key(10); ops += Delete(d, d + 9)
      ops += Changes
      ops += SyncIvf
      if (c == cycles - 1) ops += SyncNearDup
      ops += FindPoint(baseIds(rnd.nextInt(baseIds.size)))
    }
    ops += Maintain
    ops.toSeq
  }

  val Vocabulary: IndexedSeq[String] =
    ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho " +
      "sigma tau upsilon phi chi psi omega north south east west river stone cloud field " +
      "market harbor signal garden copper silver window ledger").split(' ').toIndexedSeq
}

/** `docstore_lifecycle`: the DocStore commit protocol, its CDC and the
  * derived-index sync, with reads next to writes. Set-up loads the
  * fixture documents (with their embeddings) into a clustered, statted
  * DocStore and seeds a near-dup index and an IVF index that follow it.
  * Each pass starts from a copy of that state and runs the seeded
  * [[LOp.sequence]]; every result is checked against an in-memory model
  * of the live set, and the pass ends with a full live-set check.
  */
final class Lifecycle extends Workload {
  private val Cycles = 1
  private val Batch = 40
  private val DupRate = 0.3
  private val Retain = 4
  private val BaseDocs = 300

  private case class Doc(text: String, nChars: Long, lang: String, source: String, emb: Seq[Double])
  private var base: Map[Long, Doc] = Map.empty
  private var seedDir: String = _
  private var passDir: String = _
  private var model: graft.sim.Ann.IvfModel = _
  private var schema: StructType = _
  private var compactBytesPerRow = 0.0
  private var changedRows = 0L

  private def store(d: String) = s"$d/store"
  private def nd(d: String) = s"$d/nd"
  private def ivf(d: String) = s"$d/ivf"

  def inputSize: String = s"the first ${base.size} fixture documents with 64-d embeddings; " +
    s"$Cycles cycles of $Batch inserts (${(DupRate * 100).round}% near-duplicates), " +
    "update of 20 keys, delete of 10 keys, reads, CDC poll, IVF sync; one near-dup sync and one maintainAll"

  private def baseFrame(s: SparkSession, data: String) = {
    val docs = graft.core.Tables.documents(s, data)
    val emb = graft.core.Tables.embeddings(s, data)
      .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("embedding"))
    docs.join(emb, "doc_id").filter(col("doc_id") < BaseDocs)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"), col("embedding"))
  }
  def setup(ctx: Ctx, rep: Int): Unit = {
    val s = ctx.spark
    val rows = baseFrame(s, ctx.data)
    schema = rows.schema
    if (base.isEmpty) base = rows.collect().map { r =>
      r.getLong(0) -> Doc(r.getString(1), r.getLong(4), r.getString(2), r.getString(3),
        r.getSeq[Double](5))
    }.toMap
    seedDir = s"${ctx.work}/life-seed-r$rep"
    DocStore.insertMany(rows, store(seedDir))
    DocStore.cluster(s, store(seedDir), col("doc_id"), targetFiles = 8,
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    model = graft.sim.Ann.fitIvf(rows, nCells = 16, lloydIters = 2, idCol = "doc_id")
    syncNd(s, seedDir)
    Streams.syncIvfIndex(s, store(seedDir), ivf(seedDir), model, idCol = "doc_id")
  }

  private def syncNd(s: SparkSession, d: String) =
    Streams.syncNearDupIndex(s, store(d), nd(d), idCol = "doc_id", textCol = "text",
      k = 3, threshold = 0.5)

  override def beforePass(ctx: Ctx, p: Int): Unit = {
    if (passDir != null) Disk.delete(passDir)
    passDir = s"${ctx.work}/life-pass$p"
    Disk.copy(seedDir, passDir)
    // a copied store still names the original's indexes; the syncs in the
    // pass register the copy's own
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(store(passDir), "_INDEXES"))
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    val s = ctx.spark
    val d = passDir
    val live = mutable.Map[Long, (String, Long)]()
    base.foreach { case (id, doc) => live(id) = (doc.text, doc.nChars) }
    val dupsOf = mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    var pending = 0L // changes committed since the last CDC poll
    var unindexed = 0L // documents inserted since the last IVF sync
    var cursor = DocStore.cursor(s, store(d))
    def inRange(lo: Long, hi: Long) = live.keys.filter(k => k >= lo && k <= hi).toSeq
    def expectCount(what: String, got: Long, want: Long) =
      if (got == want) Nil else Seq(s"$what $got, expected $want")
    def readCheck(found: Array[Row], ids: Seq[Long]): Seq[String] = {
      ctx.counters("read_rows") += found.length
      val got = found.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val want = ids.map(k => k -> live(k)).toMap
      if (got == want) Nil else Seq(s"read ${got.size} rows, expected ${want.size} (live set differs)")
    }
    def find(filter: org.apache.spark.sql.Column) =
      DocStore.find(s, store(d), Some(filter)).select("doc_id", "text", "n_chars").collect()

    val baseIds = base.keys.toIndexedSeq.sorted
    LOp.sequence(ctx.seed, baseIds, Cycles, Batch, DupRate).zipWithIndex.foreach {
      case (op, i) =>
        val layer = op match {
          case LOp.SyncNearDup | LOp.SyncIvf | LOp.Maintain => "streaming"
          case _ => "sources.docstore"
        }
        ctx.op(op.kind, layer, s"$i:${op.getClass.getSimpleName.stripSuffix("$")}") {
          op match {
            case LOp.Insert(ids, dupOf, words) =>
              val rows: IndexedSeq[Row] = ids.indices.map { j =>
                val w = words(j).map(LOp.Vocabulary(_))
                val (text, src) = dupOf(j).map(base) match {
                  case Some(doc) => // near-duplicate: the source text with its first word changed
                    ((w.head +: doc.text.split(' ').toSeq.tail).mkString(" "), doc)
                  case None => (w.mkString(" "), base(baseIds(words(j).head % baseIds.size)))
                }
                // a near-duplicate's vector is its source's plus small noise;
                // any other new document gets a vector of its own
                val noise = new java.util.Random(ids(j))
                val emb =
                  if (dupOf(j).isDefined) src.emb.map(_ + 1e-3 * noise.nextGaussian())
                  else src.emb.map(_ => 0.1 * noise.nextGaussian())
                Row(ids(j), text, src.lang, src.source, text.length.toLong, emb)
              }
              val n = DocStore.insertMany(s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema),
                store(d))
              rows.foreach(r => live(r.getLong(0)) = (r.getString(1), r.getLong(4)))
              ids.zip(dupOf).foreach { case (id, src) => src.foreach(k => dupsOf(k) += id) }
              pending += rows.size; unindexed += rows.size; changedRows += rows.size
              expectCount("inserted", n, rows.size)
            case LOp.Update(lo, hi) =>
              val want = inRange(lo, hi)
              val n = DocStore.updateMany(s, store(d), col("doc_id").between(lo, hi),
                Map("n_chars" -> (col("n_chars") + lit(1L))), retain = Retain)
              want.foreach(k => live(k) = live(k).copy(_2 = live(k)._2 + 1))
              pending += want.size; changedRows += want.size
              expectCount("updated", n, want.size)
            case LOp.Delete(lo, hi) =>
              val want = inRange(lo, hi)
              val n = DocStore.deleteMany(s, store(d), Some(col("doc_id").between(lo, hi)), retain = Retain)
              want.foreach(live.remove)
              pending += want.size; changedRows += want.size
              expectCount("deleted", n, want.size)
            case LOp.FindPoint(id) => readCheck(find(col("doc_id") === id), live.keys.filter(_ == id).toSeq)
            case LOp.FindRange(lo, hi) => readCheck(find(col("doc_id").between(lo, hi)), inRange(lo, hi))
            case LOp.Changes =>
              val (df, next) = DocStore.changesSince(s, store(d), cursor, "doc_id")
              val n = df.collect().length.toLong
              cursor = next
              ctx.counters("poll_rows") += n
              val errs = expectCount("changes", n, pending)
              pending = 0
              errs
            case LOp.SyncNearDup =>
              val m = syncNd(s, d).select("id_a", "id_b").collect()
              ctx.counters("poll_rows") += m.length
              val stale = m.flatMap(r => Seq(r.getLong(0), r.getLong(1))).filterNot(live.contains)
              if (stale.isEmpty) Nil else Seq(s"near-dup match names ${stale.length} dead documents")
            case LOp.SyncIvf =>
              // updates leave vectors alone, so only new documents are upserted
              val n = Streams.syncIvfIndex(s, store(d), ivf(d), model, idCol = "doc_id")
              ctx.counters("poll_rows") += n
              val errs = expectCount("IVF upserts", n, unindexed)
              unindexed = 0
              errs
            case LOp.Maintain =>
              Streams.maintainAll(s, store(d), keyCol = Some("doc_id"), retain = Retain)
              Nil
          }
        }
    }
    ctx.check(s"pass $p live set") {
      val got = DocStore.find(s, store(d)).select("doc_id", "text", "n_chars").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      if (got == live.toMap) Nil
      else Seq(s"store holds ${got.size} documents, expected ${live.size}; " +
        s"${(got.toSet diff live.toSet).size} differ")
    }
    ctx.check(s"pass $p IVF index follows the store") {
      // exhaustive probing with the vector of a near-duplicated live
      // document: its nearest other document is one of the inserted
      // near-duplicates, which only the syncs put into the index
      val probe = dupsOf.keys.filter(live.contains).toSeq.sorted.take(5)
      val q = DocStore.find(s, store(d), Some(col("doc_id").isin(probe: _*))).select("doc_id", "embedding")
      val hits = graft.sim.Ann.ivfSearch(model, s.read.parquet(ivf(d)), q, k = 1, nProbe = 16,
        idCol = "doc_id").collect()
      val wrong = hits.count(r => !dupsOf(r.getAs[Long]("q_id")).contains(r.getAs[Long]("doc_id")))
      if (hits.length == probe.size && wrong == 0) Nil
      else Seq(s"${hits.length} hits for ${probe.size} probes, $wrong not a near-duplicate of the probe")
    }
  }

  def spaceAmp(ctx: Ctx): Double = {
    val compact = s"${ctx.work}/life-compact"
    val live = DocStore.find(ctx.spark, store(passDir))
    val n = live.count()
    live.coalesce(1).write.mode("overwrite").parquet(compact)
    val bytes = Disk.bytes(compact).toDouble
    compactBytesPerRow = bytes / n
    Disk.delete(compact)
    Disk.bytes(passDir) / bytes
  }

  override def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = {
    val commits = Option(ctx.tracer.byKind.get("commit")).map(_.bytesWritten).getOrElse(0L)
    def batchDirs(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val w = java.nio.file.Files.walk(root)
        try w.filter(f => java.nio.file.Files.isDirectory(f) &&
          f.getFileName.toString.startsWith("batch_id=")).count()
        finally w.close()
      }
    }
    Map(
      "sources.docstore.write_amp" -> commits / math.max(1.0, changedRows * compactBytesPerRow),
      "sources.docstore.files_live" -> DocStore.find(ctx.spark, store(passDir)).inputFiles.length.toDouble,
      "streaming.index_batch_dirs" -> (batchDirs(nd(passDir)) + batchDirs(ivf(passDir))).toDouble)
  }

  override def kindMetrics: Seq[(String, String)] = Seq(
    "commit_p50_s" -> "commit", "read_p50_s" -> "read", "cdc_poll_p50_s" -> "cdc_poll",
    "index_poll_p50_s" -> "index_poll", "maintain_p50_s" -> "maintain")
}
