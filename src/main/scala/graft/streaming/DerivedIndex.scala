package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.core.{Io, Parallel}
import graft.sources.DocStore

/** One batch-dir tree of a derived index: `dir/batch_id=N[/partCol=V]/`.
  * `pairs` marks a tree whose rows name index ids as an `(id_a, id_b)`
  * pair (the near-dup matches) rather than in the id column. `data` is
  * the tree's file columns when the caller knows their exact types (a
  * sync poll or batch, from the rows it indexes); reads then declare the
  * schema instead of paying a footer-inference job. Callers holding only
  * foreign input (ids passed to a public takedown or probe) leave it
  * unset: those types need not match the files'.
  */
private[streaming] final case class BatchTree(dir: String, partCol: Option[String],
                                              pairs: Boolean = false,
                                              data: Option[StructType] = None) {

  /** Every batch of the tree: its file columns, then `batch_id` and
    * `partCol` as partition columns.
    */
  def read(spark: SparkSession): DataFrame = readAt(spark, dir, "batch_id" +: partCol.toSeq)

  /** One batch dir: its file columns, then `partCol`. */
  def readBatch(spark: SparkSession, b: Long): DataFrame =
    readAt(spark, s"$dir/batch_id=$b", partCol.toSeq)

  // the declared partition columns carry the type discovery infers for
  // them: int (slots, cells and batch ids all lie in int range)
  private def readAt(spark: SparkSession, path: String, parts: Seq[String]): DataFrame =
    data.fold(spark.read.parquet(path)) { d =>
      spark.read.schema(StructType(d.fields.map(_.copy(nullable = true)) ++
          parts.map(StructField(_, IntegerType))))
        .parquet(path)
    }
}

/** The on-disk layout of one derived index: the root holding the `_SYNC`
  * and `_META` sidecars, the batch-dir trees, and the takedown tombstone
  * dir. Near-dup: `keys` (slot), `shingles` (id_slot), `matches` (pairs,
  * unpartitioned) and `tombstones`; IVF: the root itself (cell) and
  * `_tombstones`.
  */
private[streaming] final case class IndexLayout(root: String, trees: Seq[BatchTree],
                                                tombstones: String)

/** The derived-index protocol, written once for every index kind: the
  * small-file sidecars (`_SYNC`, `_META`, `_COMPACT`, `_INDEXES`), the
  * batch-dir listing, the CDC sync poll, the takedown, the batch-dir fold
  * and its crash healing, and the index registry. An index kind supplies
  * its [[IndexLayout]], its batch writer and its content column; nothing
  * here branches on the kind.
  *
  * Every write is replay-idempotent or crash-healed: a batch is written
  * whole at a deterministic id (overwrite-by-batch-dir), a consumed cursor
  * is committed only after its batch, and every multi-step rewrite stages
  * first and swaps in by rename (the batch-then-commit shape of
  * Structured Streaming's offset log, SIGMOD'18).
  */
private[streaming] trait DerivedIndex {

  // ---- small files and listings -------------------------------------

  private[streaming] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `key=value` lines of a sidecar (other lines are skipped). */
  private[streaming] def parseKv(lines: Seq[String]): Map[String, String] =
    lines.map(_.trim).filter(_.contains("="))
      .map { l => val Array(a, b) = l.split("=", 2); a -> b }.toMap

  private def batchIdOf(st: FileStatus): Option[Long] = {
    val nm = st.getPath.getName
    if (st.isDirectory && nm.startsWith("batch_id=")) Some(nm.stripPrefix("batch_id=").toLong)
    else None
  }

  /** Batch ids present under `parent`, ascending (empty when the dir is missing). */
  private[streaming] def batchIdsIn(fs: FileSystem, parent: String): Seq[Long] = {
    val dir = new Path(parent)
    if (!fs.exists(dir)) Nil else fs.listStatus(dir).toSeq.flatMap(batchIdOf).sorted
  }

  // ---- _META and _SYNC ----------------------------------------------

  private val MetaFile = "_META"
  private val SyncFile = "_SYNC"

  /** Pin an index's build parameters in `_META` at its first write
    * (write-if-absent); every later entry point validates against
    * [[readMeta]] and fails loudly on a mismatch.
    */
  private[streaming] def writeMeta(fs: FileSystem, root: String,
                                   fields: Seq[(String, Any)]): Unit =
    Io.commitSmallFile(fs, new Path(root), MetaFile,
      fields.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes(UTF_8), replace = false)

  /** The index's `_META` fields (empty when there is none). */
  private[streaming] def readMeta(fs: FileSystem, root: String): Map[String, String] = {
    val p = new Path(root, MetaFile)
    if (!fs.exists(p)) Map.empty else parseKv(Io.readSmallFile(fs, p).split("\n").toSeq)
  }

  /** Commit the sync state: the consumed cursor and the last batch id it
    * produced (`-1` = seed intent: the seed is in flight).
    */
  private[streaming] def writeSync(fs: FileSystem, root: String,
                                   cur: DocStore.DocCursor, lastBid: Long): Unit =
    Io.commitSmallFile(fs, new Path(root), SyncFile,
      (s"gen=${cur.generation}\nbid=$lastBid\n" + cur.files.toSeq.sorted.mkString("\n"))
        .getBytes(UTF_8), replace = true)

  private[streaming] def readSync(fs: FileSystem, root: String)
      : Option[(DocStore.DocCursor, Long)] = {
    val p = new Path(root, SyncFile)
    if (!fs.exists(p)) return None
    val lines = Io.readSmallFile(fs, p).split("\n", -1).toSeq.map(_.trim)
    val header = lines.takeWhile(_.contains("="))
    val kv = parseKv(header)
    Some((DocStore.DocCursor(kv("gen").toInt,
      lines.drop(header.size).filter(_.nonEmpty).toSet), kv("bid").toLong))
  }

  // ---- ingest-side helpers ------------------------------------------

  /** Complete a crashed fold in every tree before the index is read. */
  private[streaming] def healAll(fs: FileSystem, ix: IndexLayout): Unit =
    ix.trees.foreach(t => healIndexCompaction(fs, t.dir))

  /** TAKEDOWN REPLAY FILTER: `batch` minus the ids tombstoned at or after
    * batch `bid` ([[takedown]]) — an at-least-once replay of a
    * pre-takedown batch then rewrites the batch WITHOUT the removed ids
    * (identical to what the takedown's own rewrite left) instead of
    * reinstating them. Broadcast anti-join over an id-sized table; a fresh
    * batch (id above every cutoff) passes through whole.
    */
  private[streaming] def withoutTombstoned(fs: FileSystem, ix: IndexLayout,
                                           batch: DataFrame, idCol: String,
                                           bid: Long): DataFrame =
    if (fs.exists(new Path(ix.tombstones)))
      batch.join(
        broadcast(batch.sparkSession.read.parquet(ix.tombstones)
          .filter(col("cutoff_bid") >= bid).select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
    else batch

  // ---- CDC sync poll ------------------------------------------------

  /** One CDC poll of a derived index that FOLLOWS the DocStore corpus at
    * `srcPath`: the protocol behind both `Streams.syncNearDupIndex` and
    * `Streams.syncIvfIndex`.
    *
    * Exactly-once without a transaction, by IDEMPOTENCE at a
    * DETERMINISTIC batch id: a poll takes down the superseded content of
    * every touched id (`remove`; removing again is a no-op), then
    * `ingest`s the latest content at `lastBid + 1`
    * (overwrite-by-batch-dir), and only then commits the consumed cursor
    * to `_SYNC` (tmp-then-rename) — a crash anywhere before that commit
    * replays byte-identically. Multi-generation windows collapse to the
    * net effect per id first, so the new batch never sees superseded
    * content. A document whose content column is null (or absent) is
    * not indexed.
    *
    * Ownership: a root holding data but no `_SYNC` state (built by the
    * stream ingest or another maintainer) fails loudly instead of
    * silently mixing corpora. The first call seeds from exactly the
    * captured cursor's snapshot as batch 1, under a `bid=-1` seed intent
    * so a crashed seed redoes itself on retry. Reading the cursor
    * snapshot, not a live find, makes the first poll's delta DISJOINT
    * from the seed, which is what lets a pure-insert window skip the
    * takedown. PRECONDITION: seed through this function — an index
    * seeded elsewhere can hold ids the first poll reports as "inserted",
    * whose stale entries nothing reconciles.
    *
    * The kind supplies `layout`: the index layout, given the schema of
    * the (id, content) rows it indexes when the poll knows it, so the
    * takedown reads each tree with a declared schema. `extra(side)` adds
    * per-id aggregates over the window's before/after images; `hint` is a
    * long over a per-id row (its columns plus the `extra` ones), and
    * `scope(ix, hints)` is the takedown's discovery scan given the
    * distinct hints of the removed ids (the IVF cells or near-dup id
    * slots their superseded content lives in; nulls are skipped). `pin`
    * materializes an ingested poll's result before a fold can merge its
    * batch dir away. `maxBatchDirs > 0` folds committed batch dirs after
    * every poll ([[foldIndex]]). At 100 TB each poll costs O(changed
    * documents + their batch dirs), never an index or corpus rescan.
    */
  private[streaming] def syncIndex[R](spark: SparkSession, srcPath: String,
                                      layout: Option[StructType] => IndexLayout,
                                      kind: String, what: String,
                                      idCol: String, content: String,
                                      maxBatchDirs: Int, none: => R, pin: R => R,
                                      extra: (String => Column) => Seq[Column],
                                      hint: Column)(
                                      ingest: (DataFrame, Long) => R)(
                                      scope: (IndexLayout, Seq[Long]) => Option[DataFrame]): R = {
    val ix = layout(None)
    val fs = fsOf(spark, ix.root)
    registerIndex(spark, srcPath, ix.root, kind) // maintainAll discovery
    def fold(): Unit =
      if (maxBatchDirs > 0) { foldIndex(spark, ix, maxBatchDirs, 1L << 28); () }
    def seed(c: DocStore.DocCursor): R = {
      // ONE snapshot pass: isEmpty is a limit-1 probe, and whatever the
      // batch writer counts rides its own write job
      val snap = DocStore.snapshotAt(spark, srcPath, c)
        .select(col(idCol), col(content)).filter(col(content).isNotNull)
      val seeded = !snap.isEmpty
      val r = if (seeded) ingest(snap, 1L) else none
      writeSync(fs, ix.root, c, if (seeded) 1L else 0L)
      r
    }
    readSync(fs, ix.root) match {
      case None =>
        healAll(fs, ix) // the ownership check must not see a mid-fold layout
        val root = new Path(ix.root)
        require(!(fs.exists(root) &&
            fs.listStatus(root).exists(st => Io.isVisible(st.getPath.getName))),
          s"$what: ${ix.root} already has ingested batches but no _SYNC " +
            "state — it was built by the stream ingest or another " +
            "maintainer; point CDC sync at a fresh index directory")
        val c = DocStore.cursor(spark, srcPath)
        // seed INTENT (bid = -1) committed before any index write
        fs.mkdirs(root)
        writeSync(fs, ix.root, c, -1L)
        seed(c)
      case Some((c0, -1L)) => // a crashed seed: redo it (idempotent)
        seed(c0)
      case Some((c0, lastBid)) =>
        val (changes, next) = DocStore.changesSince(spark, srcPath, c0, idCol)
        if (next == c0) { fold(); return none }
        // absent content in a window's structs == null content (the
        // schemaless convention): a null -> null "change" is no change
        def side(s: String): Column = {
          val st = changes.schema(s).dataType.asInstanceOf[StructType]
          if (st.fieldNames.contains(content)) col(s"$s.$content") else lit(null)
        }
        // ONE per-id pass over the window (checkpointed, so the window's
        // diff plan runs once) and a SINGLE aggregate — `max_by` picks the
        // latest generation's after image directly (MaxBy skips null
        // ORDERINGS only; `generation` is never null, so a
        // latest-is-delete id correctly yields a null `__after`). `__tc` =
        // the indexed content must change (covers inserts via the null
        // before and deletes via the null after); `__old` = any
        // non-inserted change (only those ids can have superseded content
        // in the index); `__after` = the latest content (null when the
        // net effect is a delete). Every decision below rides the
        // checkpoint job as an Observation: how many ids changed, how many
        // need a takedown or an ingest, and the bounded hint set.
        val polled = org.apache.spark.sql.Observation()
        val perId = changes
          .groupBy(col(idCol))
          .agg(max(when(!(side("before") <=> side("after")), 1).otherwise(0)).as("__tc"),
            (max(when(col("change") =!= "inserted", 1).otherwise(0)).as("__old") +:
              max_by(when(col("change") =!= "deleted", side("after")),
                col("generation")).as("__after") +:
              extra(side)): _*)
          .filter(col("__tc") === 1)
          .observe(polled, count(lit(1)).as("ids"),
            count(when(col("__old") === 1, 1)).as("old"),
            count(when(col("__after").isNotNull, 1)).as("new"),
            collect_set(when(col("__old") === 1, hint.cast("long"))).as("hints"))
          .localCheckpoint(true)
        val seen = polled.get
        def seenCount(m: String): Long = seen(m).asInstanceOf[Long]
        if (seenCount("ids") == 0L) { // metadata-only window: cursor advance only
          writeSync(fs, ix.root, next, lastBid)
          fold()
          return none
        }
        // remove the superseded content FIRST, then ingest the latest as
        // the next batch. PURE-INSERT FAST PATH: a freshly inserted id
        // cannot be in the index, so the takedown runs only when the
        // window carries an update or delete. The takedown writes no
        // tombstones here — a crashed poll must re-ingest the very ids it
        // just removed at the SAME batch id.
        val toIngest = perId.filter(col("__after").isNotNull)
          .select(col(idCol), col("__after").as(content))
        val nOld = seenCount("old")
        if (nOld != 0L) {
          val typed = layout(Some(toIngest.schema))
          val hints = seen("hints").asInstanceOf[Seq[Long]].sorted
          takedownDistinct(spark, typed, perId.filter(col("__old") === 1).select(col(idCol)),
            idCol, tombstone = false, Some(nOld))(_ => scope(typed, hints))
        }
        val bid = lastBid + 1
        val ingested = seenCount("new") != 0L
        val r = if (ingested) ingest(toIngest, bid) else none
        writeSync(fs, ix.root, next, if (ingested) bid else lastBid)
        if (maxBatchDirs <= 0) r
        else {
          // pin this poll's result BEFORE folding: the fold may merge
          // batch `bid` into a consolidated dir, after which a lazy read
          // of it would return all history, not this poll
          val pinned = if (ingested) pin(r) else r
          fold()
          pinned
        }
    }
  }

  // ---- takedown -----------------------------------------------------

  /** Complete takedown swaps a crash interrupted: a leftover
    * `.takedown-bN-*` staging dir whose `batch_id=N` sibling is gone means
    * a crash between the swap's delete and rename — rename it in; with the
    * sibling present the staging is stale and is deleted. Returns the
    * batch ids present afterwards.
    */
  private def healTakedowns(fs: FileSystem, parent: String): Seq[Long] = {
    val dir = new Path(parent)
    if (!fs.exists(dir)) return Nil
    val listed = fs.listStatus(dir).toSeq
    val restored = listed.flatMap { st =>
      val nm = st.getPath.getName
      if (!st.isDirectory || !nm.startsWith(".takedown-b")) None
      else {
        val b = nm.stripPrefix(".takedown-b").takeWhile(_ != '-')
        val target = new Path(dir, s"batch_id=$b")
        if (fs.exists(target)) { fs.delete(st.getPath, true); None }
        else if (fs.rename(st.getPath, target)) Some(b.toLong)
        else throw new java.io.IOException(
          s"index takedown: cannot recover ${st.getPath} -> $target")
      }
    }
    (listed.flatMap(batchIdOf) ++ restored).distinct.sorted
  }

  /** TAKEDOWN: purge `ids` from every batch-dir tree of the index, so no
    * later probe, poll or replayed batch can serve them. Returns how many
    * distinct ids were indexed (0 = a loud no-op).
    *
    * Order: heal crashed folds and swaps; TOMBSTONES FIRST — stamped with
    * the max batch id present now in ANY tree (a batch that crashed
    * between its parallel tree writes exists in some trees only, and its
    * replay must stay covered) — so a crash later leaves the replay filter
    * in place and re-running finishes the purge; then ONE discovery
    * aggregate (removed count + affected batch set, bounded collects)
    * over `scope(ids)` — the (id, batch_id) rows that can hold
    * the ids, pruned by what the kind knows, None when nothing can match;
    * then every affected batch dir is rewritten STAGE-THEN-SWAP (written
    * to a private staging dir while the live dir stays intact, then
    * delete + rename; [[healTakedowns]] closes the one remaining metadata
    * gap). A tree keyed by pairs finds its affected dirs by its own scan
    * (a later batch's row can name an earlier removed id), run alongside
    * the discovery aggregate. Discoveries and rewrites each run
    * concurrently ([[Parallel.runAll]]).
    *
    * The ids are matched by join, or by value (`isin`) when the caller
    * knows there are at most [[ByValueIdCap]] of them: then the only
    * collect of ids is that bounded one.
    *
    * The sync poll calls [[takedownDistinct]] without tombstones: its
    * crashed-poll replay must re-ingest the very ids it just removed at
    * the same batch id. Single-writer: never run while a batch is in
    * flight.
    */
  private[streaming] def takedown(spark: SparkSession, ix: IndexLayout, ids: DataFrame,
                                  idCol: String)(
                                  scope: DataFrame => Option[DataFrame]): Long = {
    val idDf = ids.select(col(idCol)).distinct().cache()
    try takedownDistinct(spark, ix, idDf, idCol, tombstone = true)(scope)
    finally idDf.unpersist()
  }

  /** The most ids a takedown collects to the driver to filter on by
    * value (`isin`) rather than by joins against the id frame, each of
    * which is a broadcast job of its own. Filtering only; never a
    * semantics change.
    */
  private val ByValueIdCap = 10000L

  /** [[takedown]] of `idDf`, a frame of DISTINCT ids in `idCol` that is
    * cheap to read more than once (cached or checkpointed); `nIds` is its
    * row count when the caller already knows it.
    */
  private[streaming] def takedownDistinct(spark: SparkSession, ix: IndexLayout,
                                          idDf: DataFrame, idCol: String,
                                          tombstone: Boolean,
                                          nIds: Option[Long] = None)(
                                          scope: DataFrame => Option[DataFrame]): Long = {
    val fs = fsOf(spark, ix.root)
    healAll(fs, ix)
    val present = ix.trees.map(t => healTakedowns(fs, t.dir))
    if (present.forall(_.isEmpty)) return 0L
    val scoped = scope(idDf) match {
      case Some(df) => df
      case None => return 0L
    }
    // the ids by value when few (one collect), else by join
    val byValue = nIds.filter(_ <= ByValueIdCap)
      .map(_ => idDf.collect().toSeq.map(_.get(0)).filter(_ != null))
    def idsAs(c: String): DataFrame =
      if (c == idCol) idDf else idDf.select(col(idCol).as(c))
    // rows of `df` whose column `c` holds (or does not hold) a removed id;
    // a null never matches, as under the joins, so the anti side keeps it
    def withIds(df: DataFrame, c: String): DataFrame = byValue.fold(
      df.join(idsAs(c), Seq(c), "leftsemi"))(v => df.filter(col(c).isin(v: _*)))
    def withoutIds(df: DataFrame, c: String): DataFrame = byValue.fold(
      df.join(idsAs(c), Seq(c), "left_anti"))(
      v => df.filter(!coalesce(col(c).isin(v: _*), lit(false))))
    if (tombstone)
      idDf.withColumn("cutoff_bid", lit(present.flatten.max))
        .write.mode(SaveMode.Append).parquet(ix.tombstones)
    val trees = ix.trees.zip(present)
    val pairTrees = trees.collect { case (t, ps) if t.pairs && ps.nonEmpty => t }
    // the removed count, then the affected batches: ONE exchange groups
    // the found ids with their batches, and the id-sized groups then fold
    // in a single task (coalesce(1) needs no second exchange). batch_id
    // cast first: partition-dir values infer as int
    def discover(): Seq[Long] = {
      val disc = withIds(scoped.select(col(idCol), col("batch_id").cast("long").as("__b")), idCol)
        .groupBy(col(idCol)).agg(collect_set(col("__b")).as("__bs"))
        .coalesce(1)
        .agg(count(lit(1)), array_distinct(flatten(collect_list(col("__bs")))))
        .head()
      disc.getLong(0) +: disc.getSeq[Long](1).sorted
    }
    def pairBatches(t: BatchTree): Seq[Long] = {
      val m = t.read(spark)
      Seq("id_a", "id_b")
        .map(c => withIds(m, c).select(col("batch_id").cast("long")))
        .reduce(_ union _)
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
    }
    val found = Parallel.runAll(spark,
      (() => discover()) +: pairTrees.map(t => () => pairBatches(t)))
    val removed = found.head.head
    if (removed == 0L) return 0L
    def rewrite(t: BatchTree, b: Long): () => Unit = () => {
      val keyCols = if (t.pairs) Seq("id_a", "id_b") else Seq(idCol)
      val kept = keyCols.foldLeft(t.readBatch(spark, b))(withoutIds)
      val tmp = new Path(t.dir, s".takedown-b$b-${java.util.UUID.randomUUID()}")
      // no repartition by `partCol`, so no shuffle: every file of the
      // batch dir lies in one partCol dir, so a scan task writes at most
      // one file per file (split) it reads
      val w = kept.write.mode(SaveMode.Overwrite)
      t.partCol.fold(w)(w.partitionBy(_)).parquet(tmp.toString)
      val target = new Path(t.dir, s"batch_id=$b")
      fs.delete(target, true)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"index takedown: cannot swap $tmp -> $target")
    }
    // a crashed ingest's parallel writes can leave a batch in some trees
    // only: rewrite whichever trees hold it (the tombstone covers its replay)
    val idRewrites = found.head.tail.flatMap(b => trees.collect {
      case (t, ps) if !t.pairs && ps.contains(b) => rewrite(t, b)
    })
    val pairRewrites = pairTrees.zip(found.tail)
      .flatMap { case (t, bs) => bs.map(b => rewrite(t, b)) }
    Parallel.runAll(spark, idRewrites ++ pairRewrites)
    removed
  }

  // ---- batch-dir fold -----------------------------------------------
  //
  // Every ingest batch / CDC poll adds one `batch_id=N` directory to each
  // tree of a derived index and nothing else ever merges them: a corpus
  // polled every 5 minutes for 3 months is ~26k batch dirs x slots/cells
  // whose directory listings, parquet footers, and per-probe file counts
  // grow linearly with POLL COUNT forever, even while the data volume is
  // flat — the exact small-file problem
  // [[graft.sources.DocStore.maintain]] solves for the store, reproduced
  // index-side. [[foldIndex]] is the missing leg: fold every batch dir at
  // or below a safe cutoff into ONE consolidated dir (per slot / per cell
  // — the partition scheme, and therefore every pruned read, is
  // unchanged), tombstone-correct by construction (takedowns rewrite dirs
  // physically, so consolidation unions only post-takedown content and
  // can never resurrect a removed id), and crash-safe via an intent-file
  // protocol (stage -> intent -> delete olds -> rename -> clear intent;
  // every entry point heals a crashed run before reading).
  //
  // CUTOFF RULE: a `_SYNC`-maintained index consolidates everything at or
  // below the committed `lastBid` (a crashed poll's orphan `lastBid+1`
  // dir is left alone — its replay overwrites that dir whole); a
  // stream-built index (no `_SYNC`) keeps its MAX batch dir untouched,
  // because only the latest batch can be redelivered by an at-least-once
  // restart — consolidating it would double its content under the replay.
  // Single-maintainer like every other index write: do not run while a
  // poll or ingest batch is in flight.

  private val CompactIntentFile = "_COMPACT"
  private val CompactLockFile = "_COMPACT.lock"

  /** How long a swap lock is honored before it is presumed crashed and
    * breakable. The locked region is pure FS metadata work (delete a
    * bounded set of batch dirs + one rename), so minutes is generous
    * even on an object store; after a compactor crash, probes fail
    * loudly for at most this long before the next heal completes the
    * swap (an operator can always delete the lock by hand).
    */
  private val SwapLockTtlMs = 15L * 60 * 1000

  /** How long a heal waits for a LIVE swap owner to finish before
    * failing loudly. A healthy swap clears its intent in well under
    * this; hitting the deadline means the owner crashed inside the TTL
    * window (or is pathologically slow) — the caller must not read a
    * mid-swap layout silently.
    */
  private def healWaitMs: Long =
    java.lang.Long.getLong("graft.index.healWaitMs", 10L * 1000)

  /** Size-tier ratio for [[consolidateBatchDirs]]: a dir whose bytes
    * exceed this factor times the total of all smaller eligible dirs is
    * left in place rather than rewritten into every fold. 4 bounds each
    * byte's lifetime rewrites to ~log_4(index bytes / delta bytes)
    * while keeping the dir count within maxBatchDirs + O(log) tiers.
    */
  private def TierFactor: Long =
    java.lang.Long.getLong("graft.index.tierFactor", 4L)

  /** One JVM-level monitor per qualified index path: Hadoop's LOCAL
    * filesystem has no atomic create-exclusive (`createNewFile` is
    * exists-then-create), so two threads of one driver can both claim
    * the FS lock — the monitor makes in-process claimants strictly
    * serial, and the FS lock file covers cross-process claimants on
    * filesystems whose create IS atomic (HDFS). Bounded by the number
    * of distinct index paths a driver touches.
    */
  private val swapGuards =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def swapGuard(fs: FileSystem, parent: String): Object =
    swapGuards.computeIfAbsent(fs.makeQualified(new Path(parent)).toString,
      _ => new Object)

  /** Take exclusive ownership of `parent`'s compaction swap, or None when
    * a live owner holds it. Exclusivity rides two ATOMIC primitives: the
    * lock itself is claimed with create-exclusive (`createNewFile` — only
    * one claimant wins), and a stale lock (older than [[SwapLockTtlMs]])
    * is broken by RENAMING it aside first — two breakers racing on the
    * same stale lock resolve because only one rename can succeed. This is
    * what serializes the DESTRUCTIVE swap leg (delete folded dirs +
    * rename staging in) between a compactor and the heals that probes and
    * polls run at entry: without it a heal and a live compactor can run
    * the same delete+rename concurrently, and the interleaving
    * "A renames staging -> batch_id=N; B, mid-delete-loop, deletes
    * batch_id=N; B's rename finds no staging" destroyed every folded
    * batch with no recovery path.
    */
  private def tryAcquireSwapLock(fs: FileSystem, parent: String): Option[(Path, String)] = {
    val lock = new Path(parent, CompactLockFile)
    if (fs.exists(lock)) {
      val age = System.currentTimeMillis() -
        (try fs.getFileStatus(lock).getModificationTime
         catch { case _: java.io.FileNotFoundException => return None })
      if (age < SwapLockTtlMs) return None
      // stale: move it aside atomically — of N concurrent breakers
      // exactly one rename succeeds; the rest see a live claim elsewhere
      val aside = new Path(parent, s".$CompactLockFile-stale-${java.util.UUID.randomUUID()}")
      if (!scala.util.Try(fs.rename(lock, aside)).getOrElse(false)) return None
      fs.delete(aside, false)
    }
    // FENCED claim: the lock file CARRIES the owner's token (written to a
    // claim file, renamed into place — rename refuses an existing target
    // on HDFS-like filesystems, and the JVM monitor covers the local FS
    // whose rename overwrites). The token is what lets the owner detect a
    // TTL break mid-swap ([[holdsSwapLock]]) instead of blindly deleting
    // dirs another actor now owns.
    val token = java.util.UUID.randomUUID().toString
    val claim = new Path(parent, s".$CompactLockFile-claim-$token")
    val out = fs.create(claim, true)
    try out.write(token.getBytes(UTF_8)) finally out.close()
    if (fs.exists(lock) || !scala.util.Try(fs.rename(claim, lock)).getOrElse(false)) {
      fs.delete(claim, false)
      None
    } else Some((lock, token))
  }

  /** Does `lock` still carry `token`? False after a TTL break stole
    * ownership (or the lock vanished) — the holder must then ABORT its
    * destructive work: the committed intent lets the new owner complete
    * the swap with no loss.
    */
  private def holdsSwapLock(fs: FileSystem, lock: Path, token: String): Boolean =
    scala.util.Try(Io.readSmallFile(fs, lock) == token).getOrElse(false)

  /** Complete (or discard) a crashed consolidation under `parent`. With
    * an intent present: staging still there -> redo the delete+rename leg
    * UNDER THE SWAP LOCK (see [[tryAcquireSwapLock]] — never concurrently
    * with a live compactor or another heal); staging gone -> the rename
    * landed, just clear the intent. When a live owner holds the lock the
    * heal WAITS for the intent to clear (a healthy swap is metadata-fast)
    * and fails loudly at the deadline rather than read a mid-swap layout.
    * Stale dot-prefixed staging dirs WITHOUT an intent are debris from a
    * crash before the intent committed — the batch dirs are all still
    * live, so the staging is simply deleted (age-gated below). One
    * exists() when nothing crashed.
    */
  private[streaming] def healIndexCompaction(fs: FileSystem, parent: String): Unit = {
    val dir = new Path(parent)
    if (!fs.exists(dir)) return
    val intent = new Path(dir, CompactIntentFile)
    if (fs.exists(intent)) {
      val acquired = swapGuard(fs, parent).synchronized {
        tryAcquireSwapLock(fs, parent) match {
          case Some((lock, token)) =>
            try {
              // re-check under the lock: the owner may have completed
              // the swap between our intent probe and the acquisition
              if (fs.exists(intent))
                completeSwap(fs, dir, intent, swapFence(fs, lock, token))
            } finally {
              // only release a lock still carrying OUR token — after a
              // TTL break this file is the new owner's claim
              if (holdsSwapLock(fs, lock, token)) fs.delete(lock, false)
            }
            true
          case None => false
        }
      }
      if (!acquired) {
        // a live owner (another process's compactor or heal) is
        // mid-swap: wait for it — the locked region is metadata-only,
        // so a healthy owner clears the intent in well under the
        // deadline
        val deadline = System.currentTimeMillis() + healWaitMs
        while (fs.exists(intent) && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        if (fs.exists(intent))
          throw new java.io.IOException(
            s"index compaction: a swap on $parent is still in flight (or " +
              s"its owner crashed less than ${SwapLockTtlMs / 1000}s ago) " +
              "— refusing to read a mid-swap layout; retry after it " +
              s"completes, or delete $parent/$CompactLockFile if the " +
              "owner is known dead")
      }
    }
    // debris: staging dirs whose intent never committed. AGE-GATED — a
    // fresh `.compact-*` dir may be a LIVE compaction's staging that has
    // not reached its intent commit yet, and reads/polls legitimately
    // run (and heal) concurrently with a compactor; deleting its staging
    // here would let the compactor go on to destroy the original batch
    // dirs and then fail its rename, losing every folded batch. 24h
    // spares any real consolidation; crash debris stops accumulating at
    // the next day's first heal. DELIBERATELY shorter than the store's
    // 7-day `.staging-*` reaper: a store rewrite stages the whole corpus
    // (legitimately multi-day at 100 TB), while an index fold stages a
    // bounded batch-dir union whose write is minutes, not days — and the
    // compactor's pre-delete staging-exists guard turns the residual bad
    // case (a >24h-old LIVE staging reaped here) into a loud abort with
    // every original batch dir intact, never a loss.
    val debrisCutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    fs.listStatus(dir).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".compact-") &&
          st.getModificationTime < debrisCutoff)
        fs.delete(st.getPath, true)
    }
  }

  /** The intent-completion leg shared by the heal AND the compactor (one
    * copy of the destructive sequence, so the two can never diverge):
    * delete every folded `batch_id=` dir at/below the
    * intent's target (ascending, so the target slot — the rename
    * destination — goes LAST), rename the staged union in, clear the
    * intent. MUST be called with the swap lock held; `fence` runs before
    * EVERY destructive operation — the holder's ownership re-check +
    * lock-mtime heartbeat, so a TTL break by another actor mid-sequence
    * is detected at the next op instead of blindly deleting dirs the new
    * owner just installed, and a LIVE holder's heartbeat keeps it from
    * ever looking stale in the first place. A failed final rename with
    * the target present and the staging gone is treated as an
    * already-completed swap rather than an error (under the fence it
    * should be unreachable, but external interference must degrade to
    * idempotence, not loss).
    * `expectStaging` = the compactor's last-line guard: it KNOWS it
    * staged, so a vanished staging aborts loudly with every original
    * batch dir intact (intent cleared first); a heal with no staging
    * infers the rename already landed and just clears the intent.
    */
  private[streaming] def completeSwap(fs: FileSystem, dir: Path, intent: Path,
                                      fence: () => Unit = () => (),
                                      expectStaging: Boolean = false): Unit = {
    val kv = parseKv(Io.readSmallFile(fs, intent).split("\n").toSeq)
    val target = kv("target").toLong
    val staging = new Path(dir, kv("staging"))
    // the intent's explicit fold set (tiered folds leave LARGER dirs in
    // place, possibly with ids below the target); an intent without one
    // (pre-tiering format) folds everything at/below the target
    val foldSet: Option[Set[Long]] = kv.get("ids")
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet)
    if (fs.exists(staging)) {
      batchIdsIn(fs, dir.toString).filter(n => foldSet.fold(n <= target)(_.contains(n)))
        .foreach { n => fence(); fs.delete(new Path(dir, s"batch_id=$n"), true) }
      fence()
      val dst = new Path(dir, s"batch_id=$target")
      if (!fs.rename(staging, dst) && !(fs.exists(dst) && !fs.exists(staging)))
        throw new java.io.IOException(
          s"index compaction: cannot recover $staging -> batch_id=$target")
    } else if (expectStaging) {
      fs.delete(intent, false)
      throw new java.io.IOException(
        s"index compaction: staged union $staging disappeared before the " +
          "swap — aborting with all original batch dirs intact")
    }
    fs.delete(intent, false)
  }

  /** The holder-side fence for [[completeSwap]]: abort LOUDLY when the
    * lock no longer carries this holder's token (a TTL break after a
    * stall — the new owner completes the swap from the committed intent,
    * so aborting loses nothing), and heartbeat the lock's mtime so a
    * live holder never crosses the TTL between two metadata ops.
    */
  private[streaming] def swapFence(fs: FileSystem, lock: Path, token: String): () => Unit = () => {
    if (!holdsSwapLock(fs, lock, token))
      throw new java.io.IOException(
        s"index compaction: lost swap-lock ownership at $lock mid-swap " +
          "(TTL break after a stall) — aborting; the committed intent " +
          "lets the new owner complete the swap with no loss")
    scala.util.Try(fs.setTimes(lock, System.currentTimeMillis(), -1))
    ()
  }

  /** Fold `parent`'s batch dirs with id <= `cutoff` into one consolidated
    * `batch_id=max(folded)` dir, preserving `partitionCol`'s partition
    * scheme (None = unpartitioned, the matches table). Returns how many
    * dirs were folded away (0 = one or zero dirs at/below the cutoff —
    * already consolidated). The stage->intent->delete->rename protocol
    * with [[healIndexCompaction]] makes a crash at ANY point recoverable
    * with no content loss: until the intent commits, every original dir
    * is still live; after it, the staged union carries all of them.
    */
  private def consolidateBatchDirs(spark: SparkSession, fs: FileSystem,
                                   parent: String, cutoff: Long,
                                   partitionCol: Option[String],
                                   maxFileBytes: Long): Long = {
    val dir = new Path(parent)
    if (!fs.exists(dir)) return 0L
    healIndexCompaction(fs, parent)
    // a TAKEDOWN that crashed between its delete and rename left a
    // `.takedown-bN` staging whose batch dir is missing — complete it
    // BEFORE pinning ids, so the recovered batch joins this fold instead
    // of surviving as a straggler dir until the next takedown runs
    val eligible = healTakedowns(fs, parent).filter(_ <= cutoff)
    if (eligible.size <= 1) return 0L
    // SIZE-TIERED fold (the LSM merge invariant): a dir already so large
    // that every smaller eligible dir together is under a quarter of it
    // is KEPT IN PLACE — rewriting it per fold would make compaction
    // O(index) instead of O(accumulated small dirs), i.e. a 100 TB
    // consolidated dir re-written every maxBatchDirs polls. Walking the
    // sizes descending and keeping each dir whose bytes exceed
    // TierFactor x the total below it bounds every byte's lifetime
    // rewrites to O(log_TierFactor(index/delta)). Correctness is
    // untouched: probes union ALL batch dirs regardless of grouping,
    // takedowns rewrite per-dir, and a folded id is at/below the cutoff,
    // which the monotonic-bid contract already promises is never
    // redelivered — so old content living in a higher-id consolidated
    // dir can never be clobbered by a replay.
    val sized = eligible.map { n =>
      n -> fs.getContentSummary(new Path(dir, s"batch_id=$n")).getLength
    }
    val bySizeDesc = sized.sortBy { case (n, b) => (-b, n) }
    val suffix = bySizeDesc.map(_._2).scanRight(0L)(_ + _).tail
    val foldStart = bySizeDesc.indices
      .find(k => bySizeDesc(k)._2 <= TierFactor * suffix(k))
      .getOrElse(bySizeDesc.size)
    val ids = bySizeDesc.drop(foldStart).map(_._1).sorted
    if (ids.size <= 1) return 0L
    val target = ids.max
    // read EXACTLY the pinned ids (partition pruning on batch_id), union
    // them, restore the partition layout with one clustered shuffle —
    // this IS the small-file payoff. Output file count is BYTE-BUDGETED
    // (the ceil(bytes/maxFileBytes) pattern DocStore.maintain uses), not
    // a single task: at a 100 TB index the matches table is pair-scaled
    // and one coalesce(1) writer would be the whole job's critical path,
    // and a hot slot/cell past maxFileBytes splits across a salt so no
    // single file (or write task) grows with corpus size. Sizing comes
    // from the folded dirs' ON-DISK bytes (same compression in = out).
    val foldedBytes = sized.collect { case (n, b) if ids.contains(n) => b }.sum
    val nFiles = math.max(1L, (foldedBytes + maxFileBytes - 1) / maxFileBytes).toInt
    val all = spark.read.parquet(parent)
      .filter(col("batch_id").isin(ids: _*))
      .drop("batch_id")
    val staging = new Path(dir, s".compact-${java.util.UUID.randomUUID()}")
    partitionCol match {
      case Some(pc) =>
        // per-value dirs: one file per value while the budget allows it;
        // above it, a deterministic row-hash salt splits each value's
        // write into ~splits files (skewed values can still exceed the
        // budget by their skew factor — bounded by splits, never by one)
        val slots = ids.iterator.flatMap { n =>
          fs.listStatus(new Path(dir, s"batch_id=$n"))
            .iterator.filter(_.isDirectory).map(_.getPath.getName)
        }.toSet.size
        val splits = math.max(1L, (nFiles + slots - 1) / math.max(1, slots)).toInt
        if (splits <= 1)
          all.repartition(col(pc))
            .write.mode(SaveMode.Overwrite).partitionBy(pc)
            .parquet(staging.toString)
        else
          all.withColumn("__salt",
              pmod(xxhash64(all.columns.toIndexedSeq.map(col): _*), lit(splits.toLong)))
            .repartition(col(pc), col("__salt")).drop("__salt")
            .write.mode(SaveMode.Overwrite).partitionBy(pc)
            .parquet(staging.toString)
      case None =>
        if (nFiles <= 1)
          all.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
        else
          all.repartition(nFiles)
            .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    }
    // SWAP LOCK: the destructive leg below and the heal's completion leg
    // are mutually exclusive ([[tryAcquireSwapLock]]) — without it, a
    // probe's heal racing this compactor could install the consolidated
    // dir and have this delete loop destroy it.
    // Acquired AFTER the staging write (the long part) so the lock's TTL
    // only has to cover metadata work.
    swapGuard(fs, parent).synchronized {
    val (lock, token) = tryAcquireSwapLock(fs, parent).getOrElse {
      fs.delete(staging, true)
      throw new java.io.IOException(
        s"index compaction: cannot take the swap lock on $parent — another " +
          "maintainer or heal is mid-swap (or crashed holding it less than " +
          s"${SwapLockTtlMs / 1000}s ago); aborting with all original batch " +
          "dirs intact")
    }
    try {
      // INTENT commit: from here the heal protocol owns completion — a
      // crash mid-delete can no longer lose content. `ids` pins the
      // EXPLICIT fold set: a tiered fold keeps larger dirs (possibly with
      // ids below the target) in place, so the swap's delete leg must
      // never infer "everything at/below target"
      Io.commitSmallFile(fs, dir, CompactIntentFile,
        s"target=$target\nstaging=${staging.getName}\nids=${ids.mkString(",")}\n"
          .getBytes(UTF_8), replace = true)
      // the destructive leg IS the heal's completion leg — one shared
      // sequence (staging guard, fenced ascending deletes, tolerant
      // rename, intent clear); expectStaging aborts loudly with every
      // original dir intact if the staging vanished underneath us
      completeSwap(fs, dir, new Path(dir, CompactIntentFile),
        swapFence(fs, lock, token), expectStaging = true)
    } finally {
      // only release a lock still carrying OUR token — after a TTL
      // break this file is the new owner's claim
      if (holdsSwapLock(fs, lock, token)) fs.delete(lock, false)
    }
    }
    ids.size.toLong - 1L
  }

  /** Fold a takedown-tombstone sidecar (one parquet file PER takedown
    * call, forever) into a single file, dropping DEAD rows on the way: a
    * tombstone with `cutoff_bid <= cutoff` only protects replays of
    * batches the compaction just consolidated (committed, never
    * redelivered — replays target ids above the cutoff by the same
    * monotonic-bid contract the batch-dir layout already requires), and
    * per-id rows collapse to their max cutoff (the replay filter is
    * `cutoff_bid >= bid`, so only the max matters). Crash-safe WITHOUT
    * an intent: the merged file is appended FIRST and the old files
    * deleted after — any crash point leaves duplicates, which the
    * (distinct'd, idempotent) replay filter absorbs. Returns files
    * removed.
    */
  private def compactTombstones(spark: SparkSession, fs: FileSystem,
                                tombDir: String, cutoff: Long,
                                maxFileBytes: Long): Long = {
    val old = tombstoneFiles(fs, tombDir)
    if (old.size <= 1) return 0L
    val t = spark.read.parquet(tombDir)
    val idCols = t.columns.filterNot(_ == "cutoff_bid").toSeq
    val kept = t.groupBy(idCols.map(col): _*)
      .agg(max(col("cutoff_bid")).as("cutoff_bid"))
      .filter(col("cutoff_bid") > cutoff)
    // byte-budgeted like the batch-dir fold — the sidecar is id-sized so
    // this is one file in practice, but the writer task count must never
    // be a hardcoded 1 at any scale
    val nFiles = math.max(1L,
      (old.iterator.map(_.getLen).sum + maxFileBytes - 1) / maxFileBytes).toInt
    (if (nFiles <= 1) kept.coalesce(1) else kept.repartition(nFiles))
      .write.mode(SaveMode.Append).parquet(tombDir)
    old.foreach(st => fs.delete(st.getPath, false))
    old.size.toLong
  }

  /** Visible tombstone files under `dir` (none when the dir is missing). */
  private def tombstoneFiles(fs: FileSystem, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil else Io.visibleFiles(fs, p).toSeq
  }

  /** MAINTENANCE for a derived index: fold each tree's accumulated batch
    * dirs into one consolidated dir whenever any tree exceeds
    * `maxBatchDirs` (cutoff rule above). Results are row-identical before
    * and after (the partition scheme and every id survive; only the dir
    * count changes — pinned by IndexCompactionSpec), takedowns stay
    * honored, and a crashed run heals at the next entry into any index
    * operation. The tombstone sidecar folds on its OWN trigger (visible
    * file count) too: a takedown-heavy, ingest-light index grows one file
    * per takedown while its batch dirs stay under the threshold. Returns
    * the batch dirs folded away across the trees. Single-maintainer:
    * never run while a poll/ingest/takedown is in flight.
    */
  private[streaming] def foldIndex(spark: SparkSession, ix: IndexLayout,
                                   maxBatchDirs: Int, maxFileBytes: Long): Long = {
    require(maxBatchDirs >= 1, s"maxBatchDirs must be >= 1, got $maxBatchDirs")
    val fs = fsOf(spark, ix.root)
    // heal first — the dir counts below must see a consistent layout
    healAll(fs, ix)
    val ids = ix.trees.map(t => batchIdsIn(fs, t.dir))
    if (ids.forall(_.isEmpty)) return 0L
    val cutoff = readSync(fs, ix.root) match {
      case Some((_, lastBid)) => lastBid // committed polls; orphan stays
      case None => ids.flatten.max - 1L // stream-built: the max dir may be redelivered
    }
    val dirsOver = ids.map(_.size).max > maxBatchDirs
    val folded =
      if (!dirsOver) 0L
      else ix.trees.map(t =>
        consolidateBatchDirs(spark, fs, t.dir, cutoff, t.partCol, maxFileBytes)).sum
    if (dirsOver || tombstoneFiles(fs, ix.tombstones).size > maxBatchDirs)
      compactTombstones(spark, fs, ix.tombstones, cutoff, maxFileBytes)
    folded
  }

  // ---- derived-index registry ---------------------------------------

  private val IndexRegistryFile = "_INDEXES"

  /** Indexes registered against the store at `storePath`, as (kind, path)
    * pairs — kind is "neardup" or "ivf". Backed by a tab-separated
    * sidecar at the store root (underscore-prefixed: invisible to data
    * reads and to the store's own listings).
    */
  private[streaming] def registeredIndexes(spark: SparkSession,
                                           storePath: String): Seq[(String, String)] = {
    val fs = fsOf(spark, storePath)
    val p = new Path(storePath, IndexRegistryFile)
    if (!fs.exists(p)) Nil
    else Io.readSmallFile(fs, p).split("\n", -1).toSeq.map(_.trim).filter(_.nonEmpty).flatMap { ln =>
      ln.split("\t", 2) match {
        case Array(k, path) if path.nonEmpty => Some((k, path))
        case _ => None // an unparseable line registers nothing
      }
    }
  }

  private[streaming] def writeIndexRegistry(fs: FileSystem, storePath: String,
                                            entries: Seq[(String, String)]): Unit =
    Io.commitSmallFile(fs, new Path(storePath), IndexRegistryFile,
      entries.map { case (k, p) => s"$k\t$p" }.mkString("\n").getBytes(UTF_8), replace = true)

  /** One JVM monitor per store path: registry updates are
    * read-modify-write, and two concurrent registrations (first polls of
    * two indexes of the same store — legal, the single-maintainer
    * contract is per INDEX) would otherwise lose one entry or fail a
    * poll on the rename. Cross-process racers can
    * still interleave — the damage is bounded because EVERY poll
    * re-registers, so a lost entry self-heals at its index's next poll.
    */
  private val registryGuards =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[streaming] def registryGuard(fs: FileSystem, storePath: String): Object =
    registryGuards.computeIfAbsent(fs.makeQualified(new Path(storePath)).toString,
      _ => new Object)

  /** Record `indexPath` as a CDC-synced derived index of the store at
    * `storePath` — idempotent (a present entry rewrites nothing), written
    * tmp-then-rename so a torn write reads as the previous registry, and
    * serialized in-process by [[registryGuard]]. The sync poll
    * self-registers on every call, so `Streams.maintainAll` discovers
    * every live index with no operator-maintained list.
    */
  private def registerIndex(spark: SparkSession, storePath: String,
                            indexPath: String, kind: String): Unit = {
    val fs = fsOf(spark, storePath)
    if (!fs.exists(new Path(storePath))) return
    registryGuard(fs, storePath).synchronized {
      val existing = registeredIndexes(spark, storePath)
      if (!existing.contains((kind, indexPath)))
        writeIndexRegistry(fs, storePath, existing :+ ((kind, indexPath)))
    }
  }
}
