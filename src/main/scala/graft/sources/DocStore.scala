package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Io

/** Document-store source/sink (S7 scan, K8 write): the engine counterpart
  * of the reference's Mongo collection layer
  * (/root/reference/dags/Conectores_BD.py:152-222) over a JSON-lines path —
  * documents are schemaless, so reads infer the union schema across
  * heterogeneous batches the way a document collection does.
  *
  * Operation map (reference -> engine):
  *  - insertOne/insertMany -> [[insertMany]] (append; one-row frames cover
  *    insertOne)
  *  - findDoc(query)       -> [[find]] (filter pushes into the scan)
  *  - update_many($set)    -> [[updateMany]] (conditional column rewrite)
  *  - deleteManyDocuments  -> [[deleteMany]] — INCLUDING the delete-all
  *    guard (Conectores_BD.py:147-151): an absent filter with protection on
  *    raises instead of emptying the collection. The guard is the one
  *    behavior worth porting verbatim; it exists because an empty Mongo
  *    query deletes everything silently.
  *
  * Storage is GENERATIONAL, the one-pointer core of a table format
  * (Delta/Iceberg shape): data lives in immutable `gen-NNNNNN/` dirs and a
  * tiny `_MANIFEST` names the live one. A mutation rewrites the collection
  * in ONE scan into the next generation, then commits by swinging the
  * manifest — so
  *  - a crash while writing leaves the manifest (and the collection)
  *    untouched;
  *  - a crash mid-commit recovers to the newest COMPLETE generation
  *    (`_SUCCESS`-marked), never an empty or partial one;
  *  - concurrent readers keep their planned file list valid: the previous
  *    generation is retained for one more mutation before cleanup
  *    (snapshot isolation with a one-generation grace window);
  *  - concurrent APPENDS are safe, against each other and against
  *    mutations: every rewrite commits the exact file list it read (the
  *    `_SOURCE` record), so an append the rewrite never saw is
  *    deterministically salvaged into the committed generation instead of
  *    stranding in the superseded one (see [[insertMany]]).
  * Matched/deleted counts ride the rewrite pass via `Dataset.observe`; no
  * separate count() scan. The generational layout is the only one: a
  * directory holding data files but no generation (the pre-manifest
  * layout) is refused by every surface and must be rebuilt.
  *
  * READS ARE SINGLE-SCAN: JSON generations are read with the STORED
  * stats-time schema (base `_schema.json` + per-append sidecars) whenever
  * one exists, so no read — filtered or not — pays a schema-inference
  * pass over the collection; inference remains only the no-stats
  * fallback. Generations are also FORMAT-aware ([[genFormat]]):
  * [[compact]] can emit a PARQUET generation (`format = Some("parquet")`)
  * — the columnar migration riding the rewrite compaction already pays —
  * after which scans are columnar (footer schema, column pruning),
  * subsequent mutations stay parquet, and [[findAsOf]]/CDC read each
  * retained generation in its own format.
  */
object DocStore {

  final class DeleteProtectionException extends RuntimeException(
    "deleteMany without a filter would delete every document; " +
      "pass deleteProtection = false to allow it")

  /** Thrown when a mutation detects that another mutation committed
    * between its snapshot pin and its own commit: the rewrite is based on
    * a STALE snapshot, and swinging the manifest would silently discard
    * the other mutation's effect (a classic lost update). The contract
    * stays single-writer for mutations; this turns a contract violation
    * from silent data loss into a loud, cleanly-retryable failure.
    * Detection is best-effort (the final check and the swing are not one
    * atomic step, and two racing rewrites that claim the SAME next
    * generation id can still resolve last-writer-wins — the pre-protocol
    * behavior), never a correctness downgrade.
    */
  final class ConcurrentMutationException(msg: String) extends RuntimeException(msg)

  private val Manifest = "_MANIFEST"
  private val StatsDir = "_STATS"
  private val GenName = "gen-(\\d{6})".r

  // ---- file-granular copy-on-write (the `_LINKS` sidecar) -----------------
  //
  // A generation may CARRY data files of earlier generations instead of
  // rewriting them: its `_LINKS` sidecar lists root-relative entries
  // (`gen-NNNNNN/part-...`) of physical files that logically belong to this
  // generation too. A selective mutation then writes only the files that MAY
  // contain matching rows (pruned by the `_STATS` min/max+Bloom sidecars)
  // and links the provably-untouched rest — O(matched files) instead of
  // O(corpus) per mutation. Entries always name a file's PHYSICAL home
  // (links never chain), so resolution is single-hop; retention keeps the
  // readable window (newest `retain` + previous) plus the homes ITS links
  // name — one hop, which is exactly full resolution for the window.
  // Older dirs survive only as storage for those links and stop being
  // servable snapshots once their own homes age out (loud in findAsOf,
  // `unreadable-generation` in fsck). Superseded bytes inside a home are
  // reclaimed incrementally by [[vacuum]] (re-home the still-live files
  // of mostly-dead homes at O(their live bytes)) or wholesale by
  // [[compact]]/[[cluster]], which flatten every link. Data files stay
  // immutable and generation dirs append-only, so every existing protocol
  // (salvage, CDC, snapshot isolation) is unchanged.

  private val LinksFile = "_LINKS"

  /** Root-relative carried-file entries of a generation (empty when the
    * sidecar is absent — every pre-COW generation).
    */
  private def readLinks(fs: FileSystem, genDir: String): Seq[String] = {
    val p = new Path(genDir, LinksFile)
    if (!fs.exists(p)) Nil
    else Io.readSmallFile(fs, p).split("\n", -1).toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Committed like every sidecar ([[Io.commitSmallFile]]): a torn write
    * reads as ABSENT (no carried files) — and the sidecar lands before the
    * manifest swing, so an unlinked committed generation cannot arise.
    */
  private def writeLinks(fs: FileSystem, genDir: String, entries: Seq[String]): Unit =
    Io.commitSmallFile(fs, new Path(genDir), LinksFile,
      entries.sorted.mkString("\n").getBytes(UTF_8), replace = true)

  /** LOGICAL data-file names of a generation: physical visible files (plain
    * names) plus carried entries (containing '/'). Every read/pin surface
    * operates on this set; physical-only listings ([[dataFileNames]])
    * remain for the append/salvage protocols, which move physical files.
    */
  private def logicalNames(fs: FileSystem, genDir: String): Set[String] =
    dataFileNames(fs, genDir) ++ readLinks(fs, genDir)

  /** Absolute path of a logical name: plain names live in `genDir`, carried
    * entries are relative to the collection root (genDir's parent — every
    * data dir is a `gen-*` dir).
    */
  private def resolvePath(genDir: String, name: String): String =
    if (name.contains("/")) s"${new Path(genDir).getParent.toString}/$name"
    else s"$genDir/$name"

  /** Basename of a logical name — the key stats rows use (`file` field).
    * Part names embed job UUIDs, so basenames are collision-free across
    * generations.
    */
  private def baseName(name: String): String =
    name.substring(name.lastIndexOf('/') + 1)

  /** K8: append documents; returns rows written. Appending adds files to
    * the live generation — readers that already planned their scan see a
    * stable file list; new reads see the new docs. When the generation
    * carries data-skipping stats, the appended files are statted too (one
    * scan of ONLY the new files) so the skip rate never degrades across
    * appends; the stored schema is widened if the batch brings new columns.
    *
    * CONCURRENT APPENDS ARE SAFE — against each other AND against
    * mutations.
    *
    * Append-vs-append: the batch is written to a private
    * staging dir inside the generation (underscore-prefixed — invisible
    * to data scans) and its part files renamed into the live dir, so the
    * new-file set comes from THE WRITE ITSELF, never from diffing
    * directory listings — a concurrent append can neither be captured in
    * this writer's set nor statted twice (each file is statted exactly
    * once, by the writer that renamed it; part names embed the job UUID,
    * so renames cannot collide). Schema widening is additive (per-append
    * sidecar files, merged at read time), so concurrent widenings cannot
    * lose each other's columns.
    *
    * Append-vs-mutation (update/delete/compact/cluster — anything that
    * swings the manifest to a new generation): every rewrite pins and
    * COMMITS the exact file list it read (the generation's `_SOURCE`
    * record), which makes the race determinate per file — a file the
    * rewrite read linearizes the append BEFORE the mutation (its rows are
    * in the new generation, transformed); a file it provably never saw
    * linearizes the append AFTER (the file is moved into the committed
    * generation untransformed — by the mutation's own salvage step, by
    * [[healStragglers]] at the next write, and independently by this
    * appender's post-publish visibility walk; all converge on the same
    * atomic renames). The walk fails LOUDLY — never silently — in the one
    * unresolvable case: several full rewrites plus their retention pruning
    * all completing inside a single append. Mutations remain single-writer
    * among THEMSELVES; a violated mutation race is detected at commit time
    * and fails loudly ([[ConcurrentMutationException]]) instead of losing
    * the earlier rewrite.
    */
  def insertMany(df: DataFrame, path: String): Long =
    insertManySeamed(df, path, () => (), () => ())

  /** [[insertMany]] with test seams at the windows a concurrent
    * mutation/stats pass can occupy: `afterStage` runs once the batch is
    * staged but before any file is published; `afterCover` between the
    * schema-sidecar write and the publishing renames; and
    * `beforeVisibilityCheck` after publish + stats but before the
    * post-publish visibility walk. Production behavior (no-op seams) IS
    * [[insertMany]].
    */
  private[sources] def insertManySeamed(df: DataFrame, path: String,
                                        afterStage: () => Unit,
                                        beforeVisibilityCheck: () => Unit,
                                        afterCover: () => Unit = () => ()): Long = {
    val spark = df.sparkSession
    val fs = fileSystem(spark, path)
    healStragglers(spark, fs, path) // recover any crashed salvage first
    val live = liveDir(fs, path, createIfMissing = true).get
    val fmt = genFormat(fs, live)
    val staging = new Path(live, s"_append-${java.util.UUID.randomUUID()}")
    try {
      // the returned count rides the write job as an Observation — the
      // former separate df.count() paid a second full pass over the
      // input (at 100 TB: a second corpus scan per ingest batch)
      val obs = Observation()
      writeData(df.observe(obs, count(lit(1)).as("rows")), fmt, staging.toString)
      val n = obs.get("rows").asInstanceOf[Long]
      afterStage()
      // 0-byte parts (json writers emit one per empty partition) carry no
      // rows and no inferable schema — never publish them
      val staged = Io.visibleFiles(fs, staging).toSeq.filter(_.getLen > 0).map(_.getPath)
      // schema sidecar BEFORE the renames, inferred from the staged files
      // (same bytes as the published ones): the single-scan read path
      // trusts the stored schema to cover every data file, and a crash
      // after renames but before the sidecar would break that — published
      // files whose new columns the stored schema silently drops. Writing
      // the sidecar first can only OVER-describe (schema of files that
      // never arrived), which widens the read schema harmlessly.
      val statsPath = new Path(live, StatsDir)
      val sidecar: Option[Path] =
        if (staged.nonEmpty && fs.exists(new Path(statsPath, "_schema.json")))
          Some(writeSchemaSidecar(fs, statsPath,
            readFiles(spark, fmt, None, staged.map(_.toString)).schema))
        else None
      afterCover()
      // publish + visibility under the per-store guard: a same-process
      // mutation commit's retention prune cannot delete the batch's files
      // out of a superseded generation mid-walk ([[publishGuard]])
      publishGuard(fs, path).synchronized {
        val added = Io.publishStaged(fs, staged)((src, _) => new Path(live, src.getName))
          .map(_.toString)
        if (fs.exists(statsPath) && added.nonEmpty)
          appendStats(spark, fs, live, fmt, added, Some(df.schema))
        // RE-COVER check: a concurrent [[collectStats]] rewrites the stats
        // dir wholesale — deleting our sidecar — and its own read may have
        // listed the generation before our renames, so its fresh base
        // schema would not cover the published files. If a base exists now
        // but our cover is gone (or was never written because no base
        // existed then), cover the published bytes again; between this and
        // collectStats' post-write reconciliation, every ordering leaves
        // published files schema-covered. The common case (sidecar intact)
        // costs one exists() call.
        if (added.nonEmpty && fs.exists(new Path(statsPath, "_schema.json")) &&
            sidecar.forall(p => !fs.exists(p)))
          writeSchemaSidecar(fs, statsPath,
            readFiles(spark, fmt, None, added).schema)
        beforeVisibilityCheck()
        // a mutation may have swung the manifest while this append was in
        // flight; make the batch's visibility in the LIVE view determinate
        // before returning (no-op when the generation is still live)
        ensureVisible(spark, fs, path, live, added.map(p => new Path(p).getName))
      }
      n
    } finally fs.delete(staging, true)
  }

  /** Data-file format of a generation dir, detected from the data files
    * themselves: any `.parquet` data file means parquet; otherwise JSON
    * (the default). Detection beats a marker file because it is
    * self-describing — there is no marker write whose ordering against
    * `_SUCCESS`/manifest could leave a committed generation mislabeled
    * after a crash. A generation's data
    * is written by ONE job and appends adopt the live format, so mixed
    * dirs cannot arise (an empty generation reads as json, and whichever
    * format the first append writes becomes the detected format from
    * then on; a salvaged straggler crossing a format boundary is
    * CONVERTED by [[publishForward]], preserving purity).
    */
  private def genFormat(fs: FileSystem, dir: String): String = {
    val p = new Path(dir)
    val parquet = fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      Io.visibleFiles(fs, p).exists(_.getPath.getName.endsWith(".parquet"))
    // a COW generation can be all-carried (a mutation that matched rows in
    // zero or few files): no physical data files, so detect from the
    // carried entries — formats never cross a link (a COW rewrite keeps
    // the pinned format; format migration is compact's, which flattens)
    if (parquet || readLinks(fs, dir).exists(_.endsWith(".parquet"))) "parquet"
    else "json"
  }

  private def writeData(df: DataFrame, fmt: String, dest: String): Unit =
    if (fmt == "parquet") df.write.mode(SaveMode.Overwrite).parquet(dest)
    else df.write.mode(SaveMode.Overwrite).json(dest)

  /** Read specific data files (or a whole dir) in the generation's format
    * with an optional explicit schema. JSON without a schema pays an
    * inference pass; parquet without one merges footers — both are the
    * fallback, not the normal path ([[readGen]] normally supplies the
    * stored schema).
    */
  private def readFiles(spark: SparkSession, fmt: String,
                        schema: Option[org.apache.spark.sql.types.StructType],
                        files: Seq[String]): DataFrame = {
    val r0 = spark.read
    val r = schema.fold(if (fmt == "parquet") r0.option("mergeSchema", "true") else r0)(r0.schema)
    if (fmt == "parquet") r.parquet(files: _*) else r.json(files: _*)
  }

  /** SINGLE-SCAN read of a whole generation dir: parquet reads schema
    * from footers; JSON reuses the stored stats-time schema (base +
    * append sidecars — [[insertMany]] guarantees every published file is
    * covered while the base schema exists) so no schema-inference pass —
    * a full extra read of the collection — is ever paid when stats have
    * been collected. Inference remains only the no-stats fallback.
    */
  private def readGen(spark: SparkSession, fs: FileSystem, dir: String): DataFrame = {
    val fmt = genFormat(fs, dir)
    val links = readLinks(fs, dir)
    // the dir path covers its own physical files; carried files resolve to
    // their physical homes (one extra path per carried file, no listing)
    val paths = Seq(dir) ++ links.map(resolvePath(dir, _))
    readFiles(spark, fmt, storedSchema(fs, new Path(dir, StatsDir)), paths)
  }

  /** S7: scan with an optional query filter (None = full collection). An
    * empty collection (nothing inserted, or everything deleted) reads as an
    * empty frame — the empty-cursor behavior — rather than a schema
    * inference error. An interrupted manifest commit resolves to the
    * newest complete generation, so data loss is never masked as
    * emptiness.
    *
    * DATA SKIPPING: when the live generation carries per-file min/max
    * statistics ([[cluster]]/[[collectStats]]) and the filter contains
    * attr-vs-literal range/equality conjuncts, files whose stats provably
    * exclude the predicate are dropped BEFORE Spark plans the scan — the
    * Z-order layout wired to the read path. Files without stats rows
    * (e.g. appended after the last stats pass) always survive, and the
    * filter is still applied to whatever is read, so skipping is purely an
    * I/O optimization, never a semantics change.
    */
  def find(spark: SparkSession, path: String, filter: Option[Column] = None): DataFrame =
    try {
      val fs = fileSystem(spark, path)
      // a nonexistent collection is EMPTY by contract — return without
      // planning a read: Spark 4 resolves readers lazily, so the doomed
      // analysis (though caught below) would emit a failed-query event
      // that any in-flight Observation listener logs at ERROR level
      val live = liveDir(fs, path).getOrElse(return spark.emptyDataFrame)
      val fmt = genFormat(fs, live)
      val docs = filter.flatMap(prunedFiles(spark, fs, live, fmt, _)) match {
        case Some((files, schema)) if files.isEmpty =>
          // typed emptiness: the caller sees the collection's schema
          // whether or not pruning eliminated every file
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], schema)
        case Some((files, schema)) =>
          // the stats-time schema (merged with any appended files'): a
          // pruned read must resolve every column the full read would —
          // inferring from the surviving subset could drop fields the
          // filter references, turning a correct answer into an error
          readFiles(spark, fmt, Some(schema), files.map(resolvePath(live, _)))
        case None => readGen(spark, fs, live)
      }
      filter.fold(docs)(docs.filter)
    } catch {
      case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame
    }

  /** EXACT count(*), served from metadata wherever the stats cover it:
    * every stats pass (and every append's incremental re-stat) records a
    * per-file `rows` count, so the common case sums a handful of numbers
    * from the stats sidecar — no data file is opened. Files the stats
    * don't cover (appended before this release, statted by an older
    * layout, or a collection never statted at all) are counted by
    * scanning ONLY those files; the result is exact either way, never an
    * estimate. At 100 TB this is the difference between a dashboard's
    * `count(*)` reading a few KB of sidecar and paying a full collection
    * scan.
    */
  def countFast(spark: SparkSession, path: String): Long = {
    val fs = fileSystem(spark, path)
    val live = liveDir(fs, path).getOrElse(return 0L)
    val names = logicalNames(fs, live)
    if (names.isEmpty) return 0L
    val statsP = new Path(live, StatsDir)
    // statsRows: a stats dir can exist with ZERO visible part files
    // (schema-only, from a parquet commit) — never plan that read. The
    // try remains the backstop for a readable-but-unparseable sidecar:
    // any failure degrades to the exact scan, never a crash.
    val counted: Map[String, Long] =
      try statsRows(spark, fs, statsP) match {
        case None => Map.empty
        case Some(rows) =>
          rows.iterator.flatMap { r =>
            val names = r.schema.fieldNames
            if (names.contains("file") && names.contains("rows") &&
                !r.isNullAt(r.fieldIndex("file")) && !r.isNullAt(r.fieldIndex("rows")))
              scala.util.Try(
                r.getAs[String]("file") ->
                  r.getAs[Number]("rows").longValue).toOption
            else None
          }.toMap
      } catch {
        case _: org.apache.spark.sql.AnalysisException => Map.empty
      }
    // stats rows key by BASENAME (collision-free: part names embed job
    // UUIDs), which covers carried entries too — their bytes, and so their
    // per-file counts, are unchanged by the COW commit that linked them
    val covered = names.filter(n => counted.contains(baseName(n)))
    val uncovered = (names -- covered).toSeq.sorted
    val scanned =
      if (uncovered.isEmpty) 0L
      else {
        val fmt = genFormat(fs, live)
        readFiles(spark, fmt, storedSchema(fs, statsP),
          uncovered.map(resolvePath(live, _))).count()
      }
    covered.iterator.map(n => counted(baseName(n))).sum + scanned
  }

  /** EXACT per-column min/max, served from metadata wherever the stats
    * cover it ([[countFast]]'s aggregate sibling — the table-format
    * "aggregate pushdown to manifests" shape): files whose stats row
    * carries the column's min/max contribute those stored values with no
    * IO; the rest are scanned ONCE (one shared job over the union of
    * uncovered files — min/max tolerate the overlap, duplicates cannot
    * change them). Returns ONE row with `min_<col>`/`max_<col>` typed to
    * the collection schema; exact either way, never an estimate. The
    * metadata path applies to integral/float/string columns — the types
    * the stats sidecar round-trips losslessly; anything else (timestamps,
    * decimals) is computed entirely by the scan, which is always sound.
    * An all-null column yields a typed null, matching `min(col)` SQL
    * semantics.
    */
  def minMaxFast(spark: SparkSession, path: String,
                 cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "minMaxFast needs at least one column")
    import org.apache.spark.sql.types._
    val fs = fileSystem(spark, path)
    // no collection: an empty name set over the bare path (typed nulls)
    val (live, names) = liveDir(fs, path)
      .fold((path, Set.empty[String]))(l => (l, logicalNames(fs, l)))
    val fmt = genFormat(fs, live)
    val statsP = new Path(live, StatsDir)
    val schema = logicalReadSchema(spark, fs, live, fmt, names)
      .orElse(
        if (names.isEmpty) None
        else scala.util.Try(readFiles(spark, fmt, None,
          names.toSeq.sorted.map(resolvePath(live, _))).schema).toOption)
    def colType(c: String): DataType =
      schema.flatMap(_.find(_.name == c)).map(_.dataType).getOrElse(NullType)
    def sidecarSafe(c: String): Boolean = colType(c) match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: StringType => true
      case _ => false
    }
    val rows =
      try statsRows(spark, fs, statsP).getOrElse(Array.empty)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Array.empty[org.apache.spark.sql.Row] }
    val byFile = rows.iterator.flatMap { r =>
      scala.util.Try(r.getAs[String]("file")).toOption
        .filter(_ != null).map(_ -> r)
    }.toMap
    def stat(r: org.apache.spark.sql.Row, n: String): Option[Any] =
      if (r.schema.fieldNames.contains(n) && !r.isNullAt(r.fieldIndex(n)))
        Some(r.get(r.fieldIndex(n)))
      else None
    // per column: the files whose stats row carries BOTH bounds (a row
    // whose column was all-null writes neither — those files re-scan,
    // which keeps null-semantics exact)
    val covered: Map[String, Set[String]] = cols.map { c =>
      c -> (if (!sidecarSafe(c)) Set.empty[String]
            else names.filter { n =>
              byFile.get(baseName(n))
                .exists(r => stat(r, s"min_$c").isDefined &&
                  stat(r, s"max_$c").isDefined)
            })
    }.toMap
    // ONE shared scan job per file set: exact min/max of `wanted` over
    // `files`, typed by the read schema (overlapping file sets are fine —
    // min/max tolerate duplicates)
    def scanMinMax(wanted: Seq[String],
                   files: Seq[String]): Map[String, (Any, Any)] =
      if (wanted.isEmpty || files.isEmpty) Map.empty
      else {
        val docs = readFiles(spark, fmt,
          schema.map(s => StructType(s.filter(f => wanted.contains(f.name)))),
          files.map(resolvePath(live, _)))
        val present = wanted.filter(docs.columns.contains)
        if (present.isEmpty) Map.empty
        else {
          val aggs = present.flatMap(c =>
            Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
          val r = docs.agg(aggs.head, aggs.tail: _*).head()
          present.map(c => c -> (r.get(r.fieldIndex(s"__mn_$c")),
            r.get(r.fieldIndex(s"__mx_$c")))).toMap
        }
      }
    val scanFiles = cols.flatMap(c => names -- covered(c)).distinct.sorted
    val scanned = scanMinMax(cols, scanFiles)
    // None = incomparable bounds encountered (stats and scan, or two
    // stats rows, disagree on representation — e.g. a JSON collection
    // whose column drifted numeric -> string across statted appends:
    // the schema says string, so sidecarSafe passes, but older rows
    // store numeric bounds). The sibling stats consumers (prunedFiles,
    // countFast, recluster) treat incomparable stats as "unknown, read
    // the data"; minMaxFast does the same via the rescue scan below
    // instead of crashing or guessing an extreme.
    def pick(c: String, takeMin: Boolean): Option[Any] = {
      val fromStats = covered(c).toSeq.flatMap(n =>
        stat(byFile(baseName(n)), s"${if (takeMin) "min" else "max"}_$c"))
      val fromScan = scanned.get(c)
        .map(v => if (takeMin) v._1 else v._2).filter(_ != null)
      val all = fromStats ++ fromScan
      var acc: Any = null
      for (v <- all) {
        if (acc == null) acc = v
        else statCompare(acc, v) match {
          case Some(cmp) => if ((cmp <= 0) != takeMin) acc = v
          case None => return None
        }
      }
      Some(acc)
    }
    val picked: Map[String, Option[(Any, Any)]] = cols.map { c =>
      c -> (for { mn <- pick(c, takeMin = true)
                  mx <- pick(c, takeMin = false) } yield (mn, mx))
    }.toMap
    // rescue = re-scan ALL files for the drifted columns (deliberately
    // simple: the drift path is a rare degraded state, and re-reading the
    // handful of already-scanned files keeps every value schema-typed
    // from one job instead of merging across reads)
    val drifted = cols.filter(c => picked(c).isEmpty)
    val rescued = scanMinMax(drifted, names.toSeq.sorted)
    val outCols = cols.flatMap { c =>
      val dt = colType(c) match { case NullType => StringType; case t => t }
      val (mn, mx) = picked(c).orElse(rescued.get(c)).getOrElse((null, null))
      Seq(lit(mn).cast(dt).as(s"min_$c"), lit(mx).cast(dt).as(s"max_$c"))
    }
    spark.range(1).select(outCols: _*)
  }

  /** READ-ONLY integrity check (fsck) over the invariants the commit /
    * salvage / retention protocols maintain — the detection half of the
    * crash-safety story. Returns one row per finding, (severity, code,
    * detail), empty = healthy; also on the SQL surface as
    * `docstore_fsck(path)`. Everything here is metadata listing +
    * sidecar parsing: no data file is opened, nothing is repaired or
    * deleted (repair belongs to the write paths, which heal on their
    * next run — fsck tells an operator what they WILL heal, and what
    * they cannot).
    *
    * Severities: `error` = a read surface is (or may be) wrong right now
    * (dangling/incomplete manifest target, unparseable sidecar, data
    * files at a root with no generation — the pre-manifest layout every
    * surface refuses);
    * `warn` = debris or drift the next write heals or that only costs
    * performance (crash-orphaned generations, leftover staging dirs,
    * stats entries for vanished files, unstatted data files, data files
    * at the root alongside generations).
    *
    * `retain` must match the retention the store's mutations were run
    * with (the newest-`retain` window plus its direct link homes is the
    * promised-readable set): a dangling link INSIDE that window is
    * corruption (`error`), outside it legitimate vacuum/retention drift
    * (`warn`) — with the default 2 a store maintained at retain = 3
    * would have real damage of its 3rd-newest snapshot downgraded.
    */
  def fsck(spark: SparkSession, path: String, retain: Int = 2): DataFrame = {
    // same floor as commitRewrite: mutations never run below 2, so no
    // store's promise is narrower — and takeRight(0) would silently
    // disable the in-window corruption check
    require(retain >= 2, s"fsck retain must be >= 2, got $retain")
    import spark.implicits._
    val fs = fileSystem(spark, path)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    def err(code: String, detail: String): Unit = out += (("error", code, detail))
    def warn(code: String, detail: String): Unit = out += (("warn", code, detail))
    if (fs.exists(new Path(path))) {
      val manifest = readManifest(fs, path)
      val complete = completeGens(fs, path)
      val committed = committedGens(fs, path)
      manifest match {
        case Some(g) =>
          val dir = new Path(s"$path/$g")
          if (!fs.exists(dir))
            err("manifest-dangling", s"manifest names $g but the directory is gone")
          else if (!fs.exists(new Path(dir, "_SUCCESS")))
            err("manifest-incomplete", s"manifest names $g but it has no _SUCCESS")
        case None if complete.nonEmpty =>
          warn("manifest-missing",
            f"no manifest; reads resolve to gen-${complete.last}%06d and the " +
              "next write rewrites the manifest (crash between delete and rename)")
        case None if dataFileNames(fs, path).nonEmpty =>
          err("pre-manifest-layout", rootDataMessage(path))
        case None => ()
      }
      // crash-orphaned complete generations: never a committed state,
      // reclaimed by the next mutation's retention pass
      (complete.toSet -- committed.toSet).toSeq.sorted.foreach(g =>
        warn("orphan-generation",
          f"gen-$g%06d is complete but not on the committed chain (aborted " +
            "rewrite debris; the next mutation reclaims it)"))
      // incomplete generation dirs (no _SUCCESS): a write in flight or a
      // crash mid-writeData
      if (fs.exists(new Path(path)))
        fs.listStatus(new Path(path)).foreach { st =>
          val nm = st.getPath.getName
          if (st.isDirectory && nm.matches("gen-\\d{6}") &&
              !fs.exists(new Path(st.getPath, "_SUCCESS")))
            warn("incomplete-generation",
              s"$nm has no _SUCCESS (write in flight, or crash debris)")
          if (st.isFile && Io.isVisible(nm) && complete.nonEmpty)
            warn("flat-residue",
              s"data file $nm at the collection root alongside generations " +
                "(outside every generation: no read serves it and no write " +
                "moves it — delete it, or insertMany its rows)")
        }
      committed.foreach { g =>
        val gdir = genPath(path, g)
        // staging debris inside a generation dir
        if (fs.exists(new Path(gdir)))
          fs.listStatus(new Path(gdir)).foreach { st =>
            val nm = st.getPath.getName
            if (st.isDirectory &&
                (nm.startsWith("_append-") || nm.startsWith("_stats-stage-")))
              warn("staging-debris",
                f"gen-$g%06d/$nm left behind (crashed append/stats pass; " +
                  "harmless to reads, reclaimed manually)")
          }
        // sync-cursor sidecar must parse if present
        val sc = new Path(gdir, SyncCursorFile)
        if (fs.exists(sc)) {
          val txt = Io.readSmallFile(fs, sc)
          try { decodeSyncCursor(txt); () }
          catch { case scala.util.control.NonFatal(_) =>
            err("bad-sync-cursor",
              f"gen-$g%06d/$SyncCursorFile does not parse — syncAggregate " +
                "polls anchored here will fail") }
        }
        // carried-file entries must resolve to existing physical homes
        // for every generation in the readable window (retention keeps
        // their direct homes — a miss there is corruption or out-of-API
        // deletion). An OLDER on-disk generation survives only as
        // storage for the window's links; once its own homes age out it
        // is legitimately no longer a servable snapshot ([[findAsOf]]
        // refuses it loudly) — report that as drift, not corruption.
        // A missing file whose home DIR still exists is file-level
        // damage either way.
        readLinks(fs, gdir).foreach { e =>
          if (!fs.exists(new Path(resolvePath(gdir, e)))) {
            val inWindow = committed.takeRight(retain).contains(g)
            val homeDirExists =
              fs.exists(new Path(s"$path/${e.takeWhile(_ != '/')}"))
            if (inWindow || homeDirExists)
              err("dangling-link",
                f"gen-$g%06d carries $e but the physical file is gone — " +
                  "reads of this generation fail; the collection was " +
                  "pruned or mutated outside the DocStore API")
            else
              warn("unreadable-generation",
                f"gen-$g%06d carries $e whose home generation aged out of " +
                  "the retention closure (vacuum/retention debris) — time " +
                  "travel to this generation is unavailable; raise " +
                  "`retain` to keep older snapshots resolvable")
          }
        }
        // stats entries vs actual files (live generation only: superseded
        // gens legitimately lose salvaged appends)
        val statsP = new Path(gdir, StatsDir)
        // a stats dir holding only hidden files (`_schema.json`, written
        // by every parquet commitRewrite) is HEALTHY — it carries the
        // stored schema and simply has no per-file stats rows. Reading it
        // with read.json would throw (no visible input files), which must
        // not masquerade as a corrupt sidecar; only a dir with visible
        // part files that still fails to parse is a genuine error.
        val visibleStats = statsPartFiles(fs, statsP).nonEmpty
        if (g == committed.last && visibleStats) {
          val names = logicalNames(fs, gdir).map(baseName)
          val statted =
            try {
              val rows = statsRows(spark, fs, statsP).getOrElse(Array.empty)
              val files = rows.iterator.flatMap { r =>
                if (r.schema.fieldNames.contains("file") &&
                    !r.isNullAt(r.fieldIndex("file")))
                  scala.util.Try(r.getAs[String]("file")).toOption
                else None
              }.toSet
              // rows that parse but none carrying `file` cannot serve the
              // sidecar's purpose — the same corrupt-sidecar condition the
              // Spark reader surfaced as an unresolvable `file` column
              if (rows.nonEmpty && files.isEmpty)
                throw new IllegalStateException("no `file` field in any stats row")
              files
            }
            catch { case scala.util.control.NonFatal(_) =>
              err("bad-stats-sidecar",
                f"gen-$g%06d/$StatsDir does not parse — skipping and " +
                  "countFast fall back to full scans")
              Set.empty[String] }
          (statted -- names).toSeq.sorted.foreach(n =>
            warn("stale-stats-entry",
              f"gen-$g%06d stats cover $n which no longer exists (files " +
                "never leave a live generation — mutated outside the API?)"))
          (names -- statted).toSeq.sorted.foreach(n =>
            warn("unstatted-file",
              f"gen-$g%06d/$n has no stats row (skipping/countFast scan it; " +
                "re-run collectStats to cover it)"))
        }
      }
      // COW-garbage debt: a link-home generation the live generation
      // carries only a sliver of pins all its superseded bytes via the
      // retention closure — surface the dead bytes (metadata sizes only)
      // so an operator sees the vacuum debt accumulate instead of
      // discovering it at the disk-full incident. Generations inside the
      // newest-2 window are skipped (kept whole for snapshot isolation).
      if (committed.nonEmpty) {
        val liveD = genPath(path, committed.last)
        val names = logicalNames(fs, liveD)
        val homes = names.filter(_.contains("/")).map(_.takeWhile(_ != '/'))
        val window = committed.takeRight(retain).toSet
        homeAccounting(fs, path, liveD, names).foreach { case (g, bytes, ref) =>
          if (!window.contains(g) && homes.contains(f"gen-$g%06d") &&
              bytes > 0L && ref.toDouble / bytes < 0.5)
            warn("cow-garbage",
              f"gen-$g%06d holds ${bytes - ref}%d dead bytes of $bytes%d " +
                f"(live fraction ${ref.toDouble / bytes}%.2f) — " +
                "DocStore.vacuum reclaims them incrementally")
        }
      }
    }
    out.toSeq.toDF("severity", "code", "detail").orderBy("severity", "code", "detail")
  }

  /** COMMITTED generation ids still on disk, oldest first — the
    * time-travel surface (the live chain; crash-orphaned aborted rewrites
    * are excluded, see [[committedGens]]). How many survive is the
    * mutations' `retain`.
    */
  def generations(spark: SparkSession, path: String): Seq[Int] =
    committedGens(fileSystem(spark, path), path)

  /** Commit-log dashboard: one row per retained committed generation,
    * metadata-only (no data file is opened) — the operator's answer to
    * "what happened to this collection and what does each snapshot
    * cost". Columns: `generation`, `live` (the currently-served one),
    * `data_files` (physical), `carried_files` (`_LINKS` entries),
    * `physical_bytes` (this generation's own files), `schema_fields`
    * (stored schema width, -1 when none is stored), `has_token` (an
    * idempotent mutation committed here), `has_sync_cursor` (an
    * incremental consumer anchors here), `fully_readable` (every carried
    * link still resolves — [[findAsOf]] of this generation would serve).
    * Also on the SQL surface as `docstore_history(path)`.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = fileSystem(spark, path)
    val liveId: Option[Int] =
      if (!fs.exists(new Path(path))) None
      else readManifest(fs, path).collect { case GenName(id) => id.toInt }
    val rows =
      if (!fs.exists(new Path(path))) Seq.empty
      else committedGens(fs, path).map { g =>
        val gdir = genPath(path, g)
        val links = readLinks(fs, gdir)
        val physical = dataFileNames(fs, gdir)
        val bytes = physical.toSeq.map { n =>
          val p = new Path(s"$gdir/$n")
          if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
        }.sum
        // grouped-by-home resolvability, the findAsOf discipline
        val present: Map[String, Set[String]] =
          links.map(_.takeWhile(_ != '/')).distinct.map { home =>
            val hp = new Path(s"$path/$home")
            home -> (if (fs.exists(hp))
                       fs.listStatus(hp).iterator.filter(_.isFile)
                         .map(_.getPath.getName).toSet
                     else Set.empty[String])
          }.toMap
        val readable = links.forall(e =>
          present.getOrElse(e.takeWhile(_ != '/'), Set.empty)
            .contains(baseName(e)))
        val fields = storedSchema(fs, new Path(gdir, StatsDir))
          .map(_.length).getOrElse(-1)
        (g, liveId.contains(g), physical.size, links.size, bytes, fields,
          fs.exists(new Path(gdir, MutationTokenFile)),
          fs.exists(new Path(gdir, SyncCursorFile)), readable)
      }
    rows.toDF("generation", "live", "data_files", "carried_files",
        "physical_bytes", "schema_fields", "has_token", "has_sync_cursor",
        "fully_readable")
      .orderBy("generation")
  }

  /** Time travel: read the collection as of a retained generation id
    * (from [[generations]]). Fails loudly on a pruned or never-committed
    * generation (including a crash-orphaned aborted rewrite) rather than
    * returning wrong data — and on a generation that is still on disk but
    * no longer FULLY READABLE because a carried file's home aged out of
    * the retention closure (the single-hop keep rule: only the newest
    * `retain` + previous generations are promised resolvable; older dirs
    * survive as storage for the window's links, not as snapshots).
    * Without this check the missing-file read would be caught by the
    * AnalysisException fallback below and masquerade as an empty
    * collection — silent wrong data, the one thing time travel must
    * never do.
    */
  def findAsOf(spark: SparkSession, path: String, generation: Int,
               filter: Option[Column] = None): DataFrame = {
    val fs = fileSystem(spark, path)
    requireReadableGeneration(spark, fs, path, generation)
    try {
      val docs = readGen(spark, fs, genPath(path, generation))
      filter.fold(docs)(docs.filter)
    } catch {
      case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame
    }
  }

  /** [[findAsOf]]'s retention + link-resolvability gate, factored out so
    * the pruned diff can run the same checks without the full read.
    */
  private def requireReadableGeneration(spark: SparkSession, fs: FileSystem,
                                        path: String, generation: Int): Unit = {
    if (!committedGens(fs, path).contains(generation))
      throw new IllegalArgumentException(
        s"docstore: generation $generation of $path is not retained " +
          s"(have: ${committedGens(fs, path).mkString(", ")})")
    val gdir = genPath(path, generation)
    // resolvability check grouped by home: ONE listStatus per distinct
    // home directory instead of one exists() per link — on an object
    // store a CDC poll runs this twice per diffGenerations step, and a
    // per-link HEAD would turn "O(changed keys)" into O(links) RPCs
    val links = readLinks(fs, gdir)
    val present: Map[String, Set[String]] =
      links.map(_.takeWhile(_ != '/')).distinct.map { home =>
        val hp = new Path(s"$path/$home")
        home -> (if (fs.exists(hp))
                   fs.listStatus(hp).iterator.filter(_.isFile)
                     .map(_.getPath.getName).toSet
                 else Set.empty[String])
      }.toMap
    val missing = links.filterNot(e =>
      present.getOrElse(e.takeWhile(_ != '/'), Set.empty).contains(baseName(e)))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"docstore: generation $generation of $path is no longer fully " +
          s"readable — carried files ${missing.mkString(", ")} were " +
          "reclaimed by retention/vacuum; raise `retain` on mutations to " +
          "keep older snapshots resolvable")
  }

  /** Change-data-capture between two retained generations: one row per
    * key that was `inserted`, `deleted`, or `updated` going `fromGen` ->
    * `toGen` (the time-travel surface turned into a diff — what Delta/
    * Iceberg call table CDF, over the same snapshots [[findAsOf]] serves).
    * Both snapshots resolve through [[findAsOf]], so pruned or
    * never-committed generations fail loudly rather than diffing wrong
    * data.
    *
    * Plan shape: the two sides tagged and unioned, then ONE per-key
    * aggregate (one shuffle per diff step; a null key groups with null,
    * as a null-safe join would match it). The change type is decided by
    * side-presence, `updated` by comparing the row structs with
    * null-safe equality over the UNION schema (a column added by schema
    * evolution reads as null on the old side, so a doc whose new column
    * is non-null correctly reports `updated`). Output:
    * (key, change, before, after) — before/after are full-row structs,
    * null on the absent side. Requires `keyCol` to be unique per
    * generation — enforced in-plan (per-side counts carried through the
    * aggregate raise on n > 1 when the diff is consumed), so the check
    * costs zero extra passes and a duplicated key can never silently
    * pick one of its rows.
    */
  def diffGenerations(spark: SparkSession, path: String, fromGen: Int,
                      toGen: Int, keyCol: String): DataFrame = {
    // SHARED-FILE PRUNING: a COW rewrite carries most files by REFERENCE
    // (`_LINKS`), so both snapshots serve the same physical bytes for
    // those files — every row in a shared file compares null-safe-equal
    // to itself and can only ever fold to "unchanged". Under the diff's
    // unique-key contract each key lives in exactly one file per side,
    // and a key residing in a shared file on either side resides in the
    // SAME shared file on both (its one copy travels with the file), so
    // reading only the files the sides do NOT share produces the
    // identical change set while the diff's inputs shrink from snapshot-
    // sized to O(files the rewrite touched) — the property that makes a
    // CDC poll across a COW mutation delta-sized at 100 TB instead of
    // corpus-sized. Applied ONLY when both generations carry the SAME
    // stored schema: identical bytes serve identical rows only under an
    // identical read schema — a metadata-only DDL (dropColumn carries
    // every file while narrowing the served schema, widenColumn re-types
    // it) changes every VISIBLE row with zero byte changes, and the full
    // diff must report exactly that (DocStoreDdlSpec pins it). Otherwise
    // full snapshots, the historical shape. HONEST
    // LIMIT: on a store violating the unique-key contract, a duplicate
    // whose copies hide in shared files is invisible to the pruned reads
    // — the in-plan uniqueness guard sees only what is read (same class
    // of writer-discipline assumption Delta/Iceberg CDF make; a dup
    // touching any differing file still raises).
    val fs = fileSystem(spark, path)
    def side(gen: Int, shared: Set[String],
             schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val dir = genPath(path, gen)
      val diffFiles = logicalNames(fs, dir).toSeq.sorted
        .map(n => resolvePath(dir, n)).filterNot(shared)
      if (diffFiles.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFiles(spark, genFormat(fs, dir), Some(schema), diffFiles)
    }
    val (a, b) = {
      def resolved(gen: Int): Set[String] = {
        val dir = genPath(path, gen)
        if (committedGens(fs, path).contains(gen))
          logicalNames(fs, dir).map(n => resolvePath(dir, n))
        else Set.empty
      }
      val shared = resolved(fromGen) intersect resolved(toGen)
      val sA = storedSchema(fs, new Path(genPath(path, fromGen), StatsDir))
      val sB = storedSchema(fs, new Path(genPath(path, toGen), StatsDir))
      if (shared.nonEmpty && sA.isDefined && sA == sB) {
        // retention + link-resolvability checks still run (findAsOf's
        // contract) — against the SHARED files too, since the pruned
        // diff's correctness leans on their presence on both sides
        requireReadableGeneration(spark, fs, path, fromGen)
        requireReadableGeneration(spark, fs, path, toGen)
        (side(fromGen, shared, sA.get), side(toGen, shared, sB.get))
      } else
        (findAsOf(spark, path, fromGen), findAsOf(spark, path, toGen))
    }
    // align on a WIDENED union schema (names AND types) so the struct
    // compare is column-by-column even across schema evolution —
    // including numeric type drift (JSON infers long in one generation,
    // double in the next): struct types must be identical on both sides
    // or the null-safe equality fails analysis. Catalyst's tightest-
    // common-type rule does the widening (StructType.merge is parquet-
    // strict and refuses long vs double); genuinely incompatible drift
    // fails loudly here rather than diffing coerced garbage.
    def fieldType(c: String): org.apache.spark.sql.types.DataType =
      (a.schema.find(_.name == c).map(_.dataType),
        b.schema.find(_.name == c).map(_.dataType)) match {
        case (Some(x), Some(y)) if x == y => x
        case (Some(x), Some(y)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findTightestCommonType(x, y).getOrElse(throw new IllegalArgumentException(
              s"docstore diff: column $c has incompatible types $x vs $y"))
        case (Some(x), None) => x
        case (None, Some(y)) => y
        case _ => throw new IllegalStateException(s"unreachable: $c")
      }
    val allCols = (a.columns ++ b.columns).distinct.sorted.toSeq
    def conform(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(allCols.map { c =>
        val t = fieldType(c)
        (if (have(c)) col(c).cast(t) else lit(null).cast(t)).as(c)
      }: _*)
    }
    val av = conform(a)
    val bv = conform(b)
    // ONE aggregate over both sides: tag each row with its side, union,
    // group by key — one exchange per diff step (a null-safe join of
    // per-side aggregates pays two per side: its keys do not match the
    // aggregates' partitioning). Per side it carries the row count and
    // the row struct (`first` ignoring the other side's nulls — exact,
    // because any n > 1 raises below before a row can leave the plan).
    // Uniqueness is enforced INSIDE the diff pass, not as separate eager
    // count jobs: the guard rides the `change` projection as a
    // raise_error branch that the unchanged-filter must evaluate.
    def tagged(df: DataFrame, before: Boolean): DataFrame =
      df.select(col(keyCol).as("__k"), lit(before).as("__b"),
        struct(allCols.map(col): _*).as("__row"))
    def onSide(before: Boolean): Column = col("__b") === lit(before)
    tagged(av, before = true).unionByName(tagged(bv, before = false))
      .groupBy(col("__k"))
      .agg(count(when(onSide(true), 1)).as("__n_before"),
        count(when(onSide(false), 1)).as("__n_after"),
        first(when(onSide(true), col("__row")), ignoreNulls = true).as("__before"),
        first(when(onSide(false), col("__row")), ignoreNulls = true).as("__after"))
      .select(
        col("__k").as(keyCol),
        when(col("__n_before") > 1L || col("__n_after") > 1L,
            raise_error(concat(
              lit(s"docstore diff: $keyCol is not unique in generation (key "),
              col("__k").cast("string"),
              lit(")"))).cast("string"))
          .when(col("__before").isNull, lit("inserted"))
          .when(col("__after").isNull, lit("deleted"))
          .when(!(col("__before") <=> col("__after")), lit("updated"))
          .otherwise(lit("unchanged")).as("change"),
        col("__before").as("before"), col("__after").as("after"))
      .filter(col("change") =!= "unchanged")
  }

  /** Incremental CDC consumption with a cursor: every change between the
    * consumer's last-seen generation and the current head, tagged with
    * the generation that introduced it — one [[diffGenerations]] per
    * consecutive retained pair, unioned. The poll-and-checkpoint shape
    * real CDC consumers run: read `changesSince(lastGen)`, process,
    * persist `generations(...).last` as the new cursor.
    *
    * Retention governs how far a cursor may lag: mutations keep `retain`
    * generations (default 2), so a consumer that falls further behind
    * gets a LOUD failure here (its base generation is pruned) instead of
    * silently missing intermediate changes — raise `retain` on the
    * mutation side to buy lag headroom. A cursor already at the head
    * returns an empty (but correctly-typed) frame.
    */
  def changesSince(spark: SparkSession, path: String, sinceGen: Int,
                   keyCol: String): DataFrame = {
    val fs = fileSystem(spark, path)
    val gens = committedGens(fs, path)
    require(gens.contains(sinceGen),
      s"docstore: cursor generation $sinceGen of $path is no longer retained " +
        s"(have: ${gens.mkString(", ")}); raise `retain` on mutations to " +
        "allow slower consumers")
    changeFrame(spark, fs, path, gens, sinceGen, keyCol, None)
  }

  /** The change frame of both [[changesSince]] overloads: `lead` first
    * (the cursor overload's appended-file inserts), then one
    * [[diffGenerations]] per consecutive committed pair from `since` to
    * the head of `gens`, tagged with the generation that introduced it;
    * a correctly-typed empty frame when there is nothing.
    */
  private def changeFrame(spark: SparkSession, fs: FileSystem, path: String,
                          gens: Seq[Int], since: Int, keyCol: String,
                          lead: Option[DataFrame]): DataFrame =
    (lead.toSeq ++ gens.dropWhile(_ < since).sliding(2).collect { case Seq(from, to) =>
      diffGenerations(spark, path, from, to, keyCol).withColumn("generation", lit(to))
    }).reduceOption(_ unionByName _)
      .getOrElse(emptyChanges(spark, fs, path, since, keyCol))

  /** A FILE-granular CDC cursor: the snapshot a consumer has fully
    * processed, as (generation, data files seen in it). Capture with
    * [[cursor]] after processing; poll with the cursor overload of
    * [[changesSince]].
    */
  final case class DocCursor(generation: Int, files: Set[String])

  /** The head cursor: the live generation and its current data files
    * (LOGICAL — carried `_LINKS` entries included, so a snapshot pinned
    * after a copy-on-write mutation covers every row).
    */
  def cursor(spark: SparkSession, path: String): DocCursor = {
    val fs = fileSystem(spark, path)
    val gens = committedGens(fs, path)
    if (gens.isEmpty) {
      requireNoRootData(fs, path)
      throw new IllegalArgumentException(
        s"docstore: $path holds no collection; cursor CDC needs a committed generation")
    }
    DocCursor(gens.last, logicalNames(fs, genPath(path, gens.last)))
  }

  /** Read EXACTLY a captured cursor's file set — the seed read for
    * maintainers that pair a snapshot with the cursor describing it:
    * nothing appended between capture and this read can leak in, so the
    * first poll's delta is DISJOINT from the seed by construction (no
    * remove-then-reingest self-healing needed). [[syncAggregate]] seeds
    * this way for exactly-once; the index maintainers
    * ([[graft.streaming.Streams.syncNearDupIndex]]/`syncIvfIndex`) use
    * this surface for the same guarantee. Fails loudly on a pruned
    * cursor generation.
    */
  def snapshotAt(spark: SparkSession, path: String, cur: DocCursor): DataFrame = {
    val fs = fileSystem(spark, path)
    require(committedGens(fs, path).contains(cur.generation),
      s"docstore: cursor generation ${cur.generation} of $path is no longer " +
        s"retained (have: ${committedGens(fs, path).mkString(", ")})")
    val genDir = genPath(path, cur.generation)
    if (cur.files.isEmpty) find(spark, path).limit(0)
    else readFiles(spark, genFormat(fs, genDir),
      storedSchema(fs, new Path(genDir, StatsDir)),
      cur.files.toSeq.sorted.map(resolvePath(genDir, _)))
  }

  /** File-granular incremental CDC: every change since `cur`, plus the
    * new cursor to checkpoint. The scale property this buys over the
    * generation-only overload: data files WITHIN a generation are
    * append-only and rename-published (the [[insertMany]] contract), so
    * rows appended since the cursor are recovered by reading ONLY the new
    * files — the common poll (head generation, a small append or nothing
    * new) reads appended bytes or no bytes at all, never a full snapshot
    * and never a diff. Rewrite boundaries (update/delete/compact/cluster)
    * still cost one [[diffGenerations]] aggregate per retained pair over
    * the files the rewrite touched. No extra manifest state is
    * recorded for this: the file listing IS the membership delta (listing
    * minus cursor), which is exactly as informative as a commit-time
    * file-delta log would be and keeps appends coordination-free.
    *
    * Ordering contract: appended-file inserts for the cursor's generation
    * come first (they happened before the next rewrite read them), then
    * per-generation diffs oldest to newest; the `generation` column
    * carries the provenance. A pruned cursor generation fails loudly
    * (same retention rule as the generation overload). Requires schema
    * stability across the covered span for the union (same as the
    * generation overload).
    */
  def changesSince(spark: SparkSession, path: String, cur: DocCursor,
                   keyCol: String): (DataFrame, DocCursor) = {
    val fs = fileSystem(spark, path)
    val gens = committedGens(fs, path)
    require(gens.contains(cur.generation),
      s"docstore: cursor generation ${cur.generation} of $path is no longer " +
        s"retained (have: ${gens.mkString(", ")}); raise `retain` on " +
        "mutations to allow slower consumers")
    val genDir = genPath(path, cur.generation)
    // logical: carried entries count as the generation's files (they never
    // change after commit, so within one generation growth = physical
    // appends only — exactly what the membership delta must capture)
    val nowFiles = logicalNames(fs, genDir)
    val missing = cur.files -- nowFiles
    // A file may legitimately leave a SUPERSEDED generation: the salvage
    // protocol moves an append a racing rewrite never read into the
    // committed successor (possibly format-converted under
    // `<name>.salv.*`). Tolerate exactly those — their rows re-enter this
    // poll as inserts of the generation they moved to, which is
    // idempotent under the replace-by-key [[applyChanges]] contract — and
    // keep the loud failure for files that truly vanished.
    // list each later generation ONCE, not once per missing file — the
    // poll is documented metadata-cheap
    val laterListings = gens.dropWhile(_ <= cur.generation)
      .map(g => dataFileNames(fs, genPath(path, g)))
    val unexplained = missing.filterNot { n =>
      laterListings.exists(_.exists(f => f == n || f.startsWith(n + ".salv.")))
    }
    require(unexplained.isEmpty,
      s"docstore: cursor files ${unexplained.mkString(", ")} vanished from " +
        s"generation ${cur.generation} — generation dirs are append-only; " +
        "this collection was mutated outside the DocStore API")
    val appended = (nowFiles -- cur.files).toSeq.sorted.map(resolvePath(genDir, _))
    val appendFrame: Option[DataFrame] =
      if (appended.isEmpty) None
      else {
        val fmt = genFormat(fs, genDir)
        val rows = readFiles(spark, fmt,
          storedSchema(fs, new Path(genDir, StatsDir)), appended)
        Some(asInserted(rows, keyCol, cur.generation))
      }
    val changes = changeFrame(spark, fs, path, gens, cur.generation, keyCol, appendFrame)
    val head = gens.last
    (changes, DocCursor(head, logicalNames(fs, genPath(path, head))))
  }

  /** APPLY a CDC change frame (the [[changesSince]] output shape) to a
    * collection — the consumer half of CDC, turning produce+apply into
    * replication: `deleted` keys leave, `updated`/`inserted` rows land as
    * their `after` image. Multiple changes per key collapse to the LATEST
    * (by the `generation` column) first, so a chain like insert -> update
    * -> delete applies as its net effect. One manifest-committed rewrite
    * (a single scan of the target plus the change-sized frame, broadcast-
    * friendly anti-join on the keys) with the usual crash safety; an
    * empty change frame is a no-op that commits nothing. Re-applying the
    * same changes is idempotent (replace-by-key).
    *
    * COPY-ON-WRITE follower maintenance: when the target carries
    * data-skipping stats on `keyCol` ([[cluster]]/[[collectStats]]) and
    * the poll's changed-key set is bounded ([[ApplyCowKeyCap]]), only the
    * target files that MAY contain changed keys are rewritten (the
    * changed keys as an `isin` prune); the rest carries forward by
    * reference — a follower poll then costs O(delta + matched files),
    * never a follower rewrite, the same economy the source mutations got.
    * Schema evolution through the changes stays supported: NEW columns
    * widen the committed schema (carried files read them as null), and a
    * pure type WIDENING (int -> long, float -> double) stays COW too —
    * the parquet scan upcasts the carried files' narrower physical type
    * under the widened committed schema ([[widensTo]]). Any other type
    * change falls back to the full rewrite, which re-types every file.
    */
  def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
                   keyCol: String, retain: Int = 2): Unit =
    applyChangesCommitted(spark, path, changes, keyCol, retain, Map.empty)

  /** Changed-key collect cap for the applyChanges COW prune: a CDC poll's
    * key set is delta-sized, but the prune needs the VALUES on the driver
    * — past this many keys the per-file min/max+Bloom checks cost more
    * than they save and the full-rewrite path is taken instead. Pruning
    * only; never a semantics change.
    */
  private val ApplyCowKeyCap = 10000

  /** [[applyChanges]] plus caller sidecars committed atomically with the
    * rewrite (inside the staged generation, before the manifest swing) —
    * the primitive [[syncAggregate]]'s exactly-once cursor needs.
    */
  private def applyChangesCommitted(spark: SparkSession, path: String,
                                    changes: DataFrame, keyCol: String,
                                    retain: Int,
                                    sidecars: Map[String, Array[Byte]]): Unit = {
    if (changes.isEmpty) return
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("generation").desc)
    // delta-sized; checkpointed eagerly so the change plan (often a
    // generation diff) runs ONCE for the upserts, the anti-join keys, the
    // COW key collect, and the rewrite — not once per consumer
    val last = changes
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .localCheckpoint(true)
    val upserts = last.filter(col("change") =!= "deleted").select("after.*")
    val keys = last.select(col(keyCol)).distinct()
    val fs = fileSystem(spark, path)
    val (liveD, fmt, names) = pinLive(spark, fs, path)
    val live =
      // no target collection yet: empty without planning a read (the lazy-
      // reader/Observation-listener noise rationale from find())
      if (liveD == path) spark.emptyDataFrame
      else try readPinned(spark, fs, liveD, fmt, names)
      catch { // empty/new target with no schema — the find() behavior
        case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame
      }
    if (!live.columns.contains(keyCol)) { // empty/new target
      commitRewrite(fs, spark, upserts, path, retain, format = fmt,
        sourceNames = names, pinnedLive = liveD, sidecars = sidecars)
      return
    }
    val merged = live.join(keys, Seq(keyCol), "left_anti")
      .unionByName(upserts, allowMissingColumns = true)
    // COW prune: a bounded changed-key set + keyCol stats on the target
    // turn the follower rewrite into O(matched files). schemaSafe allows
    // NEW columns (carried files read them as null under the widened
    // committed schema) and pure type WIDENINGS of stored columns
    // (carried files' narrower physical types read under the widened
    // committed schema — [[widensTo]]); any other type change rewrites.
    val cow = {
      val collected = keys.limit(ApplyCowKeyCap + 1).collect()
      if (collected.length > ApplyCowKeyCap) None
      else cowCandidates(spark, fs, liveD, fmt, names,
        col(keyCol).isin(collected.map(_.get(0)).toSeq: _*),
        schemaSafe = s => merged.schema.fields.forall(f =>
          s.find(_.name == f.name).forall(sf => widensTo(sf.dataType, f.dataType))))
    }
    cow match {
      case Some((cand, carried, schema)) =>
        val candDocs =
          if (cand.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          else readFiles(spark, fmt, Some(schema),
            cand.map(resolvePath(liveD, _)))
        val out = candDocs.join(keys, Seq(keyCol), "left_anti")
          .unionByName(upserts, allowMissingColumns = true)
        commitRewrite(fs, spark, out, path, retain, format = fmt,
          sourceNames = names, pinnedLive = liveD, sidecars = sidecars,
          carried = carried, carriedSchema = Some(out.schema))
      case None =>
        commitRewrite(fs, spark, merged, path, retain, format = fmt,
          sourceNames = names, pinnedLive = liveD, sidecars = sidecars)
    }
  }

  /** Maintain a FOLLOWER collection from a leader by cursor CDC:
    * `None` seeds it (full snapshot copy; the returned cursor was
    * captured BEFORE the copy, so anything appended mid-copy is
    * re-delivered on the next poll and lands idempotently), `Some(cur)`
    * polls [[changesSince]] and applies only the delta — for an
    * append-mostly leader that is a read of the appended files, never
    * the leader's full snapshot. Returns the cursor to persist for the
    * next call.
    */
  def replicate(spark: SparkSession, srcPath: String, dstPath: String,
                keyCol: String, cur: Option[DocCursor]): DocCursor = cur match {
    case None =>
      // seeding APPENDS the full snapshot — into a non-empty target that
      // would duplicate rows, so refuse loudly (resume with Some(cursor),
      // or point at a fresh path)
      require(find(spark, dstPath).isEmpty,
        s"replicate: seeding (cur = None) requires an empty target, but " +
          s"$dstPath already has documents — pass the saved cursor to resume")
      val c = cursor(spark, srcPath)
      insertMany(find(spark, srcPath), dstPath)
      c
    case Some(c) =>
      val (changes, next) = changesSince(spark, srcPath, c, keyCol)
      applyChanges(spark, dstPath, changes, keyCol)
      next
  }

  /** Incrementally maintain a DERIVED collection: poll the source's
    * cursor CDC, run `transform` over ONLY the changed rows' after
    * images, and apply the result to `dstPath` (deletes propagate as
    * deletes). This is the incremental-ETL contract at 100 TB: the
    * transform cost is proportional to the DELTA, never the corpus, yet
    * the derived table stays equal to `transform(full source)` for any
    * row-wise transform (one output row per input row, key preserved) —
    * the equivalence DocStoreSpec pins against a full rebuild.
    * `transform` must be row-wise for that equality; aggregations over
    * the whole corpus need a rebuild, not a delta.
    */
  def syncDerived(spark: SparkSession, srcPath: String, dstPath: String,
                  keyCol: String, cur: Option[DocCursor])
                 (transform: DataFrame => DataFrame): DocCursor = cur match {
    case None =>
      val c = cursor(spark, srcPath)
      val out = transform(find(spark, srcPath))
      require(out.columns.contains(keyCol),
        s"syncDerived: transform must preserve key column $keyCol")
      insertMany(out, dstPath)
      c
    case Some(c0) =>
      val (changes, next) = changesSince(spark, srcPath, c0, keyCol)
      if (!changes.isEmpty) {
        // collapse to the LATEST change per key BEFORE transforming: an
        // update followed by a delete in the same window must apply as a
        // delete — transforming the update's after image and stamping it
        // with a fresh generation would resurrect the deleted row
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col("generation").desc)
        val last = changes
          .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("__rn") === 1)
        val ups = transform(last.filter(col("change") =!= "deleted")
          .select("after.*"))
        require(ups.columns.contains(keyCol),
          s"syncDerived: transform must preserve key column $keyCol")
        // LOUD failure for a non-row-wise transform: duplicate output keys
        // would make applyChanges' latest-per-key collapse pick one
        // arbitrarily (same generation stamp — no order), silently
        // breaking the full-rebuild equality. Delta-sized check.
        require(ups.groupBy(col(keyCol)).count()
            .filter(col("count") > 1).limit(1).isEmpty,
          s"syncDerived: transform produced duplicate $keyCol rows — " +
            "it must be row-wise (one output row per input row)")
        val outCols = ups.columns.sorted.toSeq
        val structType = org.apache.spark.sql.types.StructType(
          outCols.map(c => ups.schema(ups.schema.fieldIndex(c))))
        // each key now appears once, so applyChanges' own collapse is a
        // no-op and the constant generation stamp is harmless
        val transformed = ups.select(col(keyCol),
            lit("upserted").as("change"),
            struct(outCols.map(col): _*).as("after"),
            lit(next.generation).as("generation"))
          .unionByName(last.filter(col("change") === "deleted")
            .select(col(keyCol), col("change"),
              lit(null).cast(structType).as("after"),
              lit(next.generation).as("generation")))
        applyChanges(spark, dstPath, transformed, keyCol)
      }
      next
  }

  // ---- incremental AGGREGATE-view maintenance ---------------------------

  private val SyncCursorFile = "_sync_cursor"

  private def encodeSyncCursor(c: DocCursor): Array[Byte] =
    (c.generation.toString +: c.files.toSeq.sorted).mkString("\n").getBytes(UTF_8)

  private def decodeSyncCursor(txt: String): DocCursor = {
    val lines = txt.split("\n", -1).toSeq
    DocCursor(lines.head.trim.toInt,
      lines.tail.map(_.trim).filter(_.nonEmpty).toSet)
  }

  /** The last SOURCE cursor [[syncAggregate]] committed into `path`:
    * newest committed generation carrying a cursor sidecar wins. A
    * foreign mutation on the destination (compact, a manual append)
    * creates a generation WITHOUT one, so the walk looks past it to the
    * still-retained carrier; once retention prunes every carrier the
    * cursor chain is lost and [[syncAggregate]] fails loudly rather than
    * silently re-seeding over unknown state.
    */
  private def readSyncCursor(fs: FileSystem, path: String): Option[DocCursor] = {
    if (!fs.exists(new Path(path))) return None
    committedGens(fs, path).reverseIterator.map { g =>
      val p = new Path(genPath(path, g), SyncCursorFile)
      if (!fs.exists(p)) None else Some(decodeSyncCursor(Io.readSmallFile(fs, p)))
    }.collectFirst { case Some(c) => c }
  }

  /** Incrementally maintain an AGGREGATE view of a collection — per-
    * `groupCol` row count (`cnt`) plus `sum_<col>` for each of `sumCols`
    * — from cursor CDC, with EXACTLY-ONCE application. [[syncDerived]]
    * covers row-wise transforms, where a replayed delta is harmless
    * (replace-by-key); aggregate deltas are NOT replay-idempotent —
    * re-adding one double-counts — so this maintainer manages its own
    * cursor and commits it atomically INSIDE the destination's
    * generation commit (a [[SyncCursorFile]] sidecar written before the
    * manifest swing). The aggregate state and the cursor that produced
    * it can never diverge: a crash anywhere, followed by a re-poll,
    * re-derives the same delta against the un-advanced aggregate.
    *
    * Maintenance algebra: each change contributes signed rows — inserted
    * +after, deleted -before, updated both (also correct when the update
    * MOVES a row between groups) — and consecutive-generation diffs
    * telescope, so the signed sum over any poll window is exactly final
    * minus initial state; no latest-per-key collapse is needed or
    * wanted. Cost per poll is O(delta + aggregate table), never
    * O(source) — the IVM contract, here including deletes and updates
    * that [[graft.ops.Incremental.mergeAggregate]]'s insert-only shape
    * cannot express. A group whose count reaches zero is DELETED from
    * the view, so `view == full groupBy` holds exactly
    * (SyncAggregateSpec pins the equality after every mutation kind and
    * across multi-generation polls).
    *
    * Semantics and limits, stated rather than discovered:
    *  - `sum_<col>` treats NULL measures as 0 on BOTH the seed and the
    *    delta path (sums must be group homomorphisms for deltas to
    *    compose; SQL's null-skipping sum differs only in the all-null
    *    group's initial value, so one convention is pinned).
    *  - min/max are deliberately NOT offered: not delta-maintainable
    *    under deletes without the full distribution.
    *  - integer/decimal sums are exactly rebuild-equal; float sums can
    *    drift by IEEE non-associativity across mutation histories.
    *  - NULL group keys are refused loudly (join-based maintenance
    *    cannot address them by equality).
    *  - the destination belongs to this maintainer. Foreign mutations
    *    that prune every cursor-carrying generation (or corrupt the
    *    aggregate rows) surface as a loud failure — lost cursor chain or
    *    a negative count — never as a silent re-seed.
    *
    * First call (destination empty): seeds the view from EXACTLY the
    * captured cursor's file set — not a live listing, so a concurrent
    * append between capture and read cannot be double-counted when the
    * next poll re-delivers it.
    */
  def syncAggregate(spark: SparkSession, srcPath: String, dstPath: String,
                    keyCol: String, groupCol: String, sumCols: Seq[String],
                    retain: Int = 2): DocCursor = {
    val dstFs = fileSystem(spark, dstPath)
    val sumNames = sumCols.map(c => c -> s"sum_$c")
    readSyncCursor(dstFs, dstPath) match {
      case None =>
        require(find(spark, dstPath).isEmpty,
          s"syncAggregate: $dstPath has documents but no committed sync " +
            "cursor — it was not built by syncAggregate, or foreign " +
            "mutations pruned every cursor-carrying generation; start " +
            "from an empty destination (or raise retain on foreign ops)")
        val c = cursor(spark, srcPath)
        val rows = snapshotAt(spark, srcPath, c)
        if (!rows.columns.contains(groupCol)) {
          require(rows.isEmpty,
            s"syncAggregate: $groupCol is missing from the source snapshot")
          return c // empty source: nothing to seed; the next call re-seeds
        }
        // a measure entirely NULL in every batch has no column at all in
        // a schemaless store — same convention as a present-but-null one
        val withMeasures = sumCols.foldLeft(rows) { (d, c) =>
          if (d.columns.contains(c)) d else d.withColumn(c, lit(null)) }
        // group-sized; checkpointed eagerly so the null gate, the apply's
        // emptiness check, and the write don't each rescan the snapshot
        val agg = withMeasures.groupBy(col(groupCol))
          .agg(count(lit(1)).as("cnt"),
            sumNames.map { case (src, out) =>
              sum(coalesce(col(src), lit(0))).as(out) }: _*)
          .localCheckpoint(true)
        require(agg.filter(col(groupCol).isNull).isEmpty,
          s"syncAggregate: NULL $groupCol values are unsupported")
        applyChangesCommitted(spark, dstPath,
          asInserted(agg, groupCol, c.generation), groupCol, retain,
          Map(SyncCursorFile -> encodeSyncCursor(c)))
        c
      case Some(c0) =>
        val (changes, next) = changesSince(spark, srcPath, c0, keyCol)
        if (next == c0) return c0 // caught up: metadata-only poll
        // a field can be ABSENT from a change window's before/after struct
        // (a schemaless batch where it was entirely null has no such
        // column): absent == null, the same convention as the seed
        def sideField(side: String, name: String): Column = {
          val st = changes.schema(side).dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          if (st.fieldNames.contains(name)) col(s"$side.$name") else lit(null)
        }
        // ONE scan of the change window (the generation diff is the
        // expensive plan here — O(snapshot) across a rewrite boundary):
        // each change row explodes into its signed contributions, and the
        // group-sized result is checkpointed EAGERLY so no downstream
        // action (emptiness, null gate, merge, apply) re-runs the diff
        def contrib(side: String, sign: Long) = struct(
          sideField(side, groupCol).as("g") +:
          lit(sign).as("d_cnt") +:
          sumNames.map { case (src, out) =>
            (lit(sign) * coalesce(sideField(side, src), lit(0)))
              .as(s"d_$out") }: _*)
        val delta = changes.select(explode(array(
            when(col("change").isin("updated", "deleted"), contrib("before", -1L)),
            when(col("change").isin("updated", "inserted"), contrib("after", 1L))))
            .as("c"))
          .filter(col("c").isNotNull)
          .groupBy(col("c.g").as(groupCol))
          .agg(sum("c.d_cnt").as("d_cnt"),
            sumNames.map { case (_, out) =>
              sum(s"c.d_$out").as(s"d_$out") }: _*)
          .localCheckpoint(true)
        // every change row yields at least one contribution and groupBy
        // drops nothing, so (delta empty) == (changes empty)
        if (delta.isEmpty) {
          // the source advanced without row changes (e.g. a pure
          // compaction): advance the cursor with an identity rewrite of
          // the (small) aggregate, or every later poll re-pays this
          // window's diffs
          val (liveD, fmt, names) = pinLive(spark, dstFs, dstPath)
          commitRewrite(dstFs, spark, readPinned(spark, dstFs, liveD, fmt, names),
            dstPath, retain, format = fmt, sourceNames = names,
            pinnedLive = liveD,
            sidecars = Map(SyncCursorFile -> encodeSyncCursor(next)))
          return next
        }
        require(delta.filter(col(groupCol).isNull).isEmpty,
          s"syncAggregate: NULL $groupCol values are unsupported")
        val live = find(spark, dstPath)
        val merged = delta.join(live, Seq(groupCol), "left")
          .select(col(groupCol) +:
            (coalesce(col("cnt"), lit(0L)) + col("d_cnt")).as("cnt") +:
            sumNames.map { case (_, out) =>
              (coalesce(col(out), lit(0)) + col(s"d_$out")).as(out) }: _*)
        // delta-sized sanity gate: a group can never shrink below empty;
        // a negative count means the destination's aggregate rows were
        // mutated outside this maintainer
        require(merged.filter(col("cnt") < 0).limit(1).isEmpty,
          s"syncAggregate: negative group count in $dstPath — the " +
            "destination was mutated outside syncAggregate")
        val outCols = (Seq(groupCol, "cnt") ++ sumNames.map(_._2)).sorted
        val structType = org.apache.spark.sql.types.StructType(
          outCols.map(c => merged.schema(merged.schema.fieldIndex(c))))
        val changesOut = merged.select(col(groupCol),
          when(col("cnt") === 0L, lit("deleted")).otherwise(lit("upserted"))
            .as("change"),
          when(col("cnt") === 0L, lit(null).cast(structType))
            .otherwise(struct(outCols.map(col): _*)).as("after"),
          lit(next.generation).as("generation"))
        applyChangesCommitted(spark, dstPath, changesOut, groupCol, retain,
          Map(SyncCursorFile -> encodeSyncCursor(next)))
        next
    }
  }

  /** Appended rows as CDC `inserted` events, shaped like
    * [[diffGenerations]] output (sorted-column structs, null `before`).
    */
  private def asInserted(rows: DataFrame, keyCol: String, gen: Int): DataFrame = {
    val allCols = rows.columns.sorted.toSeq
    val structType = org.apache.spark.sql.types.StructType(
      allCols.map(c => rows.schema(rows.schema.fieldIndex(c))))
    rows.select(col(keyCol),
      lit("inserted").as("change"),
      lit(null).cast(structType).as("before"),
      struct(allCols.map(col): _*).as("after"),
      lit(gen).as("generation"))
  }

  /** A correctly-typed EMPTY change frame for a caught-up cursor —
    * built directly from the generation's schema, NOT via a degenerate
    * self-diff, which would pay the diff's two uniqueness-check scans of
    * the snapshot just to return nothing (the no-change poll is the
    * common case; it must cost metadata reads only).
    */
  private def emptyChanges(spark: SparkSession, fs: FileSystem, path: String,
                           gen: Int, keyCol: String): DataFrame = {
    val s = try readGen(spark, fs, genPath(path, gen)).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        new org.apache.spark.sql.types.StructType() } // emptied collection
    val allCols = s.fieldNames.sorted.toSeq
    val structType = org.apache.spark.sql.types.StructType(
      allCols.map(c => s(s.fieldIndex(c))))
    val keyField = s.find(_.name == keyCol).getOrElse(
      org.apache.spark.sql.types.StructField(keyCol,
        org.apache.spark.sql.types.StringType))
    val out = org.apache.spark.sql.types.StructType(Seq(
      keyField,
      org.apache.spark.sql.types.StructField("change",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("before", structType),
      org.apache.spark.sql.types.StructField("after", structType),
      org.apache.spark.sql.types.StructField("generation",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
  }

  /** Bounded optimistic retry for the single-writer mutation contract:
    * a mutation that loses a race ([[ConcurrentMutationException]]) is
    * re-run from a FRESH pin — re-reading the winner's committed state —
    * so two well-behaved writers serialize instead of one failing. The
    * whole body re-runs, so counts are computed on the new snapshot
    * (some serial order, exactly-once effects). After `retries`
    * exhaustions the loud failure propagates unchanged.
    */
  private[sources] def withMutationRetry[T](retries: Int)(body: () => T): T = {
    var attempt = 0
    while (true) {
      try return body()
      catch { case e: ConcurrentMutationException =>
        attempt += 1
        if (attempt > retries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- metadata-only schema evolution (DDL verbs) --------------------------
  //
  // The committed `_schema.json` IS the collection's schema; data files
  // only have to be SERVABLE under it (absent columns read as null,
  // narrower physical types upcast — [[widensTo]]). So add/drop/widen are
  // pure metadata commits: a new generation that carries EVERY data file
  // by reference and changes only the stored schema — O(1) in data bytes
  // at any corpus size, where a rewrite-based ALTER on 100 TB is a
  // cluster-day. DDL is a commit like any mutation: the generation
  // advances, time travel serves the old schema from the old generation,
  // concurrent-mutation races are detected and retried, and CDC stays
  // exact (add/widen diff as empty — no visible row changes; drop
  // truthfully reports rows whose dropped value was non-null as updated).

  /** ADD a nullable column: metadata-only (existing files read it as
    * null). Appends may then populate it; a `$set` can backfill.
    * Convergent-idempotent: the column already present at exactly this
    * type is a no-op (what makes the TVF safe under analyzer
    * double-evaluation); present at a DIFFERENT type fails loudly.
    * Returns true when a generation was committed.
    *
    * RESURRECTION GUARD: the stored schema is not the only truth — a
    * previously [[dropColumn]]ed name still physically lives in every
    * file that was never rewritten since. A metadata-only re-add at the
    * same type would silently RESURRECT those values (data the drop
    * promised no read surface serves); at a different type every read of
    * a carried file would fail with a parquet conversion error, bricking
    * the collection until a compact. So an actual add first checks the
    * PHYSICAL union schema of the pinned files (parquet: one distributed
    * mergeSchema footer pass, O(footers); json: one inference pass) and
    * refuses loudly when the name is physically present — `compact()`
    * purges the dropped bytes and makes the re-add legitimate.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
                dataType: org.apache.spark.sql.types.DataType,
                retain: Int = 2, retries: Int = 3): Boolean =
    withMutationRetry(retries)(() =>
      addColumnSeamed(spark, path, name, dataType, () => (), retain))

  /** [[addColumn]] with a test seam after the pin and no retry (the
    * updateManySeamed convention) — the window a competing mutation (and
    * the disjoint re-commit of a dataless DDL on top of it) occupies.
    */
  private[sources] def addColumnSeamed(spark: SparkSession, path: String,
                                       name: String,
                                       dataType: org.apache.spark.sql.types.DataType,
                                       afterPin: () => Unit,
                                       retain: Int = 2): Boolean =
      alterSchema(spark, path, retain, s"addColumn($name)", afterPin)(schema =>
        resolveField(spark, schema, name) match {
          case Some(f) if f.dataType == dataType =>
            // converged — including through a different CASE: the
            // analyzer resolves both spellings to this one column, so an
            // ensure-column script keeps working whatever casing created
            // it (drop/widen accept the stored casing the same way)
            None
          case Some(f) => throw new IllegalArgumentException(
            s"docstore: column ${f.name} already exists on $path at type " +
              s"${f.dataType.simpleString} (asked $name " +
              s"${dataType.simpleString}) — committing a case-colliding " +
              "twin would make every later reference AMBIGUOUS_REFERENCE")
          case None => Some(schema.add(name, dataType, nullable = true))
        },
        physicalGuard = (live, fmt, names) =>
          physicalUnionSchema(spark, fileSystem(spark, path), live, fmt, names)
            .flatMap(s => resolveField(spark, s, name))
            .foreach { pf =>
              throw new IllegalStateException(
                s"docstore addColumn: column ${pf.name} is physically " +
                  s"present in $path's data files (type " +
                  s"${pf.dataType.simpleString}) though absent from the " +
                  "stored schema — previously dropped, or drifted in by an " +
                  "external writer. A metadata-only add would " +
                  (if (pf.dataType == dataType) "silently resurrect the dropped values"
                   else "brick every read of those files with a type-conversion error") +
                  "; run compact() to purge the dropped bytes first, or pick " +
                  "a different name")
            })

  /** The UNION of what the generation's data files PHYSICALLY contain —
    * unlike [[storedSchema]] (the committed contract) and
    * [[logicalReadSchema]] (which prefers the stored schema), this always
    * consults the files themselves: parquet via one distributed
    * mergeSchema footer pass (falling back to a per-file widen when
    * strict merge refuses on width drift), json via one inference pass.
    * None when nothing is determinable (empty, or drift so broken that
    * full reads already fail loudly); callers treat that as unknown.
    */
  private def physicalUnionSchema(spark: SparkSession, fs: FileSystem,
                                  live: String, fmt: String,
                                  names: Set[String])
      : Option[org.apache.spark.sql.types.StructType] = {
    val paths = names.toSeq.sorted.map(resolvePath(live, _))
    if (paths.isEmpty) None
    else if (fmt == "parquet")
      scala.util.Try(spark.read.option("mergeSchema", "true")
          .parquet(paths: _*).schema).toOption
        .orElse(scala.util.Try(
          paths.map(p => spark.read.parquet(p).schema)
            .reduceLeft(widenStructs)).toOption)
    else scala.util.Try(spark.read.json(paths: _*).schema).toOption
  }

  /** DROP a column: metadata-only — the bytes stay in the carried files
    * (reclaimed as files are naturally rewritten by later mutations /
    * compact), but no read surface serves them. Convergent-idempotent:
    * dropping an absent column is a no-op. Note: an append whose batch
    * still carries the column re-widens it back in (name-based schemas
    * have no field ids) — fix the producer before dropping. Returns true
    * when a generation was committed.
    */
  def dropColumn(spark: SparkSession, path: String, name: String,
                 retain: Int = 2, retries: Int = 3): Boolean =
    withMutationRetry(retries) { () =>
      alterSchema(spark, path, retain, s"dropColumn($name)") { schema =>
        resolveField(spark, schema, name) match {
          case None => None // converged
          case Some(f) =>
            require(schema.length > 1,
              s"docstore: refusing to drop the only column of $path")
            Some(org.apache.spark.sql.types.StructType(
              schema.filterNot(_.name == f.name)))
        }
      }
    }

  /** WIDEN a column's type in place: metadata-only for the scan-servable
    * widenings (int -> long, float -> double — [[widensTo]]); every file
    * keeps its physical type and upcasts at read. The proactive twin of
    * the widening `$set` path, and the healing verb for integral drift an
    * old producer appended. Convergent-idempotent: already at the target
    * type is a no-op. Returns true when a generation was committed.
    */
  def widenColumn(spark: SparkSession, path: String, name: String,
                  to: org.apache.spark.sql.types.DataType,
                  retain: Int = 2, retries: Int = 3): Boolean =
    withMutationRetry(retries) { () =>
      alterSchema(spark, path, retain, s"widenColumn($name)") { schema =>
        val f = resolveField(spark, schema, name).getOrElse(
          throw new IllegalArgumentException(
            s"docstore: column $name does not exist on $path"))
        if (f.dataType == to) None // converged
        else {
          require(widensTo(f.dataType, to),
            s"docstore: ${f.dataType.simpleString} -> ${to.simpleString} " +
              "is not a scan-servable widening (int -> long, float -> " +
              "double); re-typing beyond those requires a rewrite " +
              "(full-collection \\$set, or compact)")
          Some(org.apache.spark.sql.types.StructType(schema.map(x =>
            if (x.name == f.name) x.copy(dataType = to, nullable = true) else x)))
        }
      }
    }

  /** RENAME a column. Deliberately NOT metadata-only: this format's
    * schemas are name-based (no field ids — the same reason Delta Lake
    * requires column-mapping mode before it allows renames), so a
    * renamed stored schema over carried files whose footers still say
    * the OLD name would read the column as all-null — silent data loss
    * dressed up as a free rename. The honest implementation is a
    * one-scan rewrite (O(corpus), like compact) that physically renames
    * the column in every file, re-statting with the pinned geometry (the
    * stats key follows the rename, so pruning survives). Convergent-
    * idempotent: `from` absent with `to` present is the replayed-verb
    * no-op; `to` already existing NEXT TO `from` fails loudly. Returns
    * true when a generation was committed.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
                   to: String, retain: Int = 2, retries: Int = 3): Boolean =
    renameColumnSeamed(spark, path, from, to, retain, retries, () => ())

  /** [[renameColumn]] with a test seam right after the commit — the point
    * a crash would have hit the r12 flow's follow-up stats/schema
    * restoration. Production behavior (no-op seam) IS [[renameColumn]];
    * the seam pins that the committed generation is ALREADY fully
    * consistent (renamed schema + re-keyed stats inside the same commit).
    */
  private[sources] def renameColumnSeamed(spark: SparkSession, path: String,
                                          from: String, to: String,
                                          retain: Int, retries: Int,
                                          afterCommit: () => Unit): Boolean =
    withMutationRetry(retries) { () =>
      val fs = fileSystem(spark, path)
      val (live, fmt, names) = pinLive(spark, fs, path)
      val stored = storedSchema(fs, new Path(live, StatsDir)).getOrElse(
        throw new IllegalStateException(
          s"docstore: cannot renameColumn on $path — the collection has no " +
            "stored schema; run compact()/collectStats() first"))
      (resolveField(spark, stored, from), resolveField(spark, stored, to)) match {
        case (None, Some(_)) => false // converged: a replayed rename
        case (None, None) => throw new IllegalArgumentException(
          s"docstore renameColumn: neither '$from' nor '$to' exists on $path")
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          s"docstore renameColumn: target '$to' already exists on $path " +
            s"next to '$from' — renaming onto it would drop a live column")
        case (Some(f), None) =>
          val (statted, bloomed, bits) = statsConfig(spark, fs, live)
          def ren(c: String): String = if (c == f.name) to else c
          val docs = readPinned(spark, fs, live, fmt, names)
            .withColumnRenamed(f.name, to)
          // the renamed STORED schema and the re-statted geometry (same
          // columns, stats key following the rename) land in the STAGED
          // generation, so they commit atomically with the data: a crash
          // can no longer leave the renamed store stats-less (or a json
          // store schema-less — which would erase metadata-only added
          // columns, since the JSON writer leaves no physical trace of
          // all-null fields, and brick every later DDL verb), and a
          // concurrent mutation can no longer receive this rename's
          // schema in the wrong generation
          val renamed = org.apache.spark.sql.types.StructType(
            stored.map(x => if (x.name == f.name) x.copy(name = to) else x))
          commitRewrite(fs, spark, docs, path, retain, format = fmt,
            sourceNames = names, pinnedLive = live,
            stagedSchema = Some(renamed),
            stagedStats =
              if (statted.nonEmpty || bloomed.nonEmpty)
                Some((statted.map(ren), bloomed.map(ren),
                  if (bits > 0) bits else 1 << 16))
              else None)
          afterCommit()
          true
      }
    }

  /** Resolve `name` against `schema` the way the session's analyzer
    * will: case-insensitive under the default resolution, exact when
    * `spark.sql.caseSensitive` is on. An exact-only check here would let
    * addColumn commit a case-colliding twin ("score" vs "Score") that
    * makes every later reference AMBIGUOUS_REFERENCE.
    */
  private def resolveField(spark: SparkSession,
                           schema: org.apache.spark.sql.types.StructType,
                           name: String)
      : Option[org.apache.spark.sql.types.StructField] =
    if (spark.sessionState.conf.caseSensitiveAnalysis)
      schema.find(_.name == name)
    else schema.find(_.name.equalsIgnoreCase(name))

  /** The shared metadata-only DDL commit: pin the snapshot, transform the
    * STORED schema (None = already converged, commit nothing), commit a
    * rowless generation that carries every data file by reference under
    * the new schema. Requires a stored schema (the thing being altered):
    * a pre-schema or drifted store must compact()/collectStats() first so
    * the alter has one source of truth.
    */
  private def alterSchema(spark: SparkSession, path: String, retain: Int,
                          what: String, afterPin: () => Unit = () => ())(
      f: org.apache.spark.sql.types.StructType
        => Option[org.apache.spark.sql.types.StructType],
      // runs only when a generation WILL be committed, with the pinned
      // (live, fmt, names) — addColumn's physical-presence check; the
      // default is the no-op the other verbs keep
      physicalGuard: (String, String, Set[String]) => Unit = (_, _, _) => ())
      : Boolean = {
    val fs = fileSystem(spark, path)
    val (live, fmt, names) = pinLive(spark, fs, path)
    afterPin()
    val stored = storedSchema(fs, new Path(live, StatsDir)).getOrElse(
      throw new IllegalStateException(
        s"docstore: cannot $what on $path — the collection has no stored " +
          "schema (pre-schema, or appends drifted it unmergeably); run " +
          "compact()/collectStats() first"))
    f(stored) match {
      case None => false // converged: nothing to commit
      case Some(next) =>
        physicalGuard(live, fmt, names)
        // rowless json store: the carried-branch schema write (the only
        // json schema persistence) never runs with zero carried files —
        // refuse rather than commit a generation that silently lost the
        // new schema
        require(fmt == "parquet" || names.nonEmpty,
          s"docstore: cannot $what on an empty json collection — insert " +
            "data or compact to parquet first")
        // dataless only with carried links (genFormat reads the format
        // from them); an EMPTY collection keeps the rowless write so the
        // new generation still evidences its format on disk
        commitRewrite(fs, spark,
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], next),
          path, retain, format = fmt, sourceNames = names, pinnedLive = live,
          carried = names.toSeq.sorted, carriedSchema = Some(next),
          dataless = names.nonEmpty)
        true
    }
  }

  // ---- idempotent mutations (tokens) --------------------------------------

  private val MutationTokenFile = "_mutation_token"

  /** The recorded result of a retained mutation committed under `token`,
    * if any: newest-first scan of the committed generations' token
    * sidecars. The idempotence WINDOW is the retention window — once
    * every generation carrying the token is pruned, a replay re-executes
    * (raise `retain` on mutations to widen the at-least-once window).
    */
  private def mutationTokenHit(fs: FileSystem, path: String,
                               token: String): Option[Long] = {
    if (!fs.exists(new Path(path))) return None
    val wanted = encodeToken(token)
    committedGens(fs, path).reverseIterator.map { g =>
      val p = new Path(genPath(path, g), MutationTokenFile)
      if (!fs.exists(p)) None
      else {
        val lines = Io.readSmallFile(fs, p).split("\n", -1)
        // wanted = the current tagged-Base64 frame. The raw fallback
        // honors sidecars written before tokens were framed (a
        // cross-version replay must not re-execute), but ONLY for lines
        // that are not themselves tagged frames — otherwise a genuinely
        // new token that happens to equal another token's stored frame
        // would be silently swallowed as a replay (lost write).
        if (lines.nonEmpty &&
            (lines(0) == wanted ||
              (!lines(0).startsWith(TokenFramePrefix) && lines(0) == token)))
          scala.util.Try(lines(1).trim.toLong).toOption
        else None
      }
    }.collectFirst { case Some(n) => n }
  }

  /** Tokens are arbitrary caller strings; the sidecar is line-framed, so
    * store them Base64-encoded — a raw token containing a newline would
    * never match its own first line and the replay check would silently
    * re-execute the mutation it exists to suppress. The "b64:" tag makes
    * the frame self-describing, so the legacy raw-line fallback can be
    * restricted to untagged lines (an untagged base64-looking TOKEN can
    * then never be mistaken for another token's stored frame).
    *
    * RESIDUAL EDGE (documented, not fixable): a PRE-framing sidecar whose
    * caller token itself began with "b64:" is ambiguous after upgrade — the
    * stored line `b64:X` could be that legacy raw token OR the frame of the
    * different token base64-decode(X), and no comparison can distinguish
    * the two (treating it as a replay hit would swallow a genuinely new
    * mutation — a lost write, strictly worse than the duplicate apply this
    * edge risks). Such a token replayed across the version boundary
    * re-executes once; its re-commit writes the tagged frame and every
    * later replay is suppressed normally. Callers whose tokens may start
    * with "b64:" and who upgraded mid-retry should make the mutation body
    * convergent (the TVF verbs already are).
    */
  private val TokenFramePrefix = "b64:"
  private def encodeToken(token: String): String =
    TokenFramePrefix +
      java.util.Base64.getEncoder.encodeToString(token.getBytes(UTF_8))

  private def tokenSidecar(token: String, count: => Long): Map[String, () => Array[Byte]] =
    Map(MutationTokenFile ->
      (() => s"${encodeToken(token)}\n$count".getBytes(UTF_8)))

  /** $set-style conditional update; returns matched-document count. Fields
    * in `set` that don't exist yet are added (null for unmatched docs) —
    * document-store schema evolution. A new field keeps the $set value's
    * type: `when(matched, v)` with no `otherwise` makes the else-branch a
    * null of v's own type (an explicit string-typed null would coerce
    * numeric values to string under when/otherwise type widening).
    *
    * COPY-ON-WRITE: when the live generation carries data-skipping stats
    * and the filter prunes ([[collectStats]]/[[cluster]] + a recognizable
    * predicate), only the files that MAY contain matching rows are
    * rewritten; the provably-untouched rest is carried forward by
    * reference (`_LINKS`) — a selective update costs O(matched files),
    * not O(corpus). Schema evolution (a `set` key the collection lacks)
    * touches every row and takes the full-rewrite path.
    *
    * A lost mutation race retries from a fresh pin up to `retries` times
    * ([[withMutationRetry]]); `retries = 0` restores the fail-fast
    * behavior.
    */
  def updateMany(spark: SparkSession, path: String, filter: Column,
                 set: Map[String, Column], retain: Int = 2,
                 retries: Int = 3, token: Option[String] = None): Long =
    withMutationRetry(retries)(() =>
      updateManySeamed(spark, path, filter, set, retain, () => (), token))

  /** [[updateMany]] with a test seam between the snapshot pin and the
    * commit — the window a competing mutation would occupy — and no
    * retry. Production behavior (no-op seam, wrapped in retry) IS
    * [[updateMany]].
    */
  private[sources] def updateManySeamed(spark: SparkSession, path: String,
                                        filter: Column, set: Map[String, Column],
                                        retain: Int, afterPin: () => Unit,
                                        token: Option[String] = None,
                                        afterStage: () => Unit = () => (),
                                        afterPublish: () => Unit = () => ()): Long = {
    val fs = fileSystem(spark, path)
    // IDEMPOTENCE TOKEN: a retained generation already committed under
    // this token means this call is an at-least-once replay (an
    // orchestrator retry, or the SQL analyzer evaluating a mutation TVF
    // twice) — return the recorded count, mutate nothing. Checked inside
    // the retried body so a racer that loses to a same-token winner
    // no-ops on its retry instead of double-applying.
    token.flatMap(mutationTokenHit(fs, path, _)).foreach(n => return n)
    val (live, fmt, names) = pinLive(spark, fs, path)
    afterPin()
    def late(n: => Long): Map[String, () => Array[Byte]] =
      token.fold(Map.empty[String, () => Array[Byte]])(t => tokenSidecar(t, n))
    val matched = coalesce(filter, lit(false))
    def fullRewrite(): Long = {
      val docs = readPinned(spark, fs, live, fmt, names)
      // The observation sits BELOW the $set projections: `matched` must
      // be evaluated on pre-update values, or a $set that writes a column
      // the filter reads (set status -> 'done' where status === 'pending')
      // would count the post-update rows and report 0.
      val obs = Observation()
      val base = docs.observe(obs, count(when(matched, lit(1))).as("matched"))
      val updated = set.foldLeft(base) { case (d, (k, v)) =>
        applySet(d, k, v, matched) }
      commitRewrite(fs, spark, updated, path, retain, format = fmt,
        sourceNames = names, pinnedLive = live,
        lateSidecars = late(obs.get("matched").asInstanceOf[Long]),
        afterStage = afterStage, afterPublish = afterPublish)
      obs.get("matched").asInstanceOf[Long]
    }
    val cow = cowCandidates(spark, fs, live, fmt, names, filter,
      // dotted keys are nested paths — COW needs only the TOP-level
      // column present (the struct rebuild decides stability below);
      // resolution matches applySet's (analyzer case rules), so a
      // case-variant spelling of an existing column stays COW-eligible
      schemaSafe = s => set.keys.forall(k =>
        resolveField(spark, s, k.takeWhile(_ != '.')).isDefined))
    cow match {
      case Some((cand, carried, schema)) if cand.isEmpty =>
        // nothing can match: an all-carried metadata-only commit (the
        // generation still advances — a mutation is a commit, and CDC
        // consumers see a clean empty diff). No observe: the optimizer
        // folds the empty scan to a LocalRelation and the metric would
        // never fire. dataless: no rowless part file to haunt later prunes.
        commitRewrite(fs, spark,
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], schema),
          path, retain, format = fmt, sourceNames = names,
          pinnedLive = live, carried = carried, carriedSchema = Some(schema),
          lateSidecars = late(0L), dataless = true, afterStage = afterStage,
          afterPublish = afterPublish)
        0L
      case Some((cand, carried, schema)) =>
        val docs = readFiles(spark, fmt, Some(schema),
          cand.map(resolvePath(live, _)))
        val obs = Observation()
        val base = docs.observe(obs, count(when(matched, lit(1))).as("matched"))
        // every `set` key's top-level column exists (schemaSafe), so the
        // shared applySet never takes its evolution branch here
        val updated = set.foldLeft(base) { case (d, (k, v)) =>
          applySet(d, k, v, matched) }
        // TYPE GATE: a $set whose value re-types a column (when/otherwise
        // coerces the whole column) commits rewritten files under the new
        // schema while carried files keep the old physical type. When the
        // drift is a pure WIDENING the scan serves over the narrow
        // physical type ([[widensTo]] — the compactSmall/vacuum
        // widened-union discipline), the mutation stays COW and the
        // committed widened schema heals the column for every later read;
        // any other drift takes the full-rewrite path, which re-types
        // every file consistently.
        // nullability-NORMALIZED comparison: a dotted-path $set rebuilds
        // its struct through when/otherwise, which relaxes the replaced
        // field to nullable — a difference the parquet scan serves
        // transparently (nullability is a hint, not a physical layout),
        // and one that must not silently escalate a prunable COW update
        // into an O(corpus) full rewrite
        val stable = updated.schema.fields
          .map(f => (f.name, allNullable(f.dataType)))
          .sameElements(docs.schema.fields
            .map(f => (f.name, allNullable(f.dataType))))
        if (stable || widensOnly(docs.schema, updated.schema)) {
          // committed schema: the pinned stored one when the rewrite
          // changed nothing at all; otherwise the rewrite's own (the
          // widened type, or the nullability-relaxed struct the fresh
          // files physically carry — claiming the stricter stored
          // nullability over possibly-null fresh data would lie)
          val served =
            if (updated.schema == docs.schema) schema else updated.schema
          commitRewrite(fs, spark, updated, path, retain, format = fmt,
            sourceNames = names, pinnedLive = live, carried = carried,
            carriedSchema = Some(served),
            lateSidecars = late(obs.get("matched").asInstanceOf[Long]),
            afterStage = afterStage, afterPublish = afterPublish)
          obs.get("matched").asInstanceOf[Long]
        } else fullRewrite()
      case None => fullRewrite()
    }
  }

  /** One `$set` entry applied to the rewrite frame. A DOTTED key is a
    * nested path (the Mongo `$set` convention): `"meta.quality.score"`
    * rebuilds the top-level struct via `Column.withField`, which supports
    * the remaining path natively. The match conditional lives on the
    * FIELD VALUE, not the struct (two `when` branches with different
    * field sets would fail struct-type unification): an existing field
    * reads `matched ? v : old value` — struct type stable when `v` keeps
    * the type, so the mutation stays COW — while a NEW field reads
    * `matched ? v : null` (schema evolution, the full-rewrite path).
    * Field existence is resolved the way the analyzer will (case rules
    * of [[resolveField]]) — an exact-only check would misread a
    * case-variant spelling as "new" and null the unmatched docs' values.
    * A NULL struct stays null (withField cannot manufacture a parent —
    * documented, matching Spark semantics rather than Mongo's
    * path-creating upsert). Non-dotted keys keep the historical
    * behavior: update in place, or add the column (null for unmatched).
    */
  private def applySet(d: DataFrame, k: String, v: Column,
                       matched: Column): DataFrame =
    if (k.contains(".")) {
      val spark = d.sparkSession
      val rawTop = k.takeWhile(_ != '.')
      val rest = k.drop(rawTop.length + 1)
      // resolve the TOP segment the way the analyzer will too — the
      // stored spelling is what withColumn must replace
      val topField = resolveField(spark, d.schema, rawTop).getOrElse(
        throw new IllegalArgumentException(
          s"docstore $$set: nested path '$k' needs top-level column " +
            s"'$rawTop', which does not exist — create it first " +
            "(addColumn / a plain $set with a struct value)"))
      val top = topField.name
      require(topField.dataType
          .isInstanceOf[org.apache.spark.sql.types.StructType],
        s"docstore $$set: nested path '$k' but column '$top' is " +
          s"${topField.dataType.simpleString}, not a struct")
      val exists = rest.split('.').foldLeft(
          Option(topField.dataType)) {
        case (Some(st: org.apache.spark.sql.types.StructType), f) =>
          resolveField(spark, st, f).map(_.dataType)
        case _ => None
      }.isDefined
      val fieldVal =
        if (exists) when(matched, v).otherwise(col(s"$top.$rest"))
        else when(matched, v)
      d.withColumn(top, col(top).withField(rest, fieldVal))
    }
    else resolveField(d.sparkSession, d.schema, k) match {
      // resolve the way the analyzer will (case rules of [[resolveField]]):
      // withColumn itself REPLACES case-insensitively under the default
      // resolution, so an exact-only existence check would route a
      // case-variant key ("Score" for "score") into the evolution branch
      // — whose no-otherwise when() then silently nulls the column for
      // every unmatched document
      case Some(f) =>
        d.withColumn(f.name, when(matched, v).otherwise(col(f.name)))
      case None => d.withColumn(k, when(matched, v))
    }

  /** The COW partition of a pinned snapshot: (candidate files that may
    * contain matching rows, carried files that provably don't, the stored
    * schema to read with) — or None when COW can't apply: no usable
    * stats/predicate (pruning unavailable), pruning didn't drop anything
    * (links would only add overhead), or `schemaSafe` rejects (the
    * mutation changes the schema in a way carried files cannot serve —
    * pure widenings are allowed through, see [[widensTo]]).
    */
  private def cowCandidates(spark: SparkSession, fs: FileSystem, live: String,
                            fmt: String, names: Set[String], filter: Column,
                            schemaSafe: org.apache.spark.sql.types.StructType => Boolean)
      : Option[(Seq[String], Seq[String], org.apache.spark.sql.types.StructType)] =
    prunedFiles(spark, fs, live, fmt, filter, pinned = Some(names)) match {
      case Some((cand, schema))
          if schemaSafe(schema) && cand.size < names.size =>
        Some((cand, (names -- cand).toSeq.sorted, schema))
      case _ => None
    }

  /** `dataType` with every nested nullability flag forced true — the
    * normalization under which two schemas are compared when only their
    * nullability hints (never physical layout) may differ.
    */
  private def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = allNullable(a.elementType),
        containsNull = true)
      case m: MapType => m.copy(keyType = allNullable(m.keyType),
        valueType = allNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** True when a file whose physical column type is `from` can be SERVED
    * under a read schema typed `to`: int -> long and float -> double —
    * exactly the upcasts Spark 4's parquet reader performs at scan time
    * (and the JSON reader parses schema-driven), the compactSmall/vacuum
    * widened-union discipline, both pinned by spec against truncated
    * data. This is what lets a widening mutation stay COW: rewritten
    * files commit the widened type while carried files keep the narrower
    * physical one, and the committed schema heals the drift for every
    * later read. Deliberately NOT the full findTightestCommonType
    * lattice: long -> double loses precision, the reader serves neither
    * int64-under-double nor anything-under-string, and the byte/short
    * chain is excluded as unmeasured here (those types never arise from
    * this engine's own writes — JSON inference and the query surface
    * produce int/long/double).
    */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    from == to ||
      (from == FloatType && to == DoubleType) ||
      (from == IntegerType && to == LongType)
  }

  /** [[widensTo]] lifted to whole schemas: same field names in the same
    * order, every type equal or widened.
    */
  private def widensOnly(from: org.apache.spark.sql.types.StructType,
                         to: org.apache.spark.sql.types.StructType): Boolean =
    from.fields.length == to.fields.length &&
      from.fields.zip(to.fields).forall { case (a, b) =>
        a.name == b.name && widensTo(a.dataType, b.dataType)
      }

  /** Filtered delete; returns deleted count. `filter = None` (the empty
    * Mongo query) is REFUSED while `deleteProtection` is on. Selective
    * deletes take the same copy-on-write path as [[updateMany]] (only
    * files that may contain matching rows are rewritten), and a lost
    * mutation race retries from a fresh pin.
    */
  def deleteMany(spark: SparkSession, path: String, filter: Option[Column],
                 deleteProtection: Boolean = true, retain: Int = 2,
                 retries: Int = 3, token: Option[String] = None): Long = {
    if (deleteProtection && filter.isEmpty) throw new DeleteProtectionException
    withMutationRetry(retries)(() =>
      deleteManySeamed(spark, path, filter, retain, () => (), token))
  }

  /** [[deleteMany]] core with a test seam after the pin and no retry. */
  private[sources] def deleteManySeamed(spark: SparkSession, path: String,
                                        filter: Option[Column], retain: Int,
                                        afterPin: () => Unit,
                                        token: Option[String] = None): Long = {
    val fs = fileSystem(spark, path)
    token.flatMap(mutationTokenHit(fs, path, _)).foreach(n => return n)
    val (live, fmt, names) = pinLive(spark, fs, path)
    afterPin()
    def late(n: => Long): Map[String, () => Array[Byte]] =
      token.fold(Map.empty[String, () => Array[Byte]])(t => tokenSidecar(t, n))
    filter match {
      case None =>
        // Guard-off delete-all: the kept-set is provably empty, so the
        // optimizer prunes the scan (and any CollectMetrics on it) to an
        // empty LocalRelation — count directly, then commit emptiness.
        val docs = readPinned(spark, fs, live, fmt, names)
        val n = docs.count()
        commitRewrite(fs, spark, docs.filter(lit(false)), path, retain,
          format = fmt, sourceNames = names, pinnedLive = live,
          lateSidecars = late(n))
        n
      case Some(f) =>
        val hit = coalesce(f, lit(false))
        cowCandidates(spark, fs, live, fmt, names, f, schemaSafe = _ => true) match {
          case Some((cand, carried, schema)) if cand.isEmpty =>
            commitRewrite(fs, spark,
              spark.createDataFrame(spark.sparkContext
                .emptyRDD[org.apache.spark.sql.Row], schema),
              path, retain, format = fmt, sourceNames = names,
              pinnedLive = live, carried = carried, carriedSchema = Some(schema),
              lateSidecars = late(0L), dataless = true)
            0L
          case Some((cand, carried, schema)) =>
            val docs = readFiles(spark, fmt, Some(schema),
              cand.map(resolvePath(live, _)))
            val obs = Observation()
            commitRewrite(fs, spark,
              docs.observe(obs, count(when(hit, lit(1))).as("deleted")).filter(!hit),
              path, retain, format = fmt, sourceNames = names,
              pinnedLive = live, carried = carried, carriedSchema = Some(schema),
              lateSidecars = late(obs.get("deleted").asInstanceOf[Long]))
            obs.get("deleted").asInstanceOf[Long]
          case None =>
            val docs = readPinned(spark, fs, live, fmt, names)
            val obs = Observation()
            commitRewrite(fs, spark,
              docs.observe(obs, count(when(hit, lit(1))).as("deleted")).filter(!hit),
              path, retain, format = fmt, sourceNames = names, pinnedLive = live,
              lateSidecars = late(obs.get("deleted").asInstanceOf[Long]))
            obs.get("deleted").asInstanceOf[Long]
        }
    }
  }

  /** Compact the live generation's files into `targetFiles` — the
    * small-files remedy after many [[insertMany]] appends (each append
    * adds files; a scan of thousands of tiny JSON files is planner- and
    * NameNode-hostile at scale). One scan, written as the next
    * generation, committed by the same manifest swing as any mutation —
    * identical crash safety. Returns the document count (counted on the
    * same single pass via `observe`).
    *
    * `format = Some("parquet")` makes compaction ALSO the columnar
    * migration: the rewrite it already pays emits a parquet generation,
    * and from then on every read is columnar (schema from footers,
    * column pruning at the scan) and every mutation stays parquet. The
    * JSON document model is unchanged — subsequent generations carry the
    * same rows, [[findAsOf]]/[[diffGenerations]] read each generation in
    * its own format, so CDC works across the migration boundary.
    * `Some("json")` converts back; `None` (default) keeps the current
    * format.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1,
              retain: Int = 2, format: Option[String] = None): Long =
    compactSeamed(spark, path, targetFiles, retain, format, () => ())

  /** [[compact]] with a test seam right after the commit — pins that the
    * compacted generation already carries its stats and stored schema
    * (no crash window between the commit and a follow-up re-stat).
    * Production behavior (no-op seam) IS [[compact]].
    */
  private[sources] def compactSeamed(spark: SparkSession, path: String,
                                     targetFiles: Int, retain: Int,
                                     format: Option[String],
                                     afterCommit: () => Unit): Long = {
    require(format.forall(Seq("json", "parquet").contains),
      s"format must be json or parquet, got $format")
    val fs = fileSystem(spark, path)
    val (live, fmt, names) = pinLive(spark, fs, path)
    // stats survive compaction: remember which columns (and Bloom
    // geometry) the generation statted and re-stat the compacted files
    // (they're freshly written and usually few — the rewrite already paid
    // the full read)
    val (statted, bloomed, bits) = statsConfig(spark, fs, live)
    val docs = readPinned(spark, fs, live, fmt, names)
    val obs = Observation()
    val fmtOut = format.getOrElse(fmt)
    // stats (and, for json, the stored schema the old follow-up
    // collectStats used to restore) land in the STAGED generation — one
    // atomic commit instead of commit-then-restat, closing the crash
    // window that left a compacted store stats-less until the next
    // maintain tick. Statting in-staging also keeps the read schema
    // (not a post-write re-inference) as the persisted one, so a json
    // store's metadata-only columns now SURVIVE compaction instead of
    // being silently dropped by inference over files that carry no
    // trace of an all-null field. The json schema carry is gated on the
    // PINNED STORE having a stored schema — not on stats presence (an r13
    // review catch: a stats-less json store whose schema came from a COW
    // commit's carriedSchema would otherwise drop it, erasing
    // metadata-only columns and bricking later DDL); a store with no
    // stored schema at all stays inference-served, as before.
    val hadSchema = storedSchema(fs, new Path(live, StatsDir)).nonEmpty
    commitRewrite(fs, spark,
      docs.observe(obs, count(lit(1)).as("n")).coalesce(targetFiles), path, retain,
      format = fmtOut, sourceNames = names, pinnedLive = live,
      stagedSchema =
        if (fmtOut != "parquet" && hadSchema) Some(docs.schema)
        else None,
      stagedStats =
        if (statted.nonEmpty || bloomed.nonEmpty)
          Some((statted, bloomed, if (bits > 0) bits else 1 << 16))
        else None)
    afterCommit()
    obs.get("n").asInstanceOf[Long]
  }

  /** Incremental small-files compaction: merge ONLY the live generation's
    * data files smaller than `minBytes` into `targetFiles`, carrying every
    * already-large file forward by reference (`_LINKS`) — the small-files
    * remedy at O(small bytes) instead of [[compact]]'s O(corpus) rewrite.
    * The steady state of a high-frequency ingest is exactly this shape:
    * a few large clustered files plus a tail of tiny appends; at 100 TB
    * the tail is the only part worth rewriting. Large files keep their
    * stats rows (skipping and metadata-exact counts survive), the merged
    * file is re-statted with the carried geometry, and the usual manifest
    * swing gives the usual crash safety. Returns how many files were
    * merged (0 = nothing to do, no commit).
    */
  def compactSmall(spark: SparkSession, path: String, minBytes: Long,
                   targetFiles: Int = 1, retain: Int = 2): Long = {
    require(minBytes > 0, s"minBytes must be positive, got $minBytes")
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val fs = fileSystem(spark, path)
    val (live, fmt, names) = pinLive(spark, fs, path)
    val sized = names.toSeq.sorted.map { n =>
      val p = new Path(resolvePath(live, n))
      (n, if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L)
    }
    val small = sized.collect { case (n, len) if len < minBytes => n }
    if (small.size <= targetFiles) return 0L // merging wouldn't shrink the tail
    val carried = (names -- small).toSeq.sorted
    // parquet commits always persist df.schema as the generation's read
    // schema — so when no stored schema exists it must be derived from
    // ALL logical files, never just the small subset, or carried-only
    // columns would be silently dropped on read
    val schema = logicalReadSchema(spark, fs, live, fmt, names)
    if (fmt == "parquet" && schema.isEmpty)
      throw new IllegalStateException(
        s"docstore compactSmall: cannot derive a complete read schema for " +
          s"$live — its data files carry incompatible physical types " +
          "(drift beyond integral/float widening); full-collection reads " +
          "fail the same way. Resolve the drift before compacting.")
    val docs = readFiles(spark, fmt, schema, small.map(resolvePath(live, _)))
    // carriedSchema stays the STORED schema or nothing: inferring from the
    // small subset could under-describe columns that live only in carried
    // files, and a committed under-wide schema silently drops them — with
    // no sidecar the read path falls back to inference over dir + links,
    // which is always complete
    commitRewrite(fs, spark, docs.coalesce(targetFiles), path, retain,
      format = fmt, sourceNames = names, pinnedLive = live,
      carried = carried, carriedSchema = schema)
    small.size.toLong
  }

  // ---- incremental COW-garbage reclaim (vacuum) ---------------------------
  //
  // Chained selective mutations leave GARBAGE in link-home generations: a
  // home dir is kept alive by the retention closure as long as ANY retained
  // generation carries even one of its files, so its superseded files — the
  // versions the COW mutations rewrote — pin dead bytes that grow with the
  // mutation count. [[compact]]/[[cluster]] flatten every link (full
  // reclaim at O(corpus)); [[vacuum]] is the incremental path: re-home ONLY
  // the still-live files of mostly-dead homes at O(their live bytes), and
  // let the retention window slide the emptied homes out.

  /** Per-home accounting shared by [[vacuum]], [[cowStats]], and fsck's
    * garbage warning: for every on-disk committed generation, its physical
    * data bytes and the subset the LIVE generation still references (its
    * own files for the live gen; carried `_LINKS` bytes for older ones) —
    * the bytes that stay pinned as the retention window slides. Pure
    * metadata (listStatus sizes); no data file is opened.
    */
  private def homeAccounting(fs: FileSystem, path: String, live: String,
                             names: Set[String])
      : Seq[(Int, Long, Long)] = { // (generation, dataBytes, liveRefBytes)
    def len(p: String): Long = {
      val q = new Path(p)
      if (fs.exists(q)) fs.getFileStatus(q).getLen else 0L
    }
    val liveName = new Path(live).getName
    val linksByHome = names.filter(_.contains("/"))
      .groupBy(_.takeWhile(_ != '/'))
    committedGens(fs, path).flatMap { g =>
      val gName = f"gen-$g%06d"
      val gDir = genPath(path, g)
      if (!fs.exists(new Path(gDir))) None
      else {
        val bytes = dataFileNames(fs, gDir).iterator
          .map(n => len(s"$gDir/$n")).sum
        val ref =
          if (gName == liveName) bytes
          else linksByHome.getOrElse(gName, Set.empty).iterator
            .map(e => len(s"$path/$e")).sum
        Some((g, bytes, ref))
      }
    }
  }

  /** Storage accounting for the COW link machinery — one row per on-disk
    * committed generation: physical `data_bytes`, the `live_ref_bytes`
    * the LIVE generation still references (all of them for the live
    * generation itself; carried `_LINKS` bytes for older homes),
    * `dead_bytes` = the rest, the resulting `live_fraction`, and whether
    * the generation sits in the newest-`retain` window (kept for snapshot
    * isolation / time travel regardless of links). Non-window rows with a
    * low live fraction are exactly what [[vacuum]] reclaims — this is the
    * dead-byte debt dashboard a mutable store watches. Metadata-only.
    */
  def cowStats(spark: SparkSession, path: String, retain: Int = 2): DataFrame = {
    import spark.implicits._
    val fs = fileSystem(spark, path)
    val live = liveDir(fs, path).getOrElse(
      return Seq.empty[(Int, Long, Long, Long, Double, Boolean)]
        .toDF("generation", "data_bytes", "live_ref_bytes", "dead_bytes",
          "live_fraction", "in_retain_window"))
    val names = logicalNames(fs, live)
    val window = committedGens(fs, path).takeRight(retain).toSet
    homeAccounting(fs, path, live, names).map { case (g, bytes, ref) =>
      (g, bytes, ref, bytes - ref,
        if (bytes > 0L) ref.toDouble / bytes else 1.0, window.contains(g))
    }.toDF("generation", "data_bytes", "live_ref_bytes", "dead_bytes",
      "live_fraction", "in_retain_window").orderBy("generation")
  }

  /** Incremental reclaim of COW garbage: rewrite (re-home) the live
    * generation's carried files whose home generation's live fraction —
    * carried bytes over the home's total physical bytes — fell below
    * `minLiveFraction`, carrying everything else forward by reference.
    * Cost is O(live bytes of the reclaimed homes), never O(corpus): the
    * dead files are never read, and untouched homes/files stay linked.
    * The emptied homes are NOT deleted by this commit (older retained
    * generations may still link into them — snapshot isolation); they
    * fall out of the retention closure within `retain` subsequent
    * mutations, which is when their bytes actually free. Homes inside
    * the newest-`retain` window are skipped — retention keeps them
    * whole regardless, so re-homing their files now would only copy
    * bytes. Returns how many files were re-homed (0 = nothing qualified,
    * no commit). This is the weekly maintenance a mutable 100 TB store
    * runs where [[compact]] would be a full-corpus rewrite.
    */
  def vacuum(spark: SparkSession, path: String, minLiveFraction: Double = 0.5,
             retain: Int = 2): Long = {
    require(minLiveFraction > 0.0 && minLiveFraction <= 1.0,
      s"minLiveFraction must be in (0, 1], got $minLiveFraction")
    val fs = fileSystem(spark, path)
    val (live, fmt, names) = pinLive(spark, fs, path)
    if (!names.exists(_.contains("/"))) return 0L // no links: nothing carried
    val window = committedGens(fs, path).takeRight(retain).toSet
    val badHomes = homeAccounting(fs, path, live, names).collect {
      case (g, bytes, ref)
          if !window.contains(g) && bytes > 0L &&
            ref.toDouble / bytes < minLiveFraction => f"gen-$g%06d"
    }.toSet
    val rehome = names.filter(n =>
      n.contains("/") && badHomes.contains(n.takeWhile(_ != '/')))
    if (rehome.isEmpty) return 0L
    val carried = (names -- rehome).toSeq.sorted
    val schema = logicalReadSchema(spark, fs, live, fmt, names)
    if (fmt == "parquet" && schema.isEmpty)
      throw new IllegalStateException(
        s"docstore vacuum: cannot derive a complete read schema for $live " +
          "— its data files carry incompatible physical types (drift " +
          "beyond integral/float widening); full-collection reads fail " +
          "the same way. Resolve the drift before vacuuming.")
    val docs = readFiles(spark, fmt, schema,
      rehome.toSeq.sorted.map(resolvePath(live, _)))
    commitRewrite(fs, spark, docs, path, retain, format = fmt,
      sourceNames = names, pinnedLive = live, carried = carried,
      carriedSchema = schema)
    rehome.size.toLong
  }

  // ---- incremental clustering maintenance (recluster) ---------------------
  //
  // Clustering DECAYS under writes: appends land wherever the ingest put
  // them, and a COW mutation's rewritten files span whatever its candidate
  // set spanned — after enough writes, per-file key ranges overlap and a
  // selective read stops pruning. [[cluster]] restores perfect layout at
  // O(corpus); [[recluster]] is the incremental path (the Delta OPTIMIZE /
  // Iceberg rewrite_data_files shape): find the files whose key ranges
  // OVERLAP (a driver-side interval sweep over the `_STATS` sidecar — pure
  // metadata), sort-rewrite only those groups, and carry every
  // already-disjoint file by reference (`_LINKS`) — O(overlapping bytes)
  // per run. With [[vacuum]] (garbage) and [[compactSmall]] (file count)
  // this completes the maintenance triad a mutable clustered store runs
  // instead of periodic full rewrites.

  private final case class KeyInterval(name: String, lo: Any, hi: Any, bytes: Long)

  /** One int literal per partition of an n-way `repartition(n, expr)`
    * hash shuffle, such that token i routes to its OWN partition (no two
    * tokens collide). Found by evaluating Catalyst's Murmur3Hash — the
    * exact expression HashPartitioning uses — over successive ints on
    * the driver; expected O(n log n) probes, n is an output-FILE count.
    */
  private def partitionTokens(n: Int): Seq[Int] = {
    require(n >= 1, s"need at least one partition, got $n")
    val byPartition = Array.fill(n)(Int.MinValue)
    var remaining = n
    var t = 0
    while (remaining > 0) {
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(t)), 42)
        .eval(null).asInstanceOf[Int]
      val p = ((h % n) + n) % n
      if (byPartition(p) == Int.MinValue) { byPartition(p) = t; remaining -= 1 }
      t += 1
    }
    byPartition.toSeq
  }

  /** Maximal groups of mutually-overlapping intervals (transitive
    * closure via a sweep over lo-sorted intervals; inclusive endpoints —
    * two files sharing one key value both serve an equality probe on it,
    * so they belong together). None when endpoint types are mixed
    * (numbers vs strings — stats written under different schemas), where
    * no total order exists: callers then do nothing, which is always
    * sound.
    */
  private def overlapGroups(ivs: Seq[KeyInterval]): Option[Seq[Seq[KeyInterval]]] = {
    if (ivs.isEmpty) return Some(Nil)
    val endpoints = ivs.flatMap(i => Seq(i.lo, i.hi))
    val comparable = endpoints.forall(_.isInstanceOf[java.lang.Number]) ||
      endpoints.forall(_.isInstanceOf[String])
    if (!comparable) return None
    val sorted = ivs.sortWith((a, b) => statCompare(a.lo, b.lo).exists(_ < 0))
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[KeyInterval]]
    var curHi: Any = null
    sorted.foreach { iv =>
      if (groups.nonEmpty && statCompare(iv.lo, curHi).exists(_ <= 0)) {
        groups.last += iv
        if (statCompare(iv.hi, curHi).exists(_ > 0)) curHi = iv.hi
      } else {
        groups += scala.collection.mutable.ArrayBuffer(iv)
        curHi = iv.hi
      }
    }
    Some(groups.map(_.toSeq).toSeq)
  }

  /** Driver-side per-file layout accounting for `keyCol` over the live
    * generation — metadata only (stats rows + file lengths, no data
    * read): (logical name, Some(lo, hi) when the stats row carries
    * non-null min/max for the key, bytes). Files without a usable range
    * (never statted, all-null keys, or statted before `keyCol` joined the
    * geometry) return None — [[clusterStats]] reports them as unstatted;
    * [[recluster]] scans exactly those to place them.
    */
  private def keyRanges(spark: SparkSession, fs: FileSystem, live: String,
                        names: Set[String], keyCol: String)
      : Seq[(String, Option[(Any, Any)], Long)] = {
    val rows = statsRows(spark, fs, new Path(live, StatsDir))
      .getOrElse(Array.empty)
    val byFile = rows.iterator.flatMap { r =>
      def f(n: String): Option[Any] =
        if (r.schema.fieldNames.contains(n) && !r.isNullAt(r.fieldIndex(n)))
          Some(r.get(r.fieldIndex(n)))
        else None
      f("file").collect { case s: String => s }.map { file =>
        file -> (for { lo <- f(s"min_$keyCol"); hi <- f(s"max_$keyCol") }
          yield (lo, hi))
      }
    }.toMap
    names.toSeq.sorted.map { n =>
      val p = new Path(resolvePath(live, n))
      val bytes = if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
      (n, byFile.getOrElse(baseName(n), None), bytes)
    }
  }

  /** Clustering-quality dashboard for `keyCol` — one row per logical file
    * of the live generation: its stats-time key range, bytes, and a
    * status: `disjoint` (its range overlaps no other file's — selective
    * reads prune around it), `overlapping` (shares key territory with
    * another file — [[recluster]] would rewrite its group), `unstatted`
    * (no usable range: a pre-stats append or an all-null-key file —
    * recluster scans these to place them). Metadata-only, the layout twin
    * of [[cowStats]]: this is what an operator (or [[maybeRecluster]])
    * watches to decide when locality decayed enough to pay a rewrite.
    */
  def clusterStats(spark: SparkSession, path: String, keyCol: String): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(String, String, String, Long, String)]
      .toDF("file", "key_min", "key_max", "bytes", "status")
    val fs = fileSystem(spark, path)
    val live = liveDir(fs, path).getOrElse(return empty)
    val ranges = keyRanges(spark, fs, live, logicalNames(fs, live), keyCol)
    val ranged = ranges.collect { case (n, Some((lo, hi)), bytes) =>
      KeyInterval(n, lo, hi, bytes) }
    val overlapping: Set[String] = overlapGroups(ranged) match {
      case Some(gs) => gs.filter(_.size > 1).flatten.map(_.name).toSet
      case None => ranged.map(_.name).toSet // mixed types: report all
    }
    ranges.map { case (n, r, bytes) =>
      (n, r.map(_._1.toString).orNull, r.map(_._2.toString).orNull, bytes,
        if (r.isEmpty) "unstatted"
        else if (overlapping.contains(n)) "overlapping" else "disjoint")
    }.toDF("file", "key_min", "key_max", "bytes", "status").orderBy("file")
  }

  /** Incremental clustering maintenance: restore per-file range
    * disjointness for `keyCol` by sort-rewriting ONLY the overlap groups
    * — files whose stats-time key ranges transitively overlap, plus any
    * file without a usable range (scanned once, O(its bytes), to place
    * it) — and carrying every already-disjoint file by reference. Output
    * file boundaries are computed DRIVER-SIDE from the stats intervals
    * (one piece per group; byte-balanced sub-pieces cut at the group's
    * own endpoints past `maxFileBytes`) and rows route to them through
    * one engine-hashed shuffle, so rewritten files never span the gaps
    * between groups and disjointness against carried files is restored
    * exactly, not approximately — and no repartitionByRange sampling
    * pass is ever paid. Cost is O(overlapping bytes); a store
    * that decayed in one region pays for that region, never the corpus.
    * Fresh files are re-statted with the carried geometry and carried
    * files keep their stats rows (the commitRewrite carry), so skipping
    * and metadata-exact counts survive, and the usual manifest swing
    * gives the usual crash safety. Returns how many files were rewritten
    * (0 = layout already disjoint, no commit).
    *
    * Requires min/max stats on `keyCol` (run [[cluster]] or
    * [[collectStats]] first — without per-file ranges there is nothing
    * incremental to reason about); throws otherwise. Files whose keys
    * are all null stay carried (no range to place). `maxFileBytes` caps
    * rewritten file size: a group larger than it splits into
    * range-disjoint pieces.
    */
  def recluster(spark: SparkSession, path: String, keyCol: String,
                retain: Int = 2, maxFileBytes: Long = 1L << 28): Long = {
    require(maxFileBytes > 0, s"maxFileBytes must be positive, got $maxFileBytes")
    val fs = fileSystem(spark, path)
    val (live, fmt, names) = pinLive(spark, fs, path)
    if (names.isEmpty) return 0L // nothing to place (or no collection)
    val (statted, bloomed, bloomBits) = statsConfig(spark, fs, live)
    require(statted.contains(keyCol),
      s"docstore recluster: no min/max stats on '$keyCol' in $live — run " +
        "cluster() or collectStats() first; recluster is the incremental " +
        "maintenance of an existing clustered layout, not the initial sort")
    val ranges = keyRanges(spark, fs, live, names, keyCol)
    val schema = logicalReadSchema(spark, fs, live, fmt, names)
    if (fmt == "parquet" && schema.isEmpty)
      throw new IllegalStateException(
        s"docstore recluster: cannot derive a complete read schema for " +
          s"$live — its data files carry incompatible physical types " +
          "(drift beyond integral/float widening); full-collection reads " +
          "fail the same way. Resolve the drift before reclustering.")
    // place rangeless files by scanning exactly them (fresh appends, or
    // rows statted before keyCol joined the geometry): one column-pruned
    // pass over O(their bytes). All-null-key files stay rangeless and
    // are carried — no range can ever prune them, so rewriting them buys
    // nothing.
    val unknown = ranges.collect { case (n, None, _) => n }
    val scannedRanges: Map[String, (Any, Any)] =
      if (unknown.isEmpty) Map.empty
      else readFiles(spark, fmt, schema, unknown.map(resolvePath(live, _)))
        .withColumn("__f", input_file_name())
        .groupBy("__f")
        .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"))
        .collect().flatMap { r =>
          if (r.isNullAt(1) || r.isNullAt(2)) None
          else Some(baseName(r.getString(0)) -> (r.get(1), r.get(2)))
        }.toMap
    val ivs = ranges.flatMap {
      case (n, Some((lo, hi)), bytes) => Some(KeyInterval(n, lo, hi, bytes))
      case (n, None, bytes) =>
        scannedRanges.get(baseName(n)).map { case (lo, hi) =>
          KeyInterval(n, lo, hi, bytes) }
    }
    val groups = overlapGroups(ivs) match {
      case Some(gs) => gs.filter(_.size > 1)
      case None =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"docstore recluster: key ranges of $live mix numeric and string " +
            s"endpoints for '$keyCol' (stats written under drifting " +
            "schemas) — no total order exists, skipping. collectStats() " +
            "under the current schema restores comparability.")
        return 0L
    }
    if (groups.isEmpty) return 0L
    // OUTPUT FILE BOUNDARIES, driver-side and exact: one PIECE per output
    // file, each piece a key interval — a whole group for the common case,
    // byte-balanced sub-intervals cut at the group's own file endpoints
    // when the group exceeds `maxFileBytes`. Cuts come from the stats
    // intervals already in hand, so (unlike repartitionByRange) no
    // sampling pass runs and no boundary can drift into the gap between
    // groups. Pieces are globally ascending because group spans are
    // disjoint and the sweep emits them sorted.
    def maxHi(a: Any, b: Any): Any = if (statCompare(b, a).exists(_ > 0)) b else a
    val cuts: Seq[Any] = groups.flatMap { g =>
      val nOut = math.max(1L,
        (g.iterator.map(_.bytes).sum + maxFileBytes - 1) / maxFileBytes).toInt
      if (nOut == 1) Seq(g.map(_.hi).reduce(maxHi))
      else {
        val target = math.max(1L, g.iterator.map(_.bytes).sum / nOut)
        var acc = 0L
        var runHi: Any = null
        val out = scala.collection.mutable.ArrayBuffer.empty[Any]
        g.foreach { iv =>
          acc += iv.bytes
          runHi = if (runHi == null) iv.hi else maxHi(runHi, iv.hi)
          if (acc >= target) {
            // a contained file can leave the running max unchanged — an
            // equal cut would make an empty piece, so only strictly
            // increasing cuts close a piece
            if (out.isEmpty || statCompare(runHi, out.last).exists(_ > 0)) {
              out += runHi; acc = 0L
            }
          }
        }
        if (out.isEmpty || statCompare(runHi, out.last).exists(_ > 0))
          out += runHi
        out.toSeq
      }
    }
    // ROUTING: partition index must be a pure function of the piece, and
    // every piece must land in its OWN partition — `repartition(n, expr)`
    // hashes, so pick one literal token per piece whose engine hash
    // (evaluated through Catalyst's own Murmur3Hash, never re-implemented)
    // maps to a distinct partition. Spark 4's union of per-group writes
    // cannot do this job: UnionExec's partitioning-aware RDD merges
    // same-partitioning children back into shared partitions (measured:
    // a union of two repartition(1) groups writes ONE file spanning both).
    val toks = partitionTokens(cuts.size)
    val key = col(keyCol)
    // rows come only from group files, so every non-null key falls in some
    // piece; null keys (legal in a file whose min/max ignore them) route
    // to the first piece — placement of null-key rows is free, they can
    // never be range-pruned anyway
    val route = cuts.init.zipWithIndex.foldLeft(
        when(key.isNull, lit(toks.head))) { case (acc, (cut, j)) =>
        acc.when(key <= lit(cut), lit(toks(j)))
      }.otherwise(lit(toks.last))
    val docs = readFiles(spark, fmt, schema,
        groups.flatten.map(i => resolvePath(live, i.name)))
      .withColumn("__piece", route)
      .repartition(cuts.size, col("__piece"))
      .sortWithinPartitions(key)
      .drop("__piece")
    val rewritten = groups.flatten.map(_.name).toSet
    val carried = (names -- rewritten).toSeq.sorted
    commitRewrite(fs, spark, docs, path, retain, format = fmt,
      sourceNames = names, pinnedLive = live,
      carried = carried, carriedSchema = schema)
    // commitRewrite's carry branch re-stats fresh files only when
    // something was carried; a recluster that rewrote EVERYTHING (one
    // global overlap group) must re-stat the new generation itself or
    // the next recluster/prune would find no ranges — same pinned
    // geometry, O(rewritten bytes), which this case already paid anyway
    if (carried.isEmpty)
      collectStats(spark, path, statted, bloomed,
        if (bloomBits > 0) bloomBits else 1 << 16)
    rewritten.size.toLong
  }

  /** The clustering POLICY as one call ([[maybeCompact]]'s locality twin):
    * run [[recluster]] only when more than `maxOverlapping` files sit in
    * overlap groups — under the threshold this is a driver-side metadata
    * sweep and nothing else. Unstatted files don't count toward the
    * trigger (they may turn out disjoint once scanned; an all-null-key
    * file never stops being unstatted and must not wedge the policy
    * always-on). Returns whether a recluster ran.
    */
  def maybeRecluster(spark: SparkSession, path: String, keyCol: String,
                     maxOverlapping: Int, retain: Int = 2,
                     maxFileBytes: Long = 1L << 28): Boolean = {
    require(maxOverlapping >= 0,
      s"maxOverlapping must be >= 0, got $maxOverlapping")
    val fs = fileSystem(spark, path)
    val live = liveDir(fs, path).getOrElse(return false)
    val ranged = keyRanges(spark, fs, live, logicalNames(fs, live), keyCol)
      .collect { case (n, Some((lo, hi)), bytes) => KeyInterval(n, lo, hi, bytes) }
    val overlapping = overlapGroups(ranged) match {
      case Some(gs) => gs.filter(_.size > 1).map(_.size).sum
      case None => 0 // mixed types: recluster would refuse too
    }
    overlapping > maxOverlapping &&
      recluster(spark, path, keyCol, retain, maxFileBytes) > 0L
  }

  /** The small-files POLICY as one call: compact only when the live
    * generation's data-file count exceeds `maxDataFiles` (each append
    * adds files; unchecked, a high-frequency ingest turns every scan into
    * a thousand-file listing). Under the threshold this is a metadata
    * listing and nothing else. Over it, `smallBytes > 0` prefers the
    * INCREMENTAL remedy — [[compactSmall]] merges only the sub-
    * `smallBytes` append tail and carries the large files by reference,
    * O(tail bytes) — escalating to the full [[compact]] only when the
    * tail merge cannot bring the count back under the threshold (the
    * corpus is mostly large files). `smallBytes = 0` keeps the
    * compact-always behavior. With this, a high-frequency ingest
    * self-maintains at tail cost: the steady state is a few large files
    * plus a small tail, and the policy never pays a corpus rewrite for
    * it. Returns whether any compaction ran. Like any mutation it is
    * safe against concurrent appends (an in-flight append's files are
    * salvaged into the committed generation — see [[insertMany]]);
    * sequential micro-batch sinks
    * ([[graft.streaming.Streams.ingestToDocStore]]) never even hit that
    * path, their batches serialize by construction.
    */
  def maybeCompact(spark: SparkSession, path: String, maxDataFiles: Int,
                   targetFiles: Int = 1, retain: Int = 2,
                   smallBytes: Long = 0L,
                   escalateTargetFiles: Int = 0): Boolean = {
    require(maxDataFiles >= 1, s"maxDataFiles must be >= 1, got $maxDataFiles")
    // the ESCALATION (tail merge could not reach the budget; the corpus is
    // mostly mid-sized files) is a full rewrite — its output count is a
    // separate knob from the tail-merge target, because a caller that
    // merges tails into 1 file must NOT collapse a whole corpus into one
    // monolith that ignores every file-size budget ([[maintain]] passes
    // the byte-derived count here). 0 = legacy behavior (same as
    // targetFiles).
    val escalate = if (escalateTargetFiles >= 1) escalateTargetFiles else targetFiles
    val fs = fileSystem(spark, path)
    val live = liveDir(fs, path).getOrElse(return false)
    // logical count: carried links cost the planner exactly like physical
    // files (and pin their home generations) — compacting flattens both
    if (logicalNames(fs, live).size <= maxDataFiles) false
    else if (smallBytes > 0L) {
      compactSmall(spark, path, smallBytes, targetFiles, retain)
      if (logicalNames(fs, liveDir(fs, path).get).size > maxDataFiles)
        compact(spark, path, escalate, retain)
      true
    }
    else { compact(spark, path, escalate, retain); true }
  }

  /** One [[maintain]] pass's outcome: what each leg of the maintenance
    * triad actually did (all-zero/false = the store was already healthy
    * and nothing was committed).
    */
  final case class MaintenanceReport(compacted: Boolean,
                                     reclustered: Boolean, rehomed: Long)

  /** The WHOLE maintenance policy as ONE call — the triad an indefinitely
    * mutating corpus needs, each leg incremental and each a no-op while
    * its threshold holds:
    *
    *  1. file count ([[maybeCompact]] with the compactSmall preference):
    *     merge the small-file append tail when the logical count exceeds
    *     `maxDataFiles` — O(tail bytes);
    *  2. clustering ([[maybeRecluster]], when `keyCol` is given): restore
    *     per-file key-range disjointness when more than `maxOverlapping`
    *     files overlap — O(overlapping bytes);
    *  3. COW garbage ([[vacuum]]): re-home the live files of
    *     mostly-dead link homes — O(their live bytes).
    *
    * Order is deliberate: the tail merge first (fewer, larger files for
    * the overlap sweep), recluster second (its rewrite supersedes home
    * bytes), vacuum last (reclaims what both just orphaned). A healthy
    * store pays three metadata listings and commits nothing, so this is
    * safe to run after every ingest window — the operator cron collapses
    * to one idempotent call (`docstore_maintain` on the SQL surface).
    */
  def maintain(spark: SparkSession, path: String,
               keyCol: Option[String] = None,
               maxDataFiles: Int = 64,
               smallBytes: Long = 1L << 24,
               maxOverlapping: Int = 0,
               minLiveFraction: Double = 0.5,
               retain: Int = 2,
               maxFileBytes: Long = 1L << 28): MaintenanceReport = {
    val fs = fileSystem(spark, path)
    val entryLive = liveDir(fs, path).getOrElse(
      return MaintenanceReport(compacted = false, reclustered = false, 0L))
    // pin the stats GEOMETRY now: if the compact leg escalates to a full
    // rewrite (stats don't carry across a no-links commit), maintain
    // re-stats with the same geometry instead of failing its own contract
    val (entryCols, entryBlooms, entryBits) = statsConfig(spark, fs, entryLive)
    // a misconfigured key (typo, or a store never cluster()ed) must fail
    // LOUDLY: maybeRecluster's trigger silently counts zero overlaps when
    // nothing is statted, and a cron that forever reports "healthy" while
    // clustering decays is exactly the failure maintain exists to
    // prevent. Same require as recluster itself.
    keyCol.foreach(k =>
      require(entryCols.contains(k),
        s"docstore maintain: no min/max stats on '$k' in $path — run " +
          "cluster() or collectStats() first"))
    // the FILE-COUNT budget must respect the FILE-SIZE budget: a corpus
    // of B bytes reclusters into ~B/maxFileBytes disjoint files, so a
    // maxDataFiles below that is structurally unreachable — compacting
    // toward it would unsort the layout, recluster would re-split it,
    // and the cron would oscillate between two O(corpus) rewrites
    // forever. The effective budget treats the structural floor as
    // healthy; only counts above it are tail debris worth merging.
    def countBudget(): (Int, Long) = {
      val live = liveDir(fs, path).get
      val bytes = logicalNames(fs, live).toSeq.map { n =>
        val p = new Path(resolvePath(live, n))
        if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
      }.sum
      (math.max(maxDataFiles.toLong,
        (bytes + maxFileBytes - 1) / maxFileBytes).toInt, bytes)
    }
    // targetFiles = 1 for the tail merge: compactSmall refuses when
    // merging would not shrink the tail below targetFiles, so a larger
    // target here would skip small tails and escalate to the full
    // rewrite maintain promises to avoid. The ESCALATION target is sized
    // from the byte budget instead: when the tail merge cannot reach the
    // count budget (mid-sized files), the full rewrite must still honor
    // maxFileBytes — one monolithic unclustered file would violate the
    // structural floor this very function computes.
    def compactOnce(): Boolean = {
      val (effectiveMax, corpusBytes) = countBudget()
      val escalateTarget = math.max(1L,
        (corpusBytes + maxFileBytes - 1) / maxFileBytes).toInt
      maybeCompact(spark, path, effectiveMax,
        targetFiles = 1, retain = retain, smallBytes = smallBytes,
        escalateTargetFiles = escalateTarget)
    }
    // the budget is re-measured after every compaction: a rewrite sheds
    // per-file overhead (fewer footers), so files sized from the old bytes
    // can sit one over the floor of the bytes they now hold — left alone,
    // the NEXT pass would pay another O(corpus) rewrite for that one file.
    // Each compaction strictly lowers the logical file count (the tail
    // merge, or an escalation to at most the budget), so the loop ends.
    var compacted = false
    while (compactOnce()) compacted = true
    // self-heal: an escalated full compact commits a generation with no
    // stats sidecar; it already paid O(corpus), so one stats pass over
    // what it wrote keeps the recluster/vacuum legs (and every later
    // prune) working with the pinned-at-entry geometry
    keyCol.foreach { k =>
      if (!statsConfig(spark, fs, liveDir(fs, path).get)._1.contains(k))
        collectStats(spark, path, entryCols, entryBlooms,
          if (entryBits > 0) entryBits else 1 << 16)
    }
    val reclustered = keyCol.exists(k =>
      maybeRecluster(spark, path, k, maxOverlapping, retain, maxFileBytes))
    val rehomed = vacuum(spark, path, minLiveFraction, retain)
    MaintenanceReport(compacted, reclustered, rehomed)
  }

  /** Sort-rewrite the collection clustered by `key` (e.g. a column, or
    * [[graft.ops.Zorder.zkey]] for multi-column locality) into
    * `targetFiles` files, then record per-file min/max stats for
    * `statsCols` — the write-side half of data skipping; [[find]] is the
    * read-side half. Same manifest-swing crash safety as any mutation.
    * Returns the document count.
    */
  def cluster(spark: SparkSession, path: String, key: Column, targetFiles: Int,
              statsCols: Seq[String], retain: Int = 2,
              bloomCols: Seq[String] = Seq.empty,
              bloomBits: Int = 1 << 16): Long = {
    val fs = fileSystem(spark, path)
    val (live, fmt, names) = pinLive(spark, fs, path)
    val docs = readPinned(spark, fs, live, fmt, names)
    // no Dataset.observe here: repartitionByRange runs an extra sampling
    // pass over the child, which would double the observed count
    val n = docs.count()
    commitRewrite(fs, spark,
      graft.ops.Zorder.clusterByKey(docs, key, targetFiles), path, retain,
      format = fmt, sourceNames = names, pinnedLive = live)
    collectStats(spark, path, statsCols, bloomCols, bloomBits)
    n
  }

  /** Compute per-file stats over the LIVE generation and write them as a
    * `_STATS` JSON dir inside it (underscore-prefixed, so data scans never
    * see it): min/max for `cols`, and optionally per-file Bloom filters
    * for `bloomCols` — the point-lookup complement to min/max. Min/max
    * prunes range predicates but is blind to equality probes on
    * high-cardinality keys whose per-file ranges all overlap (round-robin
    * ingest order); a Bloom filter answers "is this exact value possibly
    * in this file" regardless of layout. One scan of the generation; the
    * stats table itself is one row per file — planner-sized, not
    * data-sized (each Bloom is <= bloomBits/8 bytes; size bloomBits to
    * ~10x the expected per-file distinct count for ~1% false positives,
    * false positives cost a read and never correctness).
    */
  def collectStats(spark: SparkSession, path: String, cols: Seq[String],
                   bloomCols: Seq[String] = Seq.empty,
                   bloomBits: Int = 1 << 16): Unit =
    collectStatsSeamed(spark, path, cols, bloomCols, bloomBits, () => ())

  /** [[collectStats]] with a test seam between the pinned read and the
    * stats-dir rewrite — the window a concurrent append can occupy.
    * Production behavior (no-op seam) IS [[collectStats]].
    */
  private[sources] def collectStatsSeamed(spark: SparkSession, path: String,
                                          cols: Seq[String], bloomCols: Seq[String],
                                          bloomBits: Int, afterPin: () => Unit): Unit = {
    require(bloomCols.isEmpty || bloomBits > 0,
      s"bloomBits must be positive when bloomCols are requested, got $bloomBits")
    val fs = fileSystem(spark, path)
    val live = liveDir(fs, path).getOrElse(throw new IllegalArgumentException(
      s"docstore collectStats: no collection at $path"))
    val fmt = genFormat(fs, live)
    // PIN the file list (logical: physical + carried — carried files need
    // stats rows too, keyed by basename): the post-write reconciliation
    // below needs to know exactly which files this pass statted and schema'd
    val pinned = logicalNames(fs, live)
    // full inference/footer read on purpose: collectStats REFRESHES the
    // stored schema from the actual data, so it must not trust it
    val docs0 =
      if (pinned.isEmpty) readFiles(spark, fmt, None, Seq(live))
      else readFiles(spark, fmt, None, pinned.toSeq.sorted.map(resolvePath(live, _)))
    afterPin()
    val present = cols.filter(docs0.columns.contains)
    val bloomPresent = bloomCols.filter(docs0.columns.contains)
    if (present.isEmpty && bloomPresent.isEmpty) return
    val docs = docs0.withColumn("__f", input_file_name())
    val stats = statsFrame(docs, present, bloomPresent, bloomBits)
      .withColumn("file", element_at(split(col("__f"), "/"), -1))
      .drop("__f")
    val statsPath = new Path(live, StatsDir)
    fs.delete(statsPath, true)
    stats.coalesce(1).write.mode(SaveMode.Overwrite).json(statsPath.toString)
    // persist the stats-time schema alongside: a pruned read must resolve
    // every column of the full collection, not just what the surviving
    // files happen to infer (underscore name -> invisible to data scans)
    val out = fs.create(new Path(statsPath, "_schema.json"), true)
    try out.write(docs0.schema.json.getBytes(UTF_8)) finally out.close()
    // RECONCILE concurrent appends: files that landed after the pin are
    // not covered by the base schema just written (and this rewrite wiped
    // any sidecar they wrote) — re-cover and re-stat exactly those. The
    // appender's own re-cover check handles the mirror ordering (append
    // publishing after this listing sees the new base and covers itself).
    val extras = (dataFileNames(fs, live) -- pinned).toSeq.sorted
      .filter(n => fs.getFileStatus(new Path(live, n)).getLen > 0) // rowless: no schema
    if (extras.nonEmpty) {
      val paths = extras.map(n => s"$live/$n")
      val extrasSchema = readFiles(spark, fmt, None, paths).schema
      writeSchemaSidecar(fs, statsPath, extrasSchema)
      appendStats(spark, fs, live, fmt, paths, Some(extrasSchema))
    }
  }

  /** One row per `__f`: min/max for `present`, Bloom word lists for
    * `bloomPresent` (`bw_<col>` = sorted array of {i, w} non-zero 64-bit
    * words), plus the filter geometry (`bloom_bits`). ONE aggregate pass
    * — one exchange — for everything: counts, min/max, and the Bloom
    * words via [[graft.functions.BloomWordsAgg]] (the per-row bit
    * POSITIONS stay ordinary Catalyst expressions, so null handling and
    * string casts are bit-identical to the historical
    * explode -> bit_or -> collect_list -> pivot -> join shape this
    * replaces, which cost three grouping exchanges plus a join per
    * stats pass).
    */
  private def statsFrame(docs: DataFrame, present: Seq[String],
                         bloomPresent: Seq[String], bloomBits: Int): DataFrame = {
    // per-file row counts ride every stats pass: they make count(*) a
    // metadata read ([[countFast]]) and cost nothing extra in the same
    // aggregate
    val aggs: Seq[Column] =
      (count(lit(1)).as("rows") +:
        present.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))) ++
      bloomPresent.map(c =>
        graft.functions.BloomWordsAgg.bloom_words(
          array((0 until BloomK).map(s => bloomPosCol(col(c), s, bloomBits)): _*),
          bloomBits).as(s"bw_$c"))
    val out = docs.groupBy("__f").agg(aggs.head, aggs.tail: _*)
    if (bloomPresent.nonEmpty) out.withColumn("bloom_bits", lit(bloomBits.toLong))
    else out
  }

  private val BloomK = 4

  /** Bloom position of hash `seed` over a value, md5-based so the
    * driver-side probe replicates it byte-for-byte without engine
    * internals (the smp1 md5 discipline). 15 hex chars = 60 bits, safely
    * inside Long.
    */
  private def bloomPosCol(c: Column, seed: Int, bits: Int): Column =
    pmod(conv(substring(md5(concat_ws(":", lit(seed.toString), c.cast("string"))), 1, 15),
      16, 10).cast("long"), lit(bits.toLong)).cast("int")

  /** Driver twin of [[bloomPosCol]]; None for value types whose
    * toString might not match Spark's string cast (doubles etc.) — the
    * probe then keeps the file, which is always sound.
    */
  private def bloomPosDriver(v: Any, seed: Int, bits: Long): Option[Int] = v match {
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte | _: String =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:${v.toString}".getBytes(UTF_8))
      val hex = md.take(8).map(b => f"$b%02x").mkString.substring(0, 15)
      Some((java.lang.Long.parseLong(hex, 16) % bits).toInt)
    case _ => None
  }

  // ---- data skipping ----------------------------------------------------

  /** Order two stats-sidecar values: numbers by value (BigDecimal — the
    * sidecar round-trips longs and doubles through JSON), strings in
    * UTF-8 binary order, matching how Spark computed the min/max (Java's
    * UTF-16 compareTo ranks supplementary characters low and would
    * wrongly prune files whose extremes contain them). None = not
    * comparable; callers treat that as "unknown", which always errs
    * toward reading/rewriting more, never less.
    */
  private def statCompare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      scala.util.Try(new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString))).toOption
    case (x: String, y: String) => Some(graft.ops.Ranks.sparkCompare(x, y))
    case _ => None
  }

  private def dataFileNames(fs: FileSystem, live: String): Set[String] =
    Io.visibleFiles(fs, new Path(live)).iterator.map(_.getPath.getName).toSet

  /** `spark.read.json` over a stats dir ONLY when it has visible part
    * files. A schema-only dir (just `_schema.json`, written by every
    * parquet commit) would fail inference — and in Spark 4 the reader
    * resolves LAZILY, so even a caught AnalysisException first emits a
    * failed-query event that any in-flight Observation's listener trips
    * over (ERROR-level log noise on a healthy path). Returning None here
    * means the doomed read is never planned at all.
    */
  private def readStatsJson(spark: SparkSession, fs: FileSystem,
                            statsPath: Path): Option[DataFrame] =
    if (statsPartFiles(fs, statsPath).isEmpty) None
    else Some(spark.read.json(statsPath.toString))

  /** Visible part files of a stats dir — the JSON-lines rows;
    * `_schema.json` and staging debris are hidden-prefixed and excluded.
    */
  private def statsPartFiles(fs: FileSystem, statsPath: Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(statsPath)) Array.empty else Io.visibleFiles(fs, statsPath)

  /** Size gate for driver-side sidecar handling (the Iceberg manifest
    * discipline: plan locally below the threshold, distributed above).
    * Stats rows are one per data file, so crossing 64 MB means a
    * six-figure file count — exactly where a distributed read starts to
    * pay for itself; below it, a Spark JSON read of a KB-sized sidecar
    * costs schema-inference + read job round-trips per call, which is
    * the dominant fixed cost of a steady-state mutation/poll at local
    * scale.
    */
  private def StatsLocalMaxBytes: Long =
    java.lang.Long.getLong("graft.docstore.statsLocalMaxBytes", 64L << 20)

  /** The stats dir's raw JSON lines, driver-side — None when the dir has
    * no visible part files (nothing to read) or the sidecar exceeds the
    * size gate (callers fall back to the Spark reader; so does
    * [[readStatsJson]]'s own None).
    */
  private def statsLinesLocal(fs: FileSystem, statsPath: Path): Option[Seq[String]] = {
    val parts = statsPartFiles(fs, statsPath)
    if (parts.isEmpty) None else linesUnderGate(fs, parts)
  }

  /** The raw JSON lines of listed stats part files, driver-side — None
    * when together they exceed the size gate.
    */
  private def linesUnderGate(fs: FileSystem, parts: Array[org.apache.hadoop.fs.FileStatus])
      : Option[Seq[String]] =
    if (parts.iterator.map(_.getLen).sum > StatsLocalMaxBytes) None
    else Some(parts.sortBy(_.getPath.getName).toSeq.flatMap { st =>
      Io.readSmallFile(fs, st.getPath).split("\n", -1).toSeq.map(_.trim).filter(_.nonEmpty)
    })

  /** A fresh, collision-free name for the `i`-th stats part file published
    * into `statsPath` (part names are never reused, so concurrent
    * publishers cannot overwrite each other's rows).
    */
  private def statsPart(statsPath: Path, i: Int): Path =
    new Path(statsPath, s"append-${java.util.UUID.randomUUID()}-$i.json")

  /** One source of a [[carryStatsLines]] pass: the lines of the stats dir
    * `stats` whose `file` key is in `files` (`keep`), or is not (`!keep`).
    */
  private final case class StatsCarry(stats: Path, files: Set[String], keep: Boolean)

  /** THE stats line carry: write into `dst` — the stats dir of a private,
    * not yet committed generation — the lines each carry selects,
    * byte-verbatim. A carried data file's bytes are unchanged, so its row
    * (keyed by basename) stays true without a re-stat pass; a carry whose
    * source IS `dst` has its part files replaced.
    *
    * Driver-side when every source is under the [[StatsLocalMaxBytes]]
    * gate (zero Spark jobs, the steady-state case); above it a DISTRIBUTED
    * text filter with multi-file output — the 100 TB sidecar shape,
    * hundreds of MB to GB, is never re-parsed, re-serialized or folded into
    * one task. Both legs select the same lines: one without a usable
    * `file` key (unparseable, or the field missing) is dropped by a keep
    * carry and kept by a drop carry (`get_json_object` yields null there,
    * and a null never equals a join key).
    *
    * With `covered`, each keep carry's lines must name every file of its
    * set; otherwise nothing is written and the result is false. Sources
    * without part files contribute nothing, and when no source has any
    * there is nothing to carry: true.
    */
  private def carryStatsLines(spark: SparkSession, fs: FileSystem, dst: Path,
                              carries: Seq[StatsCarry], covered: Boolean = false): Boolean = {
    val parts = carries.map(c => statsPartFiles(fs, c.stats))
    if (parts.forall(_.isEmpty)) return true
    // replaced part files go only once their successors are decided
    def dropReplaced(): Unit = carries.zip(parts).foreach { case (c, ps) =>
      if (c.stats == dst) ps.foreach(st => fs.delete(st.getPath, false))
    }
    val local = parts.map(ps => if (ps.isEmpty) Some(Nil) else linesUnderGate(fs, ps))
    if (local.forall(_.isDefined)) {
      def fileOf(ln: String): Option[String] =
        scala.util.Try {
          val n = statsMapper.readTree(ln)
          if (n != null && n.hasNonNull("file")) Some(n.get("file").asText) else None
        }.toOption.flatten
      val selected = carries.zip(local.flatten).map { case (c, lines) =>
        c -> lines.filter(ln => fileOf(ln).exists(c.files.contains) == c.keep)
      }
      if (covered && selected.exists { case (c, lines) =>
            c.keep && lines.flatMap(fileOf).toSet != c.files }) return false
      dropReplaced()
      val all = selected.flatMap(_._2)
      if (all.nonEmpty) {
        // fs.create throws on failure, like the publish rename below:
        // carried files must never go silently unstatted
        val out = fs.create(statsPart(dst, 0), true)
        try out.write((all.mkString("\n") + "\n").getBytes(UTF_8)) finally out.close()
      }
      true
    } else {
      import org.apache.spark.sql.functions.{broadcast, get_json_object}
      import spark.implicits._
      val fileCol = get_json_object(col("value"), "$.file")
      val frames = carries.zip(parts).map { case (c, ps) =>
        Option.when(ps.nonEmpty)(spark.read.text(c.stats.toString)
          .join(broadcast(c.files.toSeq.toDF("__f")), fileCol === col("__f"),
            if (c.keep) "left_semi" else "left_anti"))
      }
      // persisted: the coverage count and the write would otherwise each
      // re-read the sidecar — at the target scale that doubles the I/O
      val counted = carries.zip(frames).collect { case (c, f) if covered && c.keep =>
        (c, f.map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      }
      try {
        // a keep carry's lines name only files of its set, so a distinct
        // count equal to the set's size IS coverage
        if (counted.exists { case (c, f) =>
              f.fold(0L)(_.select(fileCol.as("f")).distinct().count()) != c.files.size.toLong })
          return false
        // staged beside `dst` inside the private generation: a crash
        // anywhere drops the staging with the rest of the generation
        val stage = new Path(dst.getParent, s"_stats-stage-${java.util.UUID.randomUUID()}")
        try {
          frames.flatten.map(_.select("value")).reduce(_ union _)
            .write.mode(SaveMode.Overwrite).text(stage.toString)
          dropReplaced()
          fs.mkdirs(dst)
          Io.publishStaged(fs, Io.visibleFiles(fs, stage).toSeq.filter(_.getLen > 0)
            .map(_.getPath))((_, i) => statsPart(dst, i))
        } finally fs.delete(stage, true)
        true
      } finally counted.foreach(_._2.foreach(_.unpersist(false)))
    }
  }

  private lazy val statsMapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** One stats JSON line -> a schema-carrying Row shaped like what
    * `spark.read.json(...).collect()` yields for the same content:
    * strings as String, integral numbers as Long, other numbers as
    * Double, objects as nested Rows, arrays as Seq. Schemas are per-row
    * (the Spark reader unions them and null-fills instead), which the
    * name-based consumers treat identically: an absent field and a null
    * field both mean "unknown — cannot exclude".
    */
  private def parseStatsLine(line: String): org.apache.spark.sql.Row = {
    val n = statsMapper.readTree(line)
    require(n != null && n.isObject, s"stats row is not a JSON object: $line")
    jsonObjectToRow(n)
  }

  private def jsonObjectToRow(obj: com.fasterxml.jackson.databind.JsonNode)
      : org.apache.spark.sql.Row = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val fields = obj.properties().iterator().asScala.toArray
    val parsed = fields.map(e => (e.getKey, jsonValue(e.getValue)))
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      parsed.map(_._2._1),
      StructType(parsed.map { case (k, (_, t)) => StructField(k, t) }))
  }

  private def jsonValue(n: com.fasterxml.jackson.databind.JsonNode)
      : (Any, org.apache.spark.sql.types.DataType) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    if (n == null || n.isNull) (null, NullType)
    else if (n.isTextual) (n.textValue, StringType)
    else if (n.isIntegralNumber && n.canConvertToLong)
      (java.lang.Long.valueOf(n.longValue), LongType)
    else if (n.isNumber) (java.lang.Double.valueOf(n.doubleValue), DoubleType)
    else if (n.isBoolean) (java.lang.Boolean.valueOf(n.booleanValue), BooleanType)
    else if (n.isArray) {
      val elems = n.elements().asScala.toSeq.map(jsonValue)
      val elemType = elems.iterator.map(_._2).find(_ != NullType).getOrElse(NullType)
      (elems.map(_._1), ArrayType(elemType))
    } else {
      val row = jsonObjectToRow(n)
      (row, row.schema)
    }
  }

  /** Collected stats rows: driver-parsed under the size gate (zero Spark
    * jobs — the normal case for every mutation commit, prune, and
    * countFast), the Spark JSON reader above it. None when there are no
    * visible part files. A driver parse failure falls back to the Spark
    * reader, so corrupt-sidecar semantics (callers' AnalysisException
    * handling, fsck's bad-stats-sidecar) are unchanged.
    */
  private def statsRows(spark: SparkSession, fs: FileSystem,
                        statsPath: Path): Option[Array[org.apache.spark.sql.Row]] =
    statsLinesLocal(fs, statsPath) match {
      case Some(lines) =>
        scala.util.Try(lines.toArray.map(parseStatsLine)).toOption
          .orElse(readStatsJson(spark, fs, statsPath).map(_.collect()))
      case None => readStatsJson(spark, fs, statsPath).map(_.collect())
    }

  /** What a generation's `_STATS` sidecar covers: (min/max columns, Bloom
    * columns, Bloom bits). All empty/zero when there is no (readable)
    * sidecar.
    */
  private def statsConfig(spark: SparkSession, fs: FileSystem,
                          live: String): (Seq[String], Seq[String], Int) =
    try statsRows(spark, fs, new Path(live, StatsDir)) match {
      case None => (Seq.empty, Seq.empty, 0)
      case Some(rows) =>
        val names = rows.iterator.flatMap(_.schema.fieldNames).toSeq.distinct
        val mm = names.collect { case n if n.startsWith("min_") => n.stripPrefix("min_") }
        val bl = names.collect { case n if n.startsWith("bw_") => n.stripPrefix("bw_") }
        val bits =
          if (bl.nonEmpty && names.contains("bloom_bits"))
            rows.iterator.flatMap { r =>
              if (r.schema.fieldNames.contains("bloom_bits") &&
                  !r.isNullAt(r.fieldIndex("bloom_bits")))
                scala.util.Try(r.getAs[Number]("bloom_bits").intValue).toOption
              else None
            }.nextOption().getOrElse(0)
          else 0
        (mm, if (bits > 0) bl else Seq.empty, bits)
    }
    catch { case _: org.apache.spark.sql.AnalysisException => (Seq.empty, Seq.empty, 0) }

  /** Stat ONLY `files` (an append's new files) and add the rows to the
    * generation's stats. Best-effort: unreadable stats or a batch sharing
    * no stats columns leave the files unstatted — pruning then reads
    * them, which is always sound.
    */
  private def appendStats(spark: SparkSession, fs: FileSystem, live: String,
                          fmt: String, files: Seq[String],
                          schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    // reuse the original pass's column set and Bloom geometry so probe
    // positions keep matching the stored words
    val (cols, bloomCols, bloomBits) = statsConfig(spark, fs, live)
    if (cols.isEmpty && bloomCols.isEmpty) return
    appendStatsWith(spark, fs, live, fmt, files, cols, bloomCols, bloomBits, schema)
  }

  /** [[appendStats]] with the geometry EXPLICIT instead of read from the
    * destination's existing rows — the staged-generation case
    * ([[commitRewrite]]'s `stagedStats`), where the stats dir starts
    * empty and the geometry comes from the snapshot being rewritten.
    */
  private def appendStatsWith(spark: SparkSession, fs: FileSystem, live: String,
                              fmt: String, files: Seq[String],
                              cols: Seq[String], bloomCols: Seq[String],
                              bloomBits: Int,
                              schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val statsPath = new Path(live, StatsDir)
    // a caller that JUST WROTE the files can hand over their schema —
    // parquet round-trips types exactly, so the stats read then skips the
    // footer-merge pass (one fewer job per commit). json keeps the
    // inference read: its writer/reader conventions (int -> long,
    // timestamp -> string) make the writer frame's schema the wrong
    // description of what a later inference-based read would serve, and
    // stats must describe the served values.
    val docs0 = readFiles(spark, fmt,
      if (fmt == "parquet") schema else None, files)
    val present = cols.filter(docs0.columns.contains)
    val bloomPresent = bloomCols.filter(docs0.columns.contains)
    if (present.nonEmpty || bloomPresent.nonEmpty) {
      // stage-and-rename, like the data files: two concurrent appends
      // writing Spark jobs into the SAME output dir would fight over its
      // shared `_temporary` structure (one job's commit deletes it under
      // the other), so each writer gets a private staging dir and renames
      // its part files in under collision-free names
      val stage = new Path(live, s"_stats-stage-${java.util.UUID.randomUUID()}")
      try {
        statsFrame(docs0.withColumn("__f", input_file_name()),
            present, bloomPresent, bloomBits)
          .withColumn("file", element_at(split(col("__f"), "/"), -1))
          .drop("__f")
          .coalesce(1).write.mode(SaveMode.Overwrite).json(stage.toString)
        Io.publishStaged(fs, Io.visibleFiles(fs, stage).toSeq.map(_.getPath))(
          (_, i) => statsPart(statsPath, i))
      } finally fs.delete(stage, true)
    }
    // Schema widening is NOT done here: [[insertMany]] writes the batch's
    // `_schema-append-<uuid>.json` sidecar BEFORE renaming the data files
    // in (additive, so concurrent appends cannot lose each other's
    // columns; pre-rename, so a crash cannot leave published files the
    // stored schema does not cover). collectStats rewrites the base
    // schema from a full read and clears the sidecars.
  }

  /** The generation's stats-time schema: the base `_schema.json` merged
    * with every `_schema-append-*.json` sidecar (one per concurrent-safe
    * append that widened it). None when there is no base (pre-schema
    * stats) or any piece is unreadable/unmergeable — callers then skip
    * pruning, which is always sound.
    */
  private def storedSchema(fs: FileSystem, statsPath: Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    def read(p: Path): Option[org.apache.spark.sql.types.StructType] = {
      val txt = Io.readSmallFile(fs, p)
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption
    }
    val base = new Path(statsPath, "_schema.json")
    if (!fs.exists(base)) return None
    val sidecars = fs.listStatus(statsPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("_schema-append-"))
      .map(_.getPath)
    (Option(base) ++ sidecars).foldLeft(
        Option(new org.apache.spark.sql.types.StructType())) {
      case (accOpt, p) =>
        for {
          acc <- accOpt
          s <- read(p)
          merged <- scala.util.Try(
            org.apache.spark.sql.GraftShims.mergeSchemas(acc, s)).toOption
        } yield merged
    }
  }

  /** A COMPLETE read schema for a COW commit that reads only a subset of
    * the generation's files (compactSmall's tail, vacuum's re-homed set):
    * the stored stats-time schema when present; else a strict footer
    * merge over ALL logical files; else a WIDENED union — per-field
    * tightest common type, the [[diffGenerations]] coercion rule — which
    * the parquet reader serves through type widening (an int32 file reads
    * correctly under a bigint schema; Spark 4 upcasts at scan time). The
    * widened path is what makes a generation with integral-width drift
    * (a Scala int batch appended to a JSON-inferred bigint collection)
    * compactable without a full rewrite — and the committed widened
    * schema HEALS the drift for every later read. None only when fields
    * are genuinely incompatible, in which case full-collection reads fail
    * too and callers must fail loudly rather than commit a
    * subset-inferred schema next to carried links.
    */
  private def logicalReadSchema(spark: SparkSession, fs: FileSystem,
                                live: String, fmt: String, names: Set[String])
      : Option[org.apache.spark.sql.types.StructType] =
    storedSchema(fs, new Path(live, StatsDir)).orElse {
      if (fmt != "parquet") None
      else {
        val paths = names.toSeq.sorted.map(resolvePath(live, _))
        scala.util.Try(readFiles(spark, fmt, None, paths).schema).toOption
          .orElse(scala.util.Try(
            paths.map(p => spark.read.parquet(p).schema)
              .reduceLeft(widenStructs)).toOption)
      }
    }

  /** Field-union of two schemas with TYPE WIDENING where they disagree
    * (Catalyst's tightest-common-type rule); throws when no common type
    * exists — callers treat that as "cannot merge". Unlike the strict
    * [[org.apache.spark.sql.GraftShims.mergeSchemas]], int/long or
    * float/double drift widens instead of failing.
    */
  private def widenStructs(a: org.apache.spark.sql.types.StructType,
                           b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val order = (a.fieldNames ++ b.fieldNames).distinct
    StructType(order.map { n =>
      (a.find(_.name == n), b.find(_.name == n)) match {
        case (Some(x), Some(y)) if x.dataType == y.dataType =>
          x.copy(nullable = x.nullable || y.nullable)
        case (Some(x), Some(y)) =>
          val t = org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findTightestCommonType(x.dataType, y.dataType)
            .getOrElse(throw new IllegalArgumentException(
              s"docstore: column $n has incompatible physical types " +
                s"${x.dataType} vs ${y.dataType}"))
          StructField(n, t, nullable = true)
        case (Some(x), None) => x.copy(nullable = true)
        case (None, Some(y)) => y.copy(nullable = true)
        case (None, None) => throw new IllegalStateException(s"unreachable: $n")
      }
    })
  }

  /** Surviving LOGICAL file names of the live generation (resolve with
    * [[resolvePath]]) plus the schema to read them with, or None when
    * pruning can't apply (no stats/schema, no recognizable conjunct, or an
    * unmergeable appended-file schema). A file is dropped ONLY when some
    * conjunct is provably false over its [min, max] — missing stats
    * rows/values and incomparable types keep the file, so the check errs
    * to reading more, never less. The schema is the stats-time union
    * merged with whatever files were appended since, so a pruned read
    * resolves every column the full read would. `pinned` (a [[pinLive]]
    * listing) makes the candidate set exactly the mutation's snapshot —
    * the COW path needs kept + carried to partition the SAME set.
    */
  private def prunedFiles(spark: SparkSession, fs: FileSystem, live: String,
                          fmt: String, filter: Column,
                          pinned: Option[Set[String]] = None)
      : Option[(Seq[String], org.apache.spark.sql.types.StructType)] = {
    val statsPath = new Path(live, StatsDir)
    if (!fs.exists(statsPath)) return None
    // base schema + every append sidecar, merged; absent/unreadable ->
    // don't prune (pre-schema stats, or drift)
    val stored = storedSchema(fs, statsPath).getOrElse(return None)
    // DNF: a file survives when ANY disjunct's conjuncts all survive —
    // so `id = 5 OR id = 999` prunes to the union of the two matching
    // file sets instead of falling back to the full scan
    val dnf = org.apache.spark.sql.GraftShims.predicateDnf(filter)
    if (dnf.isEmpty) return None
    val stats =
      try statsRows(spark, fs, statsPath).getOrElse(return None)
      catch { case _: org.apache.spark.sql.AnalysisException => return None }
    if (stats.isEmpty) return None
    val byName = stats.flatMap { r =>
      scala.util.Try(r.getAs[String]("file")).toOption.map(_ -> r)
    }.toMap
    def field(r: org.apache.spark.sql.Row, name: String): Option[Any] =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        Some(r.get(r.fieldIndex(name)))
      else None
    def cmp(a: Any, b: Any): Option[Int] = statCompare(a, b)
    def survives(r: org.apache.spark.sql.Row, c: String, op: String, v: Any): Boolean =
      (field(r, s"min_$c"), field(r, s"max_$c")) match {
        case (Some(mi), Some(ma)) =>
          def inRange(x: Any): Boolean =
            (for { a <- cmp(mi, x); b <- cmp(ma, x) } yield a <= 0 && b >= 0)
              .getOrElse(true)
          (op match {
            case "<"  => cmp(mi, v).map(_ < 0)
            case "<=" => cmp(mi, v).map(_ <= 0)
            case ">"  => cmp(ma, v).map(_ > 0)
            case ">=" => cmp(ma, v).map(_ >= 0)
            case "="  => Some(inRange(v))
            case "in" => v match {
              // the file survives if ANY listed value could be present
              case vs: Seq[_] => Some(vs.exists(inRange))
              case _ => Some(true)
            }
            case _    => Some(true)
          }).getOrElse(true)
        case _ => true // column unstatted in this file: cannot exclude
      }
    // Bloom probe: for equality/IN conjuncts on bloom-statted columns, a
    // value is provably absent when ANY of its k bits is unset. Missing
    // bloom fields, unsupported value types, or a zero geometry keep the
    // file — like min/max, the check errs to reading more, never less.
    //
    // TYPE GATE (soundness): the stored bits hash Spark's string-cast of
    // the COLUMN value; the probe hashes the predicate LITERAL's
    // toString. Those agree only when the stats-time column type and the
    // literal type render integers-as-integers / strings-as-strings —
    // a double column probed with an integer literal matches rows under
    // Spark's numeric coercion ("5" vs stored "5.0") but would miss every
    // bloom bit and falsely prune the owning file. So the probe applies
    // ONLY to (integral column, integral literal) and (string column,
    // string literal); any other pairing keeps the file.
    def bloomTypeOk(c: String, v: Any): Boolean =
      stored.fields.find(_.name == c).map(_.dataType) match {
        case Some(_: org.apache.spark.sql.types.LongType |
                  _: org.apache.spark.sql.types.IntegerType |
                  _: org.apache.spark.sql.types.ShortType |
                  _: org.apache.spark.sql.types.ByteType) =>
          v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Long] ||
            v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte]
        case Some(_: org.apache.spark.sql.types.StringType) => v.isInstanceOf[String]
        case _ => false
      }
    def bloomSurvives(r: org.apache.spark.sql.Row, c: String, op: String,
                      v: Any): Boolean =
      (field(r, s"bw_$c"), field(r, "bloom_bits")) match {
        case (Some(words: scala.collection.Seq[_]), Some(bits: java.lang.Number))
            if bits.longValue > 0 =>
          val m = bits.longValue
          val wmap = words.collect {
            case w: org.apache.spark.sql.Row =>
              w.getAs[Long]("i").toInt -> w.getAs[Long]("w")
          }.toMap
          def maybe(x: Any): Boolean =
            !bloomTypeOk(c, x) || (0 until BloomK).forall { s =>
              bloomPosDriver(x, s, m) match {
                case Some(p) => (wmap.getOrElse(p / 64, 0L) & (1L << (p % 64))) != 0L
                case None => true
              }
            }
          op match {
            case "="  => maybe(v)
            case "in" => v match {
              case vs: scala.collection.Seq[_] => vs.exists(maybe)
              case _ => true
            }
            case _ => true
          }
        case _ => true
      }
    val dataFiles = pinned.getOrElse(logicalNames(fs, live)).toSeq.sorted
    val (statted, appended) =
      dataFiles.partition(f => byName.contains(baseName(f)))
    val kept = statted.filter { f =>
      val row = byName(baseName(f))
      dnf.exists(_.forall { case (c, op, v) =>
        survives(row, c, op, v) && bloomSurvives(row, c, op, v)
      })
    } ++ appended // no stats row -> appended after the pass -> always read
    // appended-but-unstatted files may carry columns the stats-time schema
    // never saw (insertMany widens the schema when it CAN stat the batch;
    // this covers batches it couldn't)
    val schema =
      if (appended.isEmpty) stored
      else scala.util.Try(
        org.apache.spark.sql.GraftShims.mergeSchemas(stored,
          readFiles(spark, fmt, None, appended.map(resolvePath(live, _))).schema))
        .getOrElse(return None) // unmergeable drift: fall back to full read
    Some((kept, schema))
  }

  // ---- generation machinery ---------------------------------------------

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genPath(path: String, id: Int): String =
    f"$path/gen-$id%06d"

  private def completeGens(fs: FileSystem, path: String): Seq[Int] = {
    val root = new Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case GenName(id) if fs.exists(new Path(st.getPath, "_SUCCESS")) => Some(id.toInt)
          case _ => None
        }
    }.flatten.sorted
  }

  /** COMMITTED generation ids, oldest first: the [[committedChain]] from
    * the live generation. A crash between a rewrite's data write and its
    * manifest swing leaves an ORPHAN — a `_SUCCESS`-complete generation
    * that never became live; it must stay on disk for id-collision
    * avoidance ([[completeGens]] feeds the next id) but it was never a
    * committed state, so the time-travel/CDC surfaces must not serve it:
    * [[findAsOf]] of an aborted rewrite would return data no reader ever
    * saw, and a CDC poll would deliver its phantom intermediate changes.
    * With the manifest missing (a crash inside its swing) or naming no
    * complete generation (the manifest errors [[fsck]] reports), the
    * chain starts at the newest complete generation instead.
    */
  private def committedGens(fs: FileSystem, path: String): Seq[Int] =
    manifestId(fs, path).map(committedChain(fs, path, _)).filter(_.nonEmpty)
      .orElse(completeGens(fs, path).lastOption.map(committedChain(fs, path, _)))
      .fold(Seq.empty[Int])(_.map(_.id).reverse)

  /** One generation of the committed chain and its [[SourceFile]] record
    * (None for the collection's first generation, which no rewrite wrote).
    */
  private final case class Committed(id: Int, dir: String,
                                     source: Option[(String, Set[String])])

  /** THE committed chain, newest first: generation `live`, then each
    * predecessor its [[SourceFile]] record names — every link while it is
    * still a complete generation (retention prunes the tail; a dangling or
    * incomplete live generation has no chain). A generation without a
    * record is the collection's first ([[liveDir]] creates it without
    * one), so the chain ends there. Ids strictly decrease along the chain
    * (a commit takes an id above every complete generation), so a record
    * naming anything else ends the walk too — termination needs no hop
    * cap. Lazy: a caller forcing a prefix reads only its records.
    */
  private def committedChain(fs: FileSystem, path: String, live: Int): LazyList[Committed] = {
    val dir = genPath(path, live)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) LazyList.empty
    else {
      val source = readSourceRecord(fs, dir)
      Committed(live, dir, source) #:: (source match {
        case Some((GenName(p), _)) if p.toInt < live => committedChain(fs, path, p.toInt)
        case _ => LazyList.empty
      })
    }
  }

  /** The generation id the manifest names, if any. */
  private def manifestId(fs: FileSystem, path: String): Option[Int] =
    readManifest(fs, path).collect { case GenName(id) => id.toInt }

  /** Resolve the live generation dir — the one place the on-disk layout
    * is decided.
    *  - Manifest present -> the generation it names.
    *  - Manifest missing but complete generations exist (crash landed
    *    between manifest delete and rename) -> newest complete generation,
    *    manifest rewritten.
    *  - Neither -> None: no collection at `path`, whether the path is
    *    missing or an existing directory without data files (a fresh temp
    *    dir, or a root holding only sidecars such as `_INDEXES`). With
    *    `createIfMissing` the collection is created instead: gen 1 plus
    *    the manifest. A root that holds data files but no generation is
    *    refused ([[requireNoRootData]]).
    */
  private def liveDir(fs: FileSystem, path: String,
                      createIfMissing: Boolean = false): Option[String] =
    readManifest(fs, path) match {
      case Some(gen) => Some(s"$path/$gen")
      case None =>
        val gens = completeGens(fs, path)
        if (gens.nonEmpty) {
          val live = genPath(path, gens.last)
          writeManifest(fs, path, new Path(live).getName)
          Some(live)
        } else {
          requireNoRootData(fs, path)
          if (!createIfMissing) None
          else {
            val first = genPath(path, 1)
            fs.mkdirs(new Path(first))
            fs.create(new Path(first, "_SUCCESS"), true).close()
            writeManifest(fs, path, new Path(first).getName)
            Some(first)
          }
        }
    }

  /** Refuse a root that holds data files (names not starting with `_` or
    * `.`) but no generation: that is the pre-manifest layout, which no
    * surface reads, mutates or converts. Checked before anything is
    * written, so the refused root stays untouched.
    */
  private def requireNoRootData(fs: FileSystem, path: String): Unit =
    if (fs.exists(new Path(path)) && dataFileNames(fs, path).nonEmpty)
      throw new IllegalStateException(rootDataMessage(path))

  /** The one wording for a root holding data files and no generation:
    * the read and write surfaces refuse with it, [[fsck]] reports it.
    */
  private def rootDataMessage(path: String): String =
    s"docstore: $path holds data files at its root and no generation — " +
      "an unsupported pre-manifest layout; the store must be rebuilt " +
      "(read its files with spark.read and insertMany them into a new path)"

  private def readManifest(fs: FileSystem, path: String): Option[String] = {
    val m = new Path(path, Manifest)
    if (!fs.exists(m)) None
    else Some(Io.readSmallFile(fs, m).trim).filter(_.nonEmpty)
  }

  /** A crash inside the commit's delete-then-rename leaves NO manifest +
    * complete generations, which [[liveDir]] resolves to the newest
    * complete generation — never a loss.
    */
  private def writeManifest(fs: FileSystem, path: String, gen: String): Unit =
    Io.commitSmallFile(fs, new Path(path), Manifest, gen.getBytes(UTF_8), replace = true)

  // ---- append-vs-mutation concurrency ------------------------------------
  //
  // A rewrite and a concurrent append race on ONE question: did the
  // rewrite's scan read the appended files? The answer is made determinate
  // by pinning the rewrite's input as an explicit file list and COMMITTING
  // that list with the generation (the `_SOURCE` record): a file present
  // in the superseded generation but absent from the record was provably
  // invisible to the rewrite and is salvaged forward (the append
  // linearizes AFTER the mutation — its documents do not receive the
  // rewrite's update/delete); a recorded file's rows are already in the
  // new generation (the append linearized BEFORE). Salvage runs on the
  // mutation side right after the commit, is re-run by [[healStragglers]]
  // at the start of every later write (crash recovery), and the appender
  // independently walks its own files forward ([[ensureVisible]]) — all
  // three paths converge on the same deterministic targets via atomic
  // renames, so racing each other is harmless.

  private val SourceFile = "_SOURCE"

  /** Record, inside a freshly committed generation, which data files of
    * its predecessor the rewrite read (line 1 = predecessor dir name, ""
    * when the rewrite created the collection; remaining lines = file
    * names). Committed tmp-then-rename ([[Io.commitSmallFile]]), before
    * the manifest swing: a commit crashing before the record lands leaves
    * an orphan, never a live generation without its record.
    */
  private def writeSourceRecord(fs: FileSystem, genDir: String, from: String,
                                files: Set[String]): Unit =
    Io.commitSmallFile(fs, new Path(genDir), SourceFile,
      (from + "\n" + files.toSeq.sorted.mkString("\n")).getBytes(UTF_8), replace = true)

  private def readSourceRecord(fs: FileSystem, genDir: String)
      : Option[(String, Set[String])] = {
    val p = new Path(genDir, SourceFile)
    if (!fs.exists(p)) None
    else {
      val lines = Io.readSmallFile(fs, p).split("\n", -1).toSeq
      Some((lines.head.trim, lines.tail.map(_.trim).filter(_.nonEmpty).toSet))
    }
  }

  private def writeSchemaSidecar(fs: FileSystem, statsPath: Path,
                                 schema: org.apache.spark.sql.types.StructType): Path = {
    val sidecar = new Path(statsPath,
      s"_schema-append-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(sidecar, true)
    try out.write(schema.json.getBytes(UTF_8)) finally out.close()
    sidecar
  }

  /** Per-store JVM monitor serializing an append's publish + visibility
    * walk against a mutation commit's retention prune. Without it, a
    * same-process append landing its files in a superseded generation
    * between the prune's straggler heal and its directory delete loses
    * those files before the appender's walk can move them forward — the
    * walk then fails LOUDLY (rows are never silently lost), but the
    * append was forfeited for no structural reason (observed as a rare
    * loud failure in the threaded append-vs-mutation stress race).
    * Cross-process appenders keep the documented loud-failure contract —
    * no FS lock here, the same in-process-only boundary as the streaming
    * registry guard. Bounded by the number of distinct store paths a
    * driver touches.
    */
  private val publishGuards =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def publishGuard(fs: FileSystem, path: String): Object =
    publishGuards.computeIfAbsent(
      fs.makeQualified(new Path(path)).toString, _ => new Object)

  /** Idempotently publish straggler data files of `fromDir` (a superseded
    * generation) into `toDir` (its committed successor), converting when
    * the formats differ, with schema-sidecar and stats upkeep on the
    * destination. Safe against a concurrent publisher of the SAME files
    * (a mutation's salvage racing the appender's visibility walk): same
    * source, same deterministic target, atomic rename — the loser sees
    * the target present or the source gone and treats it as done. Returns
    * the names the files carry in `toDir`.
    */
  private def publishForward(spark: SparkSession, fs: FileSystem,
                             fromDir: String, toDir: String,
                             names: Seq[String]): Seq[String] = {
    if (names.isEmpty) return Nil
    val toFmt =
      if (dataFileNames(fs, toDir).nonEmpty) Some(genFormat(fs, toDir)) else None
    val statsPath = new Path(toDir, StatsDir)
    val hasBase = fs.exists(new Path(statsPath, "_schema.json"))
    names.map { name =>
      val src = new Path(fromDir, name)
      val srcFmt = if (name.endsWith(".parquet")) "parquet" else "json"
      // an empty destination adopts the straggler's own format (nothing
      // there to stay pure against)
      val dstFmt = toFmt.getOrElse(srcFmt)
      if (srcFmt == dstFmt) {
        val target = new Path(toDir, name)
        if (fs.exists(src)) {
          val renamed =
            try {
              // rowless (0-byte) parts carry no rows and no inferable
              // schema: rename them for listing fidelity but skip sidecar
              // and stats
              val hasRows = fs.getFileStatus(src).getLen > 0
              // sidecar BEFORE publish, the insertMany cover-first
              // discipline
              if (hasBase && hasRows)
                writeSchemaSidecar(fs, statsPath,
                  readFiles(spark, srcFmt, None, Seq(src.toString)).schema)
              // rename failure = the racing publisher won; done either way
              fs.rename(src, target) && hasRows
            } catch { case e: Exception =>
              // the exists() above and the getFileStatus/sidecar reads
              // here race other salvagers of the SAME file (the
              // mutation-side salvage vs the appender's visibility walk):
              // a competitor renaming src away between them surfaces as
              // FileNotFoundException. Same source, same deterministic
              // target — the racer's outcome IS ours, so a vanished
              // source is "already published", not an error (the caller
              // re-verifies the target and rescans the chain on a miss,
              // staying loud if the file truly resolved nowhere). With
              // src still present the failure is real: rethrow.
              if (fs.exists(src)) throw e
              false
            }
          if (renamed)
            appendStats(spark, fs, toDir, dstFmt, Seq(target.toString))
        }
        name
      } else {
        // format boundary (the straggler raced a compact(format = ...)):
        // rewrite the file into the destination format under a
        // DETERMINISTIC name so racing publishers converge on one target
        val tName = name + (if (dstFmt == "parquet") ".salv.parquet" else ".salv.json")
        val target = new Path(toDir, tName)
        if (!fs.exists(target) && fs.exists(src)) {
          if (fs.getFileStatus(src).getLen == 0) fs.delete(src, false) // rowless
          else try {
            val rows = readFiles(spark, srcFmt, None, Seq(src.toString))
            if (hasBase) writeSchemaSidecar(fs, statsPath, rows.schema)
            val stage = new Path(toDir, s"_salv-${java.util.UUID.randomUUID()}")
            try {
              writeData(rows.coalesce(1), dstFmt, stage.toString)
              Io.visibleFiles(fs, stage).headOption.foreach { st =>
                if (fs.rename(st.getPath, target))
                  appendStats(spark, fs, toDir, dstFmt, Seq(target.toString))
              }
            } finally fs.delete(stage, true)
          } catch { case e: Exception =>
            // the exists-checks above ran at PLAN time but the conversion
            // read runs at job time — the racing publisher can win (and
            // delete src) in between. If the target exists now, the race's
            // outcome is exactly what we wanted; anything else rethrows.
            if (!fs.exists(target)) throw e
          }
        }
        // the source copy is superseded once the target exists; a crash
        // between the two leaves a re-deletable source, never a double
        if (fs.exists(target) && fs.exists(src)) fs.delete(src, false)
        tName
      }
    }
  }

  /** Move data files that landed in `fromDir` after the committed rewrite
    * pinned its source list — appends the rewrite never saw — into the
    * committed generation, so they stay in the live view.
    */
  private def salvageInto(spark: SparkSession, fs: FileSystem, fromDir: String,
                          toDir: String, sourceNames: Set[String]): Unit =
    if (fs.exists(new Path(fromDir))) {
      publishForward(spark, fs, fromDir, toDir,
        (dataFileNames(fs, fromDir) -- sourceNames).toSeq.sorted)
      ()
    }

  /** Re-run any salvage a crashed mutation never finished: walk the
    * retained generation chain from the live one back through its
    * [[SourceFile]] links and salvage each pending predecessor
    * oldest-first. Runs at the start of every mutation (so the rewrite
    * reads recovered rows) and every append; cheap when there is nothing
    * to do (one manifest read, one small file, one listing diff).
    */
  private def healStragglers(spark: SparkSession, fs: FileSystem, path: String): Unit =
    manifestId(fs, path).foreach { live =>
      committedChain(fs, path, live).sliding(2).toList.reverse.foreach { // oldest link first
        case Seq(child, parent) =>
          salvageInto(spark, fs, parent.dir, child.dir, child.source.fold(Set.empty[String])(_._2))
        case _ => () // a one-generation chain has nothing to heal
      }
    }

  /** Post-publish visibility walk for an append: if the generation the
    * batch was published into is no longer live, a mutation raced it. Per
    * file the outcome is determinate via the successors' [[SourceFile]]
    * records — listed means a rewrite read it (rows then flow through
    * every later generation), unlisted means move it forward. Racing
    * salvagers can move a file FURTHER than one hop and retention pruning
    * can delete a directory out from under the walk, so after every hop
    * the file's presence is VERIFIED and a miss is re-resolved by
    * scanning the committed chain (same or `.salv.`-converted name, or
    * carried in some source record). A file that resolves nowhere throws
    * — the append NEVER silently loses rows.
    */
  private def ensureVisible(spark: SparkSession, fs: FileSystem, path: String,
                            publishedDir: String, names: Seq[String]): Unit =
    if (names.nonEmpty && !liveDir(fs, path).contains(publishedDir))
      names.foreach(ensureFileVisible(spark, fs, path, publishedDir, _))

  private def ensureFileVisible(spark: SparkSession, fs: FileSystem, path: String,
                                startDir: String, name0: String): Unit = {
    var dir = startDir
    var name = name0
    var hops = 0
    while (!liveDir(fs, path).contains(dir)) {
      hops += 1
      require(hops <= 64,
        s"docstore: append visibility walk did not converge for $path")
      val chain = manifestId(fs, path).fold(List.empty[Committed])(committedChain(fs, path, _).toList)
      // carried in any chain generation's source record: its rows were
      // read by that rewrite and flow through every later one — done
      if (chain.exists(_.source.exists(_._2.contains(name)))) return
      def rescan(): Unit =
        chain.reverseIterator // oldest-first: resume from the EARLIEST copy
          .map { c => c.dir -> dataFileNames(fs, c.dir)
            .find(f => f == name || f.startsWith(name + ".salv.")) }
          .collectFirst { case (g, Some(f)) => (g, f) } match {
          case Some((vDir, vName)) => dir = vDir; name = vName
          case None => throw new IllegalStateException(
            s"docstore: appended file $name of $dir raced mutations of $path " +
              "and can no longer be found on the committed chain (rewrites " +
              "plus retention pruning completed mid-append) — the batch was " +
              "NOT fully published; retry the append for its missing rows")
        }
      chain.find(_.source.exists { case (from, _) => from.nonEmpty && s"$path/$from" == dir }) match {
        case Some(Committed(_, sDir, _)) =>
          name = publishForward(spark, fs, dir, sDir, Seq(name)).head
          if (fs.exists(new Path(sDir, name))) dir = sDir
          else rescan() // a racing salvager moved it further, or pruning hit
        case None => rescan() // `dir` itself fell off the chain (pruned)
      }
    }
  }

  /** Atomically rename a fully staged rewrite to its committed generation
    * id — chosen HERE, after the data landed and any race was resolved,
    * as one above every complete generation and `minAbove` (the disjoint
    * re-commit's winner id, so CDC's by-generation ordering always puts
    * the merged commit after the winner). Retries upward when a racer
    * grabbed the id between the listing and the rename; on local
    * filesystems a directory rename onto an existing directory can NEST
    * the source inside the target (POSIX mv semantics) — detected and
    * pulled back out before retrying. Returns the committed dir path.
    */
  private def publishStagedGeneration(fs: FileSystem, path: String,
                                      staging: String, minAbove: Int): String = {
    var attempts = 0
    while (attempts < 8) {
      val id = (completeGens(fs, path) :+ minAbove).max + 1
      val target = new Path(genPath(path, id))
      if (!fs.exists(target)) {
        val src = new Path(staging)
        if (fs.rename(src, target)) {
          val nested = new Path(target, src.getName)
          if (!fs.exists(nested)) return target.toString
          // the target existed after all (a racer won the id and the
          // local-FS rename nested us inside it): pull back out, retry
          if (!fs.rename(nested, src))
            throw new java.io.IOException(
              s"docstore: cannot recover nested staging $nested")
        }
      }
      attempts += 1
    }
    throw new java.io.IOException(
      s"docstore: cannot publish staged generation $staging under $path " +
        "— id allocation lost 8 straight races")
  }

  /** Stats-sidecar leg of the disjoint re-commit ([[commitRewrite]]'s
    * merge path): the staged generation's rows currently cover this
    * mutation's fresh files plus EVERYTHING it carried from the pinned
    * snapshot — but the merge re-points the names the winner chain
    * consumed at the chain's fresh files instead. Drop the rows for
    * `wCandBases` (their files are no longer part of the generation —
    * fsck would flag them as stale) and import the winner's rows for
    * `importBases` — its own fresh physical files plus (multi-hop) the
    * intermediate winners' fresh files it carries, whose rows the carry
    * discipline moved into its sidecar (else pruning/countFast scan them
    * and fsck flags them unstatted). Both legs of [[carryStatsLines]]
    * apply: a 100 TB store's per-file sidecar is exactly the deployment
    * whose lost races the merge exists to absorb. False = not safely
    * doable (a winner whose fresh files carry no rows — importing nothing
    * would leave the merged generation under-covered while claiming full
    * stats): the caller then falls back to the loud serialize-and-retry
    * path. A stats-less store has nothing to move: true.
    */
  private def mergeCarriedStats(spark: SparkSession, fs: FileSystem,
                                next: String, wDir: String,
                                wCandBases: Set[String],
                                importBases: Set[String]): Boolean = {
    val nextStats = new Path(next, StatsDir)
    carryStatsLines(spark, fs, nextStats, Seq(
      StatsCarry(nextStats, wCandBases, keep = false),
      StatsCarry(new Path(wDir, StatsDir), importBases, keep = true)), covered = true)
  }

  /** Pin the live generation for a rewrite: heal pending salvages first
    * (their rows must be read), then list the data files ONCE — the
    * rewrite reads exactly this list and commits it as the generation's
    * [[SourceFile]] record, which is what makes concurrent appends
    * determinate. With no collection at `path` the pin is `path` itself
    * with no files.
    */
  private def pinLive(spark: SparkSession, fs: FileSystem, path: String)
      : (String, String, Set[String]) = {
    healStragglers(spark, fs, path)
    liveDir(fs, path) match {
      case Some(live) => (live, genFormat(fs, live), logicalNames(fs, live))
      // nothing to read; a commit creates the first generation (its
      // `_SOURCE` record names an empty predecessor)
      case None => (path, "json", Set.empty)
    }
  }

  /** [[readGen]] over a pinned file list (same stored-schema discipline,
    * same no-files behavior).
    */
  private def readPinned(spark: SparkSession, fs: FileSystem, live: String,
                         fmt: String, names: Set[String]): DataFrame = {
    val schema = storedSchema(fs, new Path(live, StatsDir))
    if (names.isEmpty) schema match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => readFiles(spark, fmt, None, Seq(live))
    }
    else readFiles(spark, fmt, schema, names.toSeq.sorted.map(resolvePath(live, _)))
  }

  /** One-scan rewrite into the next generation, manifest commit, then
    * cleanup. The newest `retain` generations survive (the previous live
    * one always does, so concurrent readers' planned file lists stay
    * valid; retain > 2 buys [[findAsOf]] time travel further back); older
    * generations are reclaimed.
    * `sourceNames` is the pinned file list the rewrite's `df` was read
    * from ([[pinLive]]) — committed as the [[SourceFile]] record and used
    * to salvage late concurrent appends forward before anything is pruned.
    */
  private def commitRewrite(fs: FileSystem, spark: SparkSession, df: DataFrame,
                            path: String, retain: Int, format: String,
                            sourceNames: Set[String], pinnedLive: String,
                            sidecars: Map[String, Array[Byte]] = Map.empty,
                            carried: Seq[String] = Nil,
                            carriedSchema: Option[org.apache.spark.sql.types.StructType] = None,
                            lateSidecars: Map[String, () => Array[Byte]] = Map.empty,
                            dataless: Boolean = false,
                            stagedSchema: Option[org.apache.spark.sql.types.StructType] = None,
                            stagedStats: Option[(Seq[String], Seq[String], Int)] = None,
                            afterStage: () => Unit = () => (),
                            afterPublish: () => Unit = () => ()): Unit = {
    require(retain >= 2, s"retain must keep the live + previous generation, got $retain")
    // LOUD lost-update detection ([[ConcurrentMutationException]]): checked
    // before the rewrite job and again right before the swing (the rewrite
    // can be long — the widest window for a competing mutation to land)
    def validatedPrevious(): Option[String] = {
      val previous = readManifest(fs, path)
      val current = previous.map(g => s"$path/$g").getOrElse(path)
      if (current != pinnedLive)
        throw new ConcurrentMutationException(
          s"docstore: the live generation of $path moved while this mutation " +
            s"ran ($pinnedLive -> $current) — mutations are single-writer; this " +
            "rewrite is based on a stale snapshot and committing it would " +
            "discard the other mutation's effect. Re-run this mutation.")
      previous
    }
    // FILE-LEVEL CONFLICT DETECTION (the Delta/Iceberg commit-time
    // re-validation shape): when the manifest moved under this mutation,
    // the race is only a REAL conflict if a winner touched files this
    // rewrite read. If every generation between the pinned snapshot and
    // the current winner (a) is a single-generation mutation commit whose
    // pin matches its predecessor's full served set (no interleaved
    // append), (b) left the stored schema and format unchanged, and
    // (c) rewrote/deleted a file set DISJOINT from this mutation's
    // candidate set — then the already-built rewrite can re-commit
    // against the fresh manifest: the new generation keeps this
    // mutation's fresh files, LINKS every file the winner chain serves
    // that this mutation didn't rewrite, and carries the files nobody
    // touched. Observation counts stay exact (no winner ever modified a
    // candidate row), CDC stays exact (P -> W* is the winners' diffs,
    // W_n -> merged is this mutation's), and the loser never re-runs its
    // rewrite job — at 100 TB, disjoint concurrent mutations stop paying
    // a full rewrite per lost race. The walk is MULTI-HOP: a loser whose
    // winner is itself a merged commit still converges, so N disjoint
    // writers finish with one rewrite job each. Anything outside (a)-(c)
    // keeps today's loud serialize-and-retry.
    def disjointWinner(): Option[String] = {
      val wId = manifestId(fs, path).getOrElse(return None)
      val wGen = new Path(genPath(path, wId)).getName
      val pinnedGen = new Path(pinnedLive).getName
      if (wGen == pinnedGen) return None
      // same served schema and format across every hop: a DDL /
      // re-typing winner touches every read, so nothing is disjoint
      val pS = storedSchema(fs, new Path(pinnedLive, StatsDir))
      if (pS.isEmpty) return None
      val myCandBases = (sourceNames -- carried.toSet).map(baseName)
      // the winners, newest first: the committed chain from the live
      // generation down to the hop off the pinned snapshot
      var chain = committedChain(fs, path, wId)
      var from = ""
      var hops = 0
      while (from != pinnedGen) {
        hops += 1
        // a chain deeper than any plausible concurrent-writer count means
        // something else is going on (runaway) — go loud instead
        if (hops > 8 || chain.isEmpty) return None
        val hop = chain.head
        val (hopFrom, pinned) = hop.source.getOrElse(return None)
        if (pS != storedSchema(fs, new Path(hop.dir, StatsDir))) return None
        if (genFormat(fs, hop.dir) != format) return None
        val candBases = pinned.map(baseName) -- readLinks(fs, hop.dir).map(baseName)
        if ((candBases & myCandBases).nonEmpty) return None
        from = hopFrom
        chain = chain.tail
        // the hop's pin must equal its predecessor's served set: for the
        // hop off the shared snapshot that is THIS mutation's pin-time
        // listing (an append between the two pins makes them differ);
        // for deeper hops the predecessor's current listing — commit-time
        // salvage has already moved any interleaved append out of a
        // superseded generation, so a residual mismatch is a file this
        // walk cannot attribute, and the merge bails
        val prevSet =
          if (from == pinnedGen) sourceNames
          else chain.headOption match {
            case Some(prev) => logicalNames(fs, prev.dir)
            case None => return None // the predecessor was pruned
          }
        if (pinned != prevSet) return None
      }
      Some(wGen)
    }
    val previousAtStart: Option[String] =
      try validatedPrevious()
      catch { case e: ConcurrentMutationException =>
        // optimistic continue: the pinned files all still exist (the
        // winner's retention keeps its previous generation whole), so
        // the planned rewrite reads valid data; the actual link/stats
        // merge happens at the commit point below, re-validated there
        disjointWinner() match {
          case Some(_) => readManifest(fs, path)
          case None => throw e
        }
      }
    // PRIVATE STAGING (the tmp-then-rename discipline, generation-sized):
    // the whole rewrite lands in a dot-prefixed dir invisible to every
    // reader and every competing mutation, and only the commit point
    // renames it to its generation id. This closes two windows the old
    // write-at-final-id flow had: a competing mutation could take the
    // SAME id and the two writeData jobs clobbered each other (the
    // documented last-writer-wins degradation — now impossible, ids are
    // picked after the data is fully staged), and a winner's retention
    // pass pruned the loser's completed-but-uncommitted dir as a crash
    // orphan, which made the disjoint re-commit below unreachable in the
    // post-stage race. Nothing inside a generation references its own
    // dir name (links are root-relative into OTHER generations; stats
    // rows key by basename), so the rename is free.
    var next = s"$path/.staging-${java.util.UUID.randomUUID()}"
    if (dataless) {
      // metadata-only commit (DDL verbs, zero-match mutations): the df is
      // provably empty, so skip the Spark job entirely — a rowless part
      // file would be UNSTATTED and survive every later stats prune as a
      // perpetual extra read (and chained DDL would carry it forever).
      // Callers pass dataless only with carried links present, so
      // genFormat still detects the format from the link entries.
      fs.mkdirs(new Path(next))
      fs.create(new Path(next, "_SUCCESS"), true).close()
    } else writeData(df, format, next)
    if (format == "parquet") {
      // parquet reads back with EXACTLY the written types (unlike json,
      // whose inference conventions differ from arbitrary df schemas), so
      // the commit can persist the schema it just wrote — readGen then
      // plans with zero jobs (no footer-merge pass) even when no stats
      // pass ever runs, and appends widen it additively via sidecars
      val stats = new Path(next, StatsDir)
      fs.mkdirs(stats)
      val out = fs.create(new Path(stats, "_schema.json"), true)
      try out.write(df.schema.json.getBytes(UTF_8)) finally out.close()
    }
    // COPY-ON-WRITE carry: files of the pinned snapshot a selective
    // mutation provably never touched are LINKED to their physical homes
    // instead of rewritten — entries always point at the physical home
    // (a carried entry that was itself a link stays as-is; a plain name's
    // home is the pinned generation), so links never chain. The sidecar,
    // the schema base, and the carried stats rows all land before the
    // manifest swing — atomic with the data.
    if (carried.nonEmpty) {
      val pinnedGen = new Path(pinnedLive).getName
      val entries = carried.map(n => if (n.contains("/")) n else s"$pinnedGen/$n")
      writeLinks(fs, next, entries)
      val stats = new Path(next, StatsDir)
      fs.mkdirs(stats)
      // the caller passes the schema the new generation SERVES: the
      // pinned stored schema for a schema-preserving COW mutation, the
      // widened one for a widening $set (carried files' narrower
      // physical types read under it — [[widensTo]]). Needed for json,
      // where commitRewrite's own parquet-only schema write doesn't apply
      if (!fs.exists(new Path(stats, "_schema.json")))
        carriedSchema.foreach { s =>
          val out = fs.create(new Path(stats, "_schema.json"), true)
          try out.write(s.json.getBytes(UTF_8)) finally out.close()
        }
      // carried files' bytes are unchanged, so their stats rows (keyed by
      // basename) carry verbatim — selective mutations keep pruning
      // across generations without a re-stat pass. A pinned generation
      // without part files (schema-only sidecar, pre-stats store) has
      // nothing to carry: carried files stay covered by whatever covered
      // them before
      carryStatsLines(spark, fs, stats, Seq(StatsCarry(
        new Path(pinnedLive, StatsDir), entries.map(baseName).toSet, keep = true)))
      // stat the freshly rewritten files with the carried geometry (same
      // machinery an append uses) so the WHOLE generation stays covered
      val fresh = dataFileNames(fs, next).toSeq.sorted
        .filter(n => fs.getFileStatus(new Path(next, n)).getLen > 0)
      if (fresh.nonEmpty)
        appendStats(spark, fs, next, format, fresh.map(n => s"$next/$n"),
          Some(df.schema))
    }
    // ATOMIC sidecar restoration for FULL rewrites (renameColumn, compact):
    // the caller's stored schema and stats geometry land INSIDE the staged
    // generation, so they commit (or vanish) with the data in one manifest
    // swing. The predecessor flow restored them as a SECOND mutation after
    // the commit — a crash between the two left the store stats-less (and
    // a json store schema-less, erasing metadata-only columns and bricking
    // later DDL), and under a concurrent mutation the follow-up could land
    // its schema in a DIFFERENT generation than the one just committed.
    stagedSchema.foreach { s =>
      val stats = new Path(next, StatsDir)
      fs.mkdirs(stats)
      val out = fs.create(new Path(stats, "_schema.json"), true)
      try out.write(s.json.getBytes(UTF_8)) finally out.close()
    }
    stagedStats.foreach { case (cols, bloomCols, bloomBits) =>
      require(carried.isEmpty,
        "docstore: stagedStats is for full rewrites only — a COW commit's " +
          "fresh files are statted by the carry discipline above")
      val fresh = dataFileNames(fs, next).toSeq.sorted
        .filter(n => fs.getFileStatus(new Path(next, n)).getLen > 0)
      if (fresh.nonEmpty && (cols.nonEmpty || bloomCols.nonEmpty))
        appendStatsWith(spark, fs, next, format, fresh.map(n => s"$next/$n"),
          cols, bloomCols, bloomBits, Some(df.schema))
    }
    // caller-supplied metadata sidecars land in the staged generation
    // BEFORE the manifest swing, so they commit (or vanish) atomically
    // with the data — [[syncAggregate]]'s exactly-once cursor rides this.
    // `lateSidecars` are evaluated HERE, after writeData's job completed,
    // so their bytes may read Observation metrics collected by the
    // rewrite itself (the mutation-token sidecar records the matched
    // count that way) while still landing before the swing.
    (sidecars ++ lateSidecars.view.mapValues(f => f()).toMap)
      .foreach { case (name, bytes) =>
      require(name.startsWith("_"),
        s"docstore: sidecar names must start with '_' (got $name) so reads " +
          "never mistake them for data files")
      val out = fs.create(new Path(next, name), true)
      try out.write(bytes) finally out.close()
    }
    afterStage()
    // re-validate after the rewrite. On a lost race, attempt the DISJOINT
    // RE-COMMIT first ([[disjointWinner]]): relink this staged rewrite
    // on top of the winner — keep my carried entries except the names the
    // winner consumed, link every winner-fresh physical file, and move
    // the stats rows to match — then publish with previous := winner. On
    // failure drop the staging (never committed, never readable) so no
    // debris outlives the retry.
    var previous: Option[String] = previousAtStart
    var recordNames: Set[String] = sourceNames
    var winnerFloor = 0
    try { validatedPrevious(); () }
    catch { case e: ConcurrentMutationException =>
      val merged: Option[(String, Set[String])] = disjointWinner().flatMap { wGen =>
        val wDir = s"$path/$wGen"
        val wLinks = readLinks(fs, wDir)
        // original-snapshot bases the winner CHAIN consumed (rewrote or
        // deleted): pinned files that no longer appear among the final
        // winner's links. Fresh part names embed job UUIDs, so they never
        // collide with a pinned base.
        val origBases = sourceNames.map(baseName)
        val wCandBases = origBases -- wLinks.map(baseName)
        val wPhysical = dataFileNames(fs, wDir).toSeq.sorted
        // files the chain CREATED and still serves: the final winner's own
        // physical files plus its links to intermediate winners' fresh
        // files (multi-hop — a one-hop winner's links are all originals,
        // making this exactly the old pairwise set)
        val chainFresh = wLinks.filterNot(en => origBases.contains(baseName(en)))
        val importBases = wPhysical.toSet ++ chainFresh.map(baseName)
        Option.when(mergeCarriedStats(spark, fs, next, wDir, wCandBases, importBases)) {
          val pinnedGen = new Path(pinnedLive).getName
          val myEntries = carried.map(n =>
            if (n.contains("/")) n else s"$pinnedGen/$n")
          // my carried originals the chain didn't consume, the final
          // winner's fresh files, and the chain's carried fresh files
          // (disjoint from myEntries — their bases are never originals)
          val mergedLinks =
            myEntries.filterNot(en => wCandBases.contains(baseName(en))) ++
              wPhysical.map(n => s"$wGen/$n") ++ chainFresh
          if (mergedLinks.nonEmpty) writeLinks(fs, next, mergedLinks)
          else fs.delete(new Path(next, LinksFile), false)
          // the W-snapshot this merged commit consumed, from the SAME
          // listing mergedLinks used — salvage then moves exactly the
          // files appended to W after it (nothing can be both unlinked
          // and unsalvaged)
          (wGen, wPhysical.toSet ++ wLinks)
        }
        // a third mutation landing mid-merge re-moves the manifest: bail
        // to the loud path (the staging is dropped below)
      }.filter { case (w, _) => readManifest(fs, path).contains(w) }
      merged match {
        case Some((w, consumed)) =>
          previous = Some(w)
          recordNames = consumed
          winnerFloor = w.stripPrefix("gen-").toInt
        case None =>
          fs.delete(new Path(next), true)
          throw e
      }
    }
    // PUBLISH: pick the generation id NOW — after the data is fully
    // staged and the race resolved — one above every complete generation
    // and the merge winner, and atomically rename the staging to it. CDC
    // consumers order diffs by generation id, so the merged commit always
    // sits above the winner's.
    next = publishStagedGeneration(fs, path, next, winnerFloor)
    writeSourceRecord(fs, next, previous.getOrElse(""), recordNames)
    afterPublish()
    // FINAL manifest re-validation, after publish and immediately before
    // the swing: the validate-then-write window above publish is wide
    // enough for a THIRD mutation to commit (the merge path makes
    // concurrent mutations an expected mode, not an anomaly) — writing
    // over it here would silently discard its generation, a lost update
    // with no ConcurrentMutationException anywhere. The published dir was
    // never referenced by any manifest, so deleting it and going loud
    // (serialize-and-retry) loses nothing but this body's work.
    // HONEST LIMIT: this is still check-then-act — the filesystem offers
    // no manifest CAS, so a racer landing between this read and the
    // write below is still overwritten; the re-check NARROWS the window
    // from rewrite-sized (or merge-validation-sized) to two metadata
    // ops, it does not close it. True closure needs a lock service or a
    // CAS-capable catalog, the same boundary every FS-backed table
    // format (Delta on S3 pre-DynamoDB, Iceberg HadoopCatalog) documents.
    val manifestNow = readManifest(fs, path)
    if (manifestNow != previous) {
      fs.delete(new Path(next), true)
      throw new ConcurrentMutationException(
        s"docstore: the live generation of $path moved again " +
          s"($previous -> $manifestNow) after this mutation resolved its " +
          "race — committing would silently discard the newer mutation. " +
          "Re-run this mutation.")
    }
    writeManifest(fs, path, new Path(next).getName)
    // salvage BEFORE pruning — and heal the WHOLE retained chain under
    // the per-store publish guard, not just the immediate predecessor:
    // an append that landed its files in an OLDER superseded generation
    // after this mutation's start-of-write heal would otherwise be
    // deleted by the prune below before the appender's visibility walk
    // could move them (a rare but observed loud append forfeiture in the
    // threaded stress race). The chain heal subsumes the old single-hop
    // salvageInto(previous, next) — the live generation's _SOURCE record
    // is already written — and [[publishGuard]] makes the heal-listing ->
    // delete window atomic against same-process append publishes.
    publishGuard(fs, path).synchronized {
      healStragglers(spark, fs, path)
      // retention counts COMMITTED generations only: a crash-orphaned
      // complete dir must not consume a retention slot (it would prune a
      // committed generation one mutation early and break a CDC consumer
      // inside its promised lag headroom). Orphans themselves are pruned
      // immediately — they were never a served state.
      val chain = committedGens(fs, path)
      val window = chain.takeRight(retain).map(id => f"gen-$id%06d").toSet ++ previous
      // DIRECT-HOME closure, single hop: the readable window's carried
      // files live in older dirs — those homes must survive so every
      // window generation resolves fully, and links never chain, so one
      // hop IS full resolution. Homes-of-homes are deliberately NOT kept
      // (a home outside the window is storage, not a promised snapshot;
      // its own stale `_LINKS` may dangle once ITS homes age out —
      // [[findAsOf]] detects that and fails loudly, and fsck reports it
      // as `unreadable-generation`). A fixpoint here would chase stale
      // sidecars of carried-forward files transitively and pin every
      // ancestor home forever — the unbounded-garbage failure mode
      // [[vacuum]] exists to prevent.
      val keep = window ++ window.flatMap(g =>
        readLinks(fs, s"$path/$g").map(_.takeWhile(_ != '/')))
      completeGens(fs, path).map(id => genPath(path, id))
        .filterNot(p => keep.contains(new Path(p).getName))
        .foreach(p => fs.delete(new Path(p), true))
    }
    // staging debris from crashed mutations (dot-prefixed, invisible to
    // every reader): reclaim by AGE. 7 days, asymmetrically: deleting a
    // LIVE staging aborts a rewrite after it paid its full cost (and at
    // 100 TB a rewrite can legitimately run beyond a day, while the
    // dir's mtime may not refresh during the write), whereas crash
    // debris merely holds disk for the week — the cheap side of the
    // trade. An operator can always delete `.staging-*` by hand after a
    // known crash.
    val stagingCutoff = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    if (fs.exists(new Path(path))) fs.listStatus(new Path(path)).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".staging-") &&
          st.getModificationTime < stagingCutoff)
        fs.delete(st.getPath, true)
    }
  }
}
