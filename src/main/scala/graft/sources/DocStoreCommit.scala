package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit, when}
import org.apache.spark.sql.types.StructType
import graft.core.Io

/** The DocStore generation commit: the one owner of the on-disk layout
  * (`gen-NNNNNN/` dirs, `_MANIFEST`, `_SOURCE`, `_LINKS`) and of the
  * protocol that stages a rewrite, publishes it under a fresh generation
  * id, swings the manifest and prunes past the retention window — plus
  * the salvage, heal and visibility walks that keep concurrent appends
  * determinate. Only this trait writes the layout's records; [[DocStore]]
  * mixes it in, and every one of its mutations, compactions and DDL verbs
  * pins a snapshot with [[pinLive]] and commits through [[rewrite]], the
  * one place that decides which pinned files are read, which are carried
  * by reference, and under what schema.
  */
private[sources] trait DocStoreCommit {
  import DocStoreCommit._

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
  private[sources] val StatsDir = "_STATS"
  private[sources] val GenName = "gen-(\\d{6})".r

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
  private[sources] def readLinks(fs: FileSystem, genDir: String): Seq[String] = {
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

  /** Lengths of a dir's data files, from ONE listing (the dir must exist). */
  private[sources] def dataFileSizes(fs: FileSystem, dir: String): Map[String, Long] =
    Io.visibleFiles(fs, new Path(dir)).iterator.map(st => st.getPath.getName -> st.getLen).toMap

  /** Lengths of logical files of `live` — plain names and carried entries
    * alike — one status call each; a file that is gone sizes 0. Pure
    * metadata: no data file is opened, and no dir is listed.
    */
  private[sources] def fileSizes(fs: FileSystem, live: String,
                                 names: Iterable[String]): Map[String, Long] =
    names.iterator.map { n =>
      n -> (try fs.getFileStatus(new Path(resolvePath(live, n))).getLen
            catch { case _: java.io.FileNotFoundException => 0L })
    }.toMap

  /** LOGICAL data-file names of a generation: physical visible files (plain
    * names) plus carried entries (containing '/'). Every read/pin surface
    * operates on this set; physical-only listings ([[dataFileNames]])
    * remain for the append/salvage protocols, which move physical files.
    */
  private[sources] def logicalNames(fs: FileSystem, genDir: String): Set[String] =
    dataFileNames(fs, genDir) ++ readLinks(fs, genDir)

  /** Absolute path of a logical name: plain names live in `genDir`, carried
    * entries are relative to the collection root (genDir's parent — every
    * data dir is a `gen-*` dir).
    */
  private[sources] def resolvePath(genDir: String, name: String): String =
    if (name.contains("/")) s"${new Path(genDir).getParent.toString}/$name"
    else s"$genDir/$name"

  /** Basename of a logical name — the key stats rows use (`file` field).
    * Part names embed job UUIDs, so basenames are collision-free across
    * generations.
    */
  private[sources] def baseName(name: String): String =
    name.substring(name.lastIndexOf('/') + 1)

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
  private[sources] def genFormat(fs: FileSystem, dir: String): String = {
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

  private[sources] def writeData(df: DataFrame, fmt: String, dest: String): Unit =
    if (fmt == "parquet") df.write.mode(SaveMode.Overwrite).parquet(dest)
    else df.write.mode(SaveMode.Overwrite).json(dest)

  /** Read specific data files (or a whole dir) in the generation's format
    * with an optional explicit schema. JSON without a schema pays an
    * inference pass; parquet without one merges footers — both are the
    * fallback, not the normal path ([[readGen]] normally supplies the
    * stored schema).
    */
  private[sources] def readFiles(spark: SparkSession, fmt: String,
                                 schema: Option[StructType], files: Seq[String]): DataFrame = {
    val r0 = spark.read
    val r = schema.fold(if (fmt == "parquet") r0.option("mergeSchema", "true") else r0)(r0.schema)
    if (fmt == "parquet") r.parquet(files: _*) else r.json(files: _*)
  }

  /** A rowless frame typed `schema`: no read planned, no job. */
  private[sources] def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private[sources] def dataFileNames(fs: FileSystem, live: String): Set[String] =
    Io.visibleFiles(fs, new Path(live)).iterator.map(_.getPath.getName).toSet

  // ---- the stats sidecars a commit carries (implemented by DocStore) ------

  private[sources] def storedSchema(fs: FileSystem, statsPath: Path): Option[StructType]

  private[sources] def appendStats(spark: SparkSession, fs: FileSystem, live: String,
                                   fmt: String, files: Seq[String],
                                   schema: Option[StructType] = None): Unit

  private[sources] def appendStatsWith(spark: SparkSession, fs: FileSystem, live: String,
                                       fmt: String, files: Seq[String],
                                       cols: Seq[String], bloomCols: Seq[String],
                                       bloomBits: Int,
                                       schema: Option[StructType] = None): Unit

  private[sources] def carryStatsLines(spark: SparkSession, fs: FileSystem, dst: Path,
                                       carries: Seq[StatsCarry], covered: Boolean = false): Boolean

  private[sources] def prunedFiles(spark: SparkSession, fs: FileSystem, live: String,
                                   fmt: String, filter: Column,
                                   pinned: Option[Set[String]] = None)
      : Option[(Seq[String], StructType)]

  // ---- generation machinery ---------------------------------------------

  private[sources] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def genPath(path: String, id: Int): String =
    f"$path/gen-$id%06d"

  private[sources] def completeGens(fs: FileSystem, path: String): Seq[Int] = {
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
  private[sources] def committedGens(fs: FileSystem, path: String): Seq[Int] =
    manifestId(fs, path).map(committedChain(fs, path, _)).filter(_.nonEmpty)
      .orElse(completeGens(fs, path).lastOption.map(committedChain(fs, path, _)))
      .fold(Seq.empty[Int])(_.map(_.id).reverse)

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
  private[sources] def liveDir(fs: FileSystem, path: String,
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
  private[sources] def requireNoRootData(fs: FileSystem, path: String): Unit =
    if (fs.exists(new Path(path)) && dataFileNames(fs, path).nonEmpty)
      throw new IllegalStateException(rootDataMessage(path))

  /** The one wording for a root holding data files and no generation:
    * the read and write surfaces refuse with it, [[fsck]] reports it.
    */
  private[sources] def rootDataMessage(path: String): String =
    s"docstore: $path holds data files at its root and no generation — " +
      "an unsupported pre-manifest layout; the store must be rebuilt " +
      "(read its files with spark.read and insertMany them into a new path)"

  private[sources] def readManifest(fs: FileSystem, path: String): Option[String] = {
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

  /** The schema base of a generation's stats dir: the stored schema every
    * read of the generation is planned with (append sidecars widen it).
    */
  private[sources] val SchemaBase = "_schema.json"

  /** Write (or replace) `schema` as the file `p`: the one writer of the
    * schema base and its append sidecars.
    */
  private def writeSchema(fs: FileSystem, p: Path, schema: StructType): Path = {
    val out = fs.create(p, true)
    try out.write(schema.json.getBytes(UTF_8)) finally out.close()
    p
  }

  private[sources] def writeSchemaBase(fs: FileSystem, statsPath: Path,
                                       schema: StructType): Unit =
    writeSchema(fs, new Path(statsPath, SchemaBase), schema)

  private[sources] def writeSchemaSidecar(fs: FileSystem, statsPath: Path,
                                          schema: StructType): Path =
    writeSchema(fs, new Path(statsPath,
      s"_schema-append-${java.util.UUID.randomUUID()}.json"), schema)

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
  private[sources] def publishGuard(fs: FileSystem, path: String): Object =
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
    val hasBase = fs.exists(new Path(statsPath, SchemaBase))
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
  private[sources] def healStragglers(spark: SparkSession, fs: FileSystem, path: String): Unit =
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
  private[sources] def ensureVisible(spark: SparkSession, fs: FileSystem, path: String,
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

  /** A pinned snapshot ([[pinLive]]): the store `path`, the `live`
    * generation a rewrite reads (`path` itself when there is no
    * collection yet), its `format`, and the exact logical file list the
    * commit records as its [[SourceFile]]. The whole pinned read and the
    * complete read schema of a partial read are each planned once,
    * however often an op and its [[rewrite]] use them.
    */
  private[sources] final class Pin(val spark: SparkSession, val fs: FileSystem,
                                   val path: String, val live: String,
                                   val format: String, val names: Set[String]) {
    /** The pinned files' absolute paths, in name order. */
    lazy val paths: Seq[String] = names.toSeq.sorted.map(resolvePath(live, _))

    /** The live generation's stored schema, read once. */
    lazy val stored: Option[StructType] = storedSchema(fs, new Path(live, StatsDir))

    /** Every pinned file under the stored schema — [[readGen]]'s
      * discipline, and its no-files behavior.
      */
    lazy val docs: DataFrame =
      if (names.nonEmpty) readFiles(spark, format, stored, paths)
      else stored.fold(readFiles(spark, format, None, Seq(live)))(emptyFrame(spark, _))

    /** A COMPLETE read schema for a rewrite that reads only some pinned
      * files (compactSmall's tail, vacuum's re-homed set): the stored
      * stats-time schema when present; else, for parquet, the
      * [[physicalSchema]] of ALL pinned files. Its widened union is what
      * makes a generation with integral-width drift (a Scala int batch
      * appended to a JSON-inferred bigint collection) compactable without
      * a full rewrite — and the committed widened schema HEALS the drift
      * for every later read. None only for a json store without a stored
      * schema, whose reads infer. A parquet store whose files drift
      * beyond widening is refused — full reads fail the same way, and a
      * schema inferred from the subset would drop the columns that live
      * only in carried files.
      */
    lazy val partialSchema: Option[StructType] = {
      val schema =
        stored.orElse(if (format == "parquet") physicalSchema(spark, format, paths) else None)
      if (format == "parquet" && schema.isEmpty)
        throw new IllegalStateException(
          s"docstore: cannot derive a complete read schema for $live — its " +
            "data files carry incompatible physical types (drift beyond " +
            "integral/float widening); full-collection reads fail the same " +
            "way. Resolve the drift before rewriting part of the collection.")
      schema
    }
  }

  /** Pin the live generation for a rewrite: heal pending salvages first
    * (their rows must be read), then list the data files ONCE — the
    * rewrite reads exactly this list and commits it as the generation's
    * [[SourceFile]] record, which is what makes concurrent appends
    * determinate. With no collection at `path` the pin is `path` itself
    * with no files.
    */
  private[sources] def pinLive(spark: SparkSession, fs: FileSystem, path: String): Pin = {
    healStragglers(spark, fs, path)
    liveDir(fs, path) match {
      case Some(live) => new Pin(spark, fs, path, live, genFormat(fs, live), logicalNames(fs, live))
      // nothing to read; a commit creates the first generation (its
      // `_SOURCE` record names an empty predecessor)
      case None => new Pin(spark, fs, path, path, "json", Set.empty)
    }
  }

  /** What the files at `paths` PHYSICALLY hold, whatever the stored
    * schema says: one strict merge (parquet footers, json inference);
    * else, for parquet, a WIDENED union — per-field tightest common type,
    * the [[diffGenerations]] coercion rule — which the parquet reader
    * serves through type widening (an int32 file reads correctly under a
    * bigint schema; Spark 4 upcasts at scan time). None when nothing is
    * determinable: no files, or drift so broken that full reads fail too.
    */
  private[sources] def physicalSchema(spark: SparkSession, fmt: String,
                                      paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty) None
    else scala.util.Try(readFiles(spark, fmt, None, paths).schema).toOption.orElse(
      if (fmt != "parquet") None
      else scala.util.Try(
        paths.map(p => spark.read.parquet(p).schema).reduceLeft(widenStructs)).toOption)

  /** Field-union of two schemas with TYPE WIDENING where they disagree
    * (Catalyst's tightest-common-type rule); throws when no common type
    * exists — callers treat that as "cannot merge". Unlike the strict
    * [[org.apache.spark.sql.GraftShims.mergeSchemas]], int/long or
    * float/double drift widens instead of failing.
    */
  private[sources] def widenStructs(a: StructType, b: StructType): StructType = {
    import org.apache.spark.sql.types.StructField
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

  /** THE rewrite entry: every mutation, compaction and DDL op commits
    * through here, and here alone is decided which pinned files are
    * read, which are carried by reference (`_LINKS`), and under what
    * schema.
    *
    *  - [[Scope.All]] reads every pinned file ([[Pin.docs]]) and carries
    *    none: a full rewrite.
    *  - [[Scope.Files]] reads the named files under [[Pin.partialSchema]]
    *    and carries the rest.
    *  - [[Scope.Matching]] reads the files the filter may match (the
    *    `_STATS` min/max and Bloom prune) and carries the rest — copy-on-
    *    write at O(matched files). It falls back to [[Scope.All]] when
    *    pruning cannot apply, drops nothing, or one of its gates refuses.
    *
    * `transform` maps the read rows (with [[Extras.count]] observed on
    * them) to the rows the new generation holds; [[Extras.adds]] rows join
    * them. The transform is handed the read unforced, so one that ignores
    * its input never plans a read. When nothing is read, nothing is added
    * and files are carried, the commit is DATALESS: no Spark job, no
    * rowless part file (one would stay unstatted and be read by every
    * later prune). The carried files are served under the read schema,
    * or under the output's when the transform changed it or rows were
    * added. Returns the observed count (0 when nothing was read).
    */
  private[sources] def rewrite(pin: Pin, retain: Int, scope: Scope,
                               extras: Extras = Extras())(
      transform: (=> DataFrame) => DataFrame): Long = {
    import pin.{format, live, names, spark}
    // (files read, files carried, read schema); None = the full rewrite
    val partial: Option[(Seq[String], Seq[String], Option[StructType])] = scope match {
      case Scope.All => None
      case Scope.Files(read) =>
        Some((read, (names -- read).toSeq.sorted, pin.partialSchema))
      case Scope.Matching(filter, schemaSafe, _) =>
        prunedFiles(spark, pin.fs, live, format, filter, pinned = Some(names)) match {
          case Some((cand, schema)) if schemaSafe(schema) && cand.size < names.size =>
            Some((cand, (names -- cand).toSeq.sorted, Some(schema)))
          case _ => None
        }
    }
    // the one commit: `n` is the observed count, read after the write
    def commit(df: DataFrame, carried: Seq[String], served: Option[StructType],
               dataless: Boolean, n: () => Long): Long = {
      commitRewrite(pin, df, retain, extras.format.getOrElse(format), carried, served,
        dataless, extras, () => extras.late(n()))
      n()
    }
    partial match {
      case Some((Seq(), carried, schema)) if carried.nonEmpty && extras.adds.isEmpty =>
        commit(emptyFrame(spark, schema.getOrElse(new StructType())), carried, schema,
          dataless = true, () => 0L)
      case _ =>
        lazy val in: DataFrame = partial match {
          case None => pin.docs
          case Some((Seq(), _, schema)) => emptyFrame(spark, schema.getOrElse(new StructType()))
          case Some((read, _, schema)) =>
            readFiles(spark, format, schema, read.map(resolvePath(live, _)))
        }
        val obs = extras.count.map(c => (Observation(), c))
        lazy val observed = obs.fold(in) { case (o, c) =>
          in.observe(o, count(when(c, lit(1))).as("n")) }
        val out = extras.adds.foldLeft(transform(observed))(
          _.unionByName(_, allowMissingColumns = true))
        val counted = () => obs.fold(0L)(_._1.get("n").asInstanceOf[Long])
        (partial, scope) match {
          case (Some(_), Scope.Matching(_, _, outputSafe)) if !outputSafe(in.schema, out.schema) =>
            rewrite(pin, retain, Scope.All, extras)(transform)
          case (Some((_, carried, schema)), _) =>
            val served =
              if (out.schema == in.schema && extras.adds.isEmpty) schema
              else Some(out.schema)
            commit(out, carried, served, dataless = false, counted)
          case (None, _) => commit(out, Nil, None, dataless = false, counted)
        }
    }
  }

  /** One-scan rewrite into the next generation, manifest commit, then
    * cleanup — [[rewrite]]'s commit, so its one caller. The newest
    * `retain` generations survive (the previous live one always does, so
    * concurrent readers' planned file lists stay valid; retain > 2 buys
    * [[findAsOf]] time travel further back); older generations are
    * reclaimed. The pin's file list is what the rewrite's `df` was read
    * from — committed as the [[SourceFile]] record and used to salvage
    * late concurrent appends forward before anything is pruned.
    */
  private def commitRewrite(pin: Pin, df: DataFrame, retain: Int, format: String,
                            carried: Seq[String], carriedSchema: Option[StructType],
                            dataless: Boolean, extras: Extras,
                            lateSidecars: () => Map[String, Array[Byte]]): Unit = {
    import pin.{fs, path, spark}
    val sourceNames = pin.names
    val pinnedLive = pin.live
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
      // [[rewrite]] is dataless only with carried links present, so
      // genFormat still detects the format from the link entries.
      fs.mkdirs(new Path(next))
      fs.create(new Path(next, "_SUCCESS"), true).close()
    } else writeData(df, format, next)
    val stats = new Path(next, StatsDir)
    if (format == "parquet" || carried.nonEmpty || extras.stagedSchema.nonEmpty)
      fs.mkdirs(stats)
    // THE schema base the new generation serves, written once:
    //  - the caller's (`stagedSchema`): a full rewrite restoring the
    //    pinned stored schema, or a DDL verb's altered one — so it commits
    //    (or vanishes) with the data in one manifest swing;
    //  - else, for parquet, the schema just written: parquet reads back
    //    with EXACTLY the written types (unlike json, whose inference
    //    conventions differ from arbitrary df schemas), so readGen plans
    //    with zero jobs (no footer-merge pass) even when no stats pass
    //    ever runs, and appends widen it additively via sidecars;
    //  - else the schema carried files are served under: the pinned
    //    stored schema for a schema-preserving COW mutation, the widened
    //    one for a widening $set (carried files' narrower physical types
    //    read under it — [[widensTo]]).
    extras.stagedSchema
      .orElse(Option.when(format == "parquet")(df.schema))
      .orElse(carriedSchema.filter(_ => carried.nonEmpty))
      .foreach(writeSchemaBase(fs, stats, _))
    // COPY-ON-WRITE carry: files of the pinned snapshot a selective
    // mutation provably never touched are LINKED to their physical homes
    // instead of rewritten — entries always point at the physical home
    // (a carried entry that was itself a link stays as-is; a plain name's
    // home is the pinned generation), so links never chain. The sidecar
    // and the carried stats rows land before the manifest swing — atomic
    // with the data.
    if (carried.nonEmpty) {
      val pinnedGen = new Path(pinnedLive).getName
      val entries = carried.map(n => if (n.contains("/")) n else s"$pinnedGen/$n")
      writeLinks(fs, next, entries)
      // carried files' bytes are unchanged, so their stats rows (keyed by
      // basename) carry verbatim — selective mutations keep pruning
      // across generations without a re-stat pass. A pinned generation
      // without part files (schema-only sidecar, pre-stats store) has
      // nothing to carry: carried files stay covered by whatever covered
      // them before
      carryStatsLines(spark, fs, stats, Seq(StatsCarry(
        new Path(pinnedLive, StatsDir), entries.map(baseName).toSet, keep = true)))
    }
    // the freshly written files with rows, statted so the WHOLE generation
    // stays covered: with the carried geometry for a COW commit (the same
    // machinery an append uses), with the caller's pinned geometry
    // (`stagedStats`) for a full rewrite — so a crash can no longer leave
    // a compacted or renamed store stats-less between the commit and a
    // follow-up re-stat
    lazy val fresh = dataFileSizes(fs, next).toSeq.sorted
      .collect { case (n, len) if len > 0 => s"$next/$n" }
    if (carried.nonEmpty && fresh.nonEmpty)
      appendStats(spark, fs, next, format, fresh, Some(df.schema))
    extras.stagedStats.foreach { case (cols, bloomCols, bloomBits) =>
      require(carried.isEmpty,
        "docstore: stagedStats is for full rewrites only — a COW commit's " +
          "fresh files are statted by the carry discipline above")
      if (fresh.nonEmpty && (cols.nonEmpty || bloomCols.nonEmpty))
        appendStatsWith(spark, fs, next, format, fresh, cols, bloomCols, bloomBits,
          Some(df.schema))
    }
    // caller-supplied metadata sidecars land in the staged generation
    // BEFORE the manifest swing, so they commit (or vanish) atomically
    // with the data — [[syncAggregate]]'s exactly-once cursor rides this.
    // `lateSidecars` are evaluated HERE, after writeData's job completed,
    // so their bytes may read Observation metrics collected by the
    // rewrite itself (the mutation-token sidecar records the matched
    // count that way) while still landing before the swing.
    (extras.sidecars ++ lateSidecars()).foreach { case (name, bytes) =>
      require(name.startsWith("_"),
        s"docstore: sidecar names must start with '_' (got $name) so reads " +
          "never mistake them for data files")
      val out = fs.create(new Path(next, name), true)
      try out.write(bytes) finally out.close()
    }
    extras.afterStage()
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
    extras.afterPublish()
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

private[sources] object DocStoreCommit {

  /** Which pinned files a [[DocStoreCommit.rewrite]] reads; every other
    * pinned file is carried by reference.
    */
  sealed trait Scope
  object Scope {
    /** Every pinned file: a full rewrite. */
    case object All extends Scope
    /** The named files (read in this order), under the pin's complete
      * read schema.
      */
    final case class Files(read: Seq[String]) extends Scope
    /** The files `filter` may match per the `_STATS` prune, when
      * `schemaSafe` accepts the stored schema and `outputSafe` the
      * transform's (read, output) schemas — else a full rewrite.
      */
    final case class Matching(filter: Column,
                              schemaSafe: StructType => Boolean,
                              outputSafe: (StructType, StructType) => Boolean =
                                (_, _) => true) extends Scope
  }

  /** What a [[DocStoreCommit.rewrite]] commits beside the rows:
    *  - `count`: read rows to count where this is true, observed on the
    *    rewrite job itself (no second scan) and returned;
    *  - `adds`: rows the new generation holds beside the transformed read;
    *  - `format`: the output format (None keeps the pinned one);
    *  - `sidecars`, and `late` sidecars built from the count after the
    *    write — both land in the staged generation, before the swing;
    *  - `stagedSchema` / `stagedStats`: the served schema and the stats
    *    geometry (min/max columns, Bloom columns, Bloom bits) a full
    *    rewrite restores inside the same commit;
    *  - `afterStage` / `afterPublish`: test seams.
    */
  final case class Extras(count: Option[Column] = None,
                          adds: Option[DataFrame] = None,
                          format: Option[String] = None,
                          sidecars: Map[String, Array[Byte]] = Map.empty,
                          late: Long => Map[String, Array[Byte]] = _ => Map.empty,
                          stagedSchema: Option[StructType] = None,
                          stagedStats: Option[(Seq[String], Seq[String], Int)] = None,
                          afterStage: () => Unit = () => (),
                          afterPublish: () => Unit = () => ())

  /** One source of a [[carryStatsLines]] pass: the lines of the stats dir
    * `stats` whose `file` key is in `files` (`keep`), or is not (`!keep`).
    */
  final case class StatsCarry(stats: Path, files: Set[String], keep: Boolean)

  /** One generation of the committed chain and its [[SourceFile]] record
    * (None for the collection's first generation, which no rewrite wrote).
    */
  private[sources] final case class Committed(id: Int, dir: String,
                                              source: Option[(String, Set[String])])
}
