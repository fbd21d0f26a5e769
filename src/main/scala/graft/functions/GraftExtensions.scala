package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.LongType

/** SparkSessionExtensions wiring: exposes graft's custom expressions to
  * the SQL surface, so `spark.sql("SELECT simhash64(split(text, ' '))")`
  * works exactly like the Column API in [[functions]].
  *
  * Register via `.withExtensions(new GraftExtensions)` (done by
  * graft.core.Sessions) or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Exact-arity guard: a clear signature message instead of the raw
    * IndexOutOfBoundsException plan resolution would otherwise surface.
    */
  private def arity(args: Seq[Expression], n: Int, usage: String): Unit =
    require(args.length == n, s"$usage takes exactly $n arguments")

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }
  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name must be a long literal, got $other")
  }
  private def strArg(e: Expression, name: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) if v != null =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }
  private def doubleArg(e: Expression, name: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue // SQL 0.5 parses decimal
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$name must be a numeric literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array"),
      (args: Seq[Expression]) => SimHash64(args.head)))

    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(str) - Unicode NFC canonical composition"),
      (args: Seq[Expression]) => NfcNormalize(args.head)))

    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, numHashes, seed) - MinHash signature"),
      (args: Seq[Expression]) => MinHashSig(args.head,
        intArg(args(1), "numHashes"),
        if (args.length > 2) longArg(args(2), "seed") else 42L)))

    ext.injectFunction((FunctionIdentifier("rhp_sig"),
      info("rhp_sig", "rhp_sig(embedding, numPlanes, seed) - hyperplane LSH signature"),
      (args: Seq[Expression]) => RhpSig(args.head,
        intArg(args(1), "numPlanes"),
        if (args.length > 2) longArg(args(2), "seed") else 42L)))

    ext.injectFunction((FunctionIdentifier("ngrams"),
      info("ngrams", "ngrams(tokens, n[, distinct]) - space-joined word n-grams"),
      (args: Seq[Expression]) => Ngrams(args.head,
        intArg(args(1), "n"),
        if (args.length > 2) args(2) match {
          case Literal(v: Boolean, _) => v
          case other => throw new IllegalArgumentException(
            s"distinct must be a boolean literal, got $other")
        } else false)))

    ext.injectFunction((FunctionIdentifier("passjoin_index_keys"),
      info("passjoin_index_keys",
        "passjoin_index_keys(s, tau) - PassJoin segment keys (index side)"),
      (args: Seq[Expression]) => PassJoinIndexKeys(args.head, intArg(args(1), "tau"))))

    ext.injectFunction((FunctionIdentifier("passjoin_probe_keys"),
      info("passjoin_probe_keys",
        "passjoin_probe_keys(s, tau) - PassJoin candidate keys (probe side)"),
      (args: Seq[Expression]) => PassJoinProbeKeys(args.head, intArg(args(1), "tau"))))

    ext.injectFunction((FunctionIdentifier("zorder_key"),
      info("zorder_key",
        "zorder_key(x, y[, bits]) - Morton/Z-order interleave of two longs"),
      // cast like the Column wrapper does, so int columns work from SQL too
      (args: Seq[Expression]) => ZorderKey(Cast(args.head, LongType), Cast(args(1), LongType),
        if (args.length > 2) intArg(args(2), "bits") else 16)))

    ext.injectFunction((FunctionIdentifier("zorder_key3"),
      info("zorder_key3",
        "zorder_key3(x, y, z[, bits]) - Morton/Z-order interleave of three longs"),
      (args: Seq[Expression]) => ZorderKey3(Cast(args.head, LongType),
        Cast(args(1), LongType), Cast(args(2), LongType),
        if (args.length > 3) intArg(args(3), "bits") else 16)))

    ext.injectFunction((FunctionIdentifier("shingles_sorted"),
      info("shingles_sorted",
        "shingles_sorted(tokens, k) - sorted distinct space-joined word " +
          "k-shingles (whole text as one shingle when tokens < k)"),
      (args: Seq[Expression]) => Shingles(args.head, intArg(args(1), "k"))))

    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - intersection size of two sorted " +
          "duplicate-free string arrays (merge walk)"),
      (args: Seq[Expression]) => SortedIntersectCount(args.head, args(1))))

    // ---- stored mergeable quantile sketch, SQL surface (aggregates
    // register like scalars: the analyzer wraps a returned
    // AggregateFunction itself)
    ext.injectFunction((FunctionIdentifier("quantile_sketch"),
      info("quantile_sketch",
        "quantile_sketch(col[, k]) - storable mergeable quantile sketch bytes"),
      (args: Seq[Expression]) => QuantileSketchAgg(
        Cast(args.head, org.apache.spark.sql.types.DoubleType),
        if (args.length > 1) intArg(args(1), "k") else 256)))

    ext.injectFunction((FunctionIdentifier("quantile_sketch_merge"),
      info("quantile_sketch_merge",
        "quantile_sketch_merge(sketch) - merge stored quantile sketches"),
      (args: Seq[Expression]) => QuantileSketchMergeAgg(args.head)))

    ext.injectFunction((FunctionIdentifier("kmv_sketch"),
      info("kmv_sketch",
        "kmv_sketch(hash, k) - KMV distinct sketch: ascending array of " +
          "the k smallest distinct long values (pair with a deterministic " +
          "hash; see ops.Kmv for the estimators)"),
      (args: Seq[Expression]) => KmvAgg(
        Cast(args.head, LongType), intArg(args(1), "k"))))

    ext.injectFunction((FunctionIdentifier("sketch_count"),
      info("sketch_count",
        "sketch_count(sketch) - rows summarized by a stored quantile sketch"),
      (args: Seq[Expression]) => SketchCount(args.head)))

    ext.injectFunction((FunctionIdentifier("sketch_quantiles"),
      info("sketch_quantiles",
        "sketch_quantiles(sketch, probs) - quantile estimates; probs is " +
          "any array<double> expression (literal or per-row column)"),
      (args: Seq[Expression]) => SketchQuantiles(args.head,
        Cast(args(1), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))))

    // ---- table-valued functions: the two most differentiated WHOLE-
    // OPERATOR surfaces (exact set-similarity join, as-of join) reachable
    // from SQL like every scalar above. The builder runs at analysis time
    // with the active session, resolves the named tables/views, builds the
    // operator's DataFrame through the SAME Column-API code path, and
    // hands its logical plan to the analyzer — so SQL and Column paths are
    // one implementation, not two (row identity pinned in SqlSurfaceSpec).

    ext.injectTableFunction((FunctionIdentifier("setsim_self_join"),
      info("setsim_self_join",
        "setsim_self_join(table, idCol, textCol, num, den) - exact " +
          "Jaccard-threshold self-join (J >= num/den) via AllPairs/PPJoin " +
          "prefix filtering; returns (id_a, id_b, inter, uni, jaccard)"),
      (args: Seq[Expression]) => {
        arity(args, 5, "setsim_self_join(table, idCol, textCol, num, den)")
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args.head, "table"))
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.dedup.SetSimJoin.selfJoin(df,
            strArg(args(1), "idCol"), strArg(args(2), "textCol"),
            intArg(args(3), "num"), intArg(args(4), "den")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore"),
      info("docstore",
        "docstore(path[, generation]) - read a DocStore collection from " +
          "SQL: the live snapshot, or time travel to a retained generation"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val path = strArg(args.head, "path")
        org.apache.spark.sql.GraftShims.logicalPlan(
          if (args.length > 1)
            graft.sources.DocStore.findAsOf(spark, path, intArg(args(1), "generation"))
          else graft.sources.DocStore.find(spark, path))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_changes"),
      info("docstore_changes",
        "docstore_changes(path, sinceGeneration, keyCol) - CDC from SQL: " +
          "every (key, change, before, after, generation) between a " +
          "retained generation and the head, the changesSince surface"),
      (args: Seq[Expression]) => {
        arity(args, 3, "docstore_changes(path, sinceGeneration, keyCol)")
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.sources.DocStore.changesSince(spark,
            strArg(args.head, "path"), intArg(args(1), "sinceGeneration"),
            strArg(args(2), "keyCol")))
      }))

    ext.injectTableFunction((FunctionIdentifier("neardup_probe"),
      info("neardup_probe",
        "neardup_probe(table, indexPath, idCol, textCol, k, threshold) - " +
          "read-only contamination probe: which docs of `table` are " +
          "near-duplicates of the corpus indexed by ingestToNearDupIndex " +
          "at indexPath; returns (id_a = probe id, id_b = indexed id, " +
          "jaccard). The index is untouched; probe-vs-probe pairs are " +
          "not reported."),
      (args: Seq[Expression]) => {
        arity(args, 6,
          "neardup_probe(table, indexPath, idCol, textCol, k, threshold)")
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args.head, "table"))
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.streaming.Streams.probeNearDupIndex(df,
            strArg(args(1), "indexPath"),
            idCol = strArg(args(2), "idCol"),
            textCol = strArg(args(3), "textCol"),
            k = intArg(args(4), "k"),
            threshold = doubleArg(args(5), "threshold")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_cow_stats"),
      info("docstore_cow_stats",
        "docstore_cow_stats(path[, retain]) - per-generation COW storage " +
          "accounting: data bytes, bytes the live generation still " +
          "references, dead bytes, live fraction, retention-window " +
          "membership — the vacuum-debt dashboard. Read-only metadata."),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.sources.DocStore.cowStats(spark, strArg(args.head, "path"),
            if (args.length > 1) intArg(args(1), "retain") else 2))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_vacuum"),
      info("docstore_vacuum",
        "docstore_vacuum(path[, minLiveFraction[, retain]]) - incremental " +
          "COW-garbage reclaim (DocStore.vacuum): re-home the live " +
          "generation's carried files of mostly-dead home generations at " +
          "O(their live bytes); returns one row (rehomed). Naturally " +
          "idempotent — a second call finds nothing under the threshold " +
          "and commits nothing, so analyzer double-evaluation is safe."),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = graft.sources.DocStore.vacuum(spark,
          strArg(args.head, "path"),
          if (args.length > 1) doubleArg(args(1), "minLiveFraction") else 0.5,
          if (args.length > 2) intArg(args(2), "retain") else 2)
        org.apache.spark.sql.GraftShims.logicalPlan(
          spark.range(1).select(
            org.apache.spark.sql.functions.lit(n).as("rehomed")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_cluster_stats"),
      info("docstore_cluster_stats",
        "docstore_cluster_stats(path, keyCol) - clustering-quality " +
          "dashboard: one row per live-generation file with its " +
          "stats-time key range and a status (disjoint / overlapping / " +
          "unstatted) — what recluster would rewrite. Read-only metadata."),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        require(args.length == 2,
          "docstore_cluster_stats(path, keyCol) takes exactly 2 arguments")
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.sources.DocStore.clusterStats(spark,
            strArg(args.head, "path"), strArg(args(1), "keyCol")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_recluster"),
      info("docstore_recluster",
        "docstore_recluster(path, keyCol[, maxFileBytes]) - incremental " +
          "clustering maintenance (DocStore.recluster): sort-rewrite only " +
          "the files whose key ranges overlap, carrying the disjoint rest " +
          "by reference; returns one row (rewritten). Naturally " +
          "idempotent — a converged layout has no overlap groups and a " +
          "second call commits nothing, so analyzer double-evaluation is " +
          "safe."),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        require(args.length >= 2,
          "docstore_recluster(path, keyCol[, maxFileBytes]) takes 2 or 3 " +
            "arguments")
        val n = graft.sources.DocStore.recluster(spark,
          strArg(args.head, "path"), strArg(args(1), "keyCol"),
          maxFileBytes =
            if (args.length > 2) longArg(args(2), "maxFileBytes") else 1L << 28)
        org.apache.spark.sql.GraftShims.logicalPlan(
          spark.range(1).select(
            org.apache.spark.sql.functions.lit(n).as("rewritten")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_fsck"),
      info("docstore_fsck",
        "docstore_fsck(path[, retain]) - read-only integrity check of a " +
          "DocStore collection: one (severity, code, detail) row per " +
          "finding, empty = healthy; metadata-only, never repairs or " +
          "deletes. Pass the retention the store's mutations run with " +
          "(default 2) so window-vs-drift severities match the promise"),
      (args: Seq[Expression]) => {
        require(args.nonEmpty,
          "docstore_fsck(path[, retain]) takes 1 or 2 arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.sources.DocStore.fsck(spark, strArg(args.head, "path"),
            if (args.length > 1) intArg(args(1), "retain") else 2))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_history"),
      info("docstore_history",
        "docstore_history(path) - commit-log dashboard: one metadata-only " +
          "row per retained committed generation (live flag, physical vs " +
          "carried file counts, bytes, schema width, mutation-token / " +
          "sync-cursor markers, full readability)"),
      (args: Seq[Expression]) => {
        arity(args, 1, "docstore_history(path)")
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.sources.DocStore.history(spark, strArg(args.head, "path")))
      }))

    ext.injectTableFunction((FunctionIdentifier("knn_search"),
      info("knn_search",
        "knn_search(corpusTable, queryTable, idCol, embCol, k) - exact " +
          "cosine top-k of each query among the corpus rows (self-matches " +
          "by id excluded); returns (q_id, rk, <idCol>, cos). The corpus " +
          "argument resolves views, so FILTERED vector search from SQL is " +
          "a view over any predicate/join — the e11 shape. Model-free by " +
          "design: the fitted ANN paths (IVF/PQ/adaptive) stay on the " +
          "Column API where their fit-once caches live."),
      (args: Seq[Expression]) => {
        arity(args, 5, "knn_search(corpusTable, queryTable, idCol, embCol, k)")
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.sim.Ann.bruteForceTopK(
            spark.table(strArg(args.head, "corpusTable")),
            spark.table(strArg(args(1), "queryTable")),
            k = intArg(args(4), "k"),
            idCol = strArg(args(2), "idCol"),
            embCol = strArg(args(3), "embCol")))
      }))

    ext.injectTableFunction((FunctionIdentifier("asof_join"),
      info("asof_join",
        "asof_join(leftTable, rightTable, keys, leftTs, rightTs, valueCol, " +
          "outCol) - most-recent-prior join: each left row gets valueCol " +
          "from the right row with the greatest rightTs <= leftTs per key " +
          "(keys comma-separated; ties resolve to the right row)"),
      (args: Seq[Expression]) => {
        arity(args, 7,
          "asof_join(leftTable, rightTable, keys, leftTs, rightTs, valueCol, outCol)")
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.ops.AsOf.joinAsOf(
            spark.table(strArg(args.head, "leftTable")),
            spark.table(strArg(args(1), "rightTable")),
            strArg(args(2), "keys").split(",").map(_.trim).toSeq,
            leftTs = strArg(args(3), "leftTs"),
            rightTs = strArg(args(4), "rightTs"),
            valueCol = strArg(args(5), "valueCol"),
            outCol = strArg(args(6), "outCol")))
      }))

    // ---- index/view MAINTENANCE from SQL: the sync loops (d6/d7 shape)
    // were Column-API only; these make the whole poll drivable from pure
    // SQL like probe (neardup_probe) and CDC (docstore_changes) already
    // are. The builder runs the poll at analysis time — safe even if the
    // analyzer evaluates it twice, because both syncs are exactly-once
    // idempotent at their committed cursor (a repeated poll is a no-op)
    // and the RETURNED relation is the maintained STATE (view / matches
    // table), which is identical before and after a no-op poll.

    // ---- corpus MUTATION verbs from SQL. Unlike the sync polls below
    // (naturally idempotent at their committed cursor), updateMany/
    // deleteMany are NOT replay-idempotent — and TVF builders can run
    // more than once per statement (the analyzer may re-resolve a plan).
    // The REQUIRED token argument closes both holes with one mechanism:
    // the mutation commits the token (plus its count) as a generation
    // sidecar, and any retained-window replay — an analyzer double-
    // evaluation OR an at-least-once orchestrator retry — returns the
    // recorded count without mutating. Returned relation: one row with
    // the matched/deleted count.

    def countRow(n: Long, colName: String) = {
      val spark = org.apache.spark.sql.SparkSession.active
      org.apache.spark.sql.GraftShims.logicalPlan(
        spark.range(1).select(
          org.apache.spark.sql.functions.lit(n).as(colName)))
    }

    ext.injectTableFunction((FunctionIdentifier("docstore_maintain"),
      info("docstore_maintain",
        "docstore_maintain(path[, keyCol[, maxDataFiles, smallBytes, " +
          "maxOverlapping, minLiveFraction]]) - the whole maintenance " +
          "triad as one idempotent call (DocStore.maintain): merge the " +
          "small-file append tail, restore key-range disjointness, " +
          "reclaim COW garbage — each leg incremental and a no-op while " +
          "its threshold holds. Returns (compacted, reclustered, " +
          "rehomed). Convergent: a healthy store commits nothing, so " +
          "analyzer double-evaluation is safe."),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 6,
          "docstore_maintain(path[, keyCol[, maxDataFiles, smallBytes, " +
            "maxOverlapping, minLiveFraction]]) takes 1 to 6 arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val r = graft.sources.DocStore.maintain(spark,
          strArg(args.head, "path"),
          keyCol = if (args.length > 1) Some(strArg(args(1), "keyCol")) else None,
          maxDataFiles =
            if (args.length > 2) intArg(args(2), "maxDataFiles") else 64,
          smallBytes =
            if (args.length > 3) longArg(args(3), "smallBytes") else 1L << 24,
          maxOverlapping =
            if (args.length > 4) intArg(args(4), "maxOverlapping") else 0,
          minLiveFraction =
            if (args.length > 5) doubleArg(args(5), "minLiveFraction") else 0.5)
        org.apache.spark.sql.GraftShims.logicalPlan(
          spark.range(1).select(
            org.apache.spark.sql.functions.lit(r.compacted).as("compacted"),
            org.apache.spark.sql.functions.lit(r.reclustered).as("reclustered"),
            org.apache.spark.sql.functions.lit(r.rehomed).as("rehomed")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_maintain_all"),
      info("docstore_maintain_all",
        "docstore_maintain_all(path[, keyCol[, maxDataFiles, " +
          "maxBatchDirs]]) - the whole maintenance story as one call: " +
          "the store triad (Streams.maintainAll -> DocStore.maintain), " +
          "then every derived index the sync entry points registered " +
          "against the store folds its batch dirs. Threshold-gated and " +
          "idempotent: healthy = listings only. Returns (compacted, " +
          "reclustered, rehomed, indexes, folded)."),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 4,
          "docstore_maintain_all(path[, keyCol[, maxDataFiles, " +
            "maxBatchDirs]]) takes 1 to 4 arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val r = graft.streaming.Streams.maintainAll(spark,
          strArg(args.head, "path"),
          keyCol = if (args.length > 1) Some(strArg(args(1), "keyCol")) else None,
          maxDataFiles =
            if (args.length > 2) intArg(args(2), "maxDataFiles") else 64,
          maxBatchDirs =
            if (args.length > 3) intArg(args(3), "maxBatchDirs") else 8)
        org.apache.spark.sql.GraftShims.logicalPlan(
          spark.range(1).select(
            org.apache.spark.sql.functions.lit(r.store.compacted).as("compacted"),
            org.apache.spark.sql.functions.lit(r.store.reclustered).as("reclustered"),
            org.apache.spark.sql.functions.lit(r.store.rehomed).as("rehomed"),
            org.apache.spark.sql.functions.lit(r.indexesFolded.size).as("indexes"),
            org.apache.spark.sql.functions.lit(r.indexesFolded.values.sum).as("folded")))
      }))

    // metadata-only DDL verbs: one rowless commit that carries every data
    // file by reference and changes only the stored schema — O(1) in data
    // bytes. All three are convergent-idempotent (re-applying is a no-op),
    // which is what makes them safe under analyzer double-evaluation.
    // `committed` reflects THIS evaluation (the vacuum/recluster `rehomed`/
    // `rewritten` convention): if the analyzer evaluated the statement
    // twice, the kept plan is the converged second pass and reads false
    // even though the statement's first pass committed — key scripts on
    // the post-state (the schema), not on the flag.
    def boolRow(b: Boolean) = {
      val spark = org.apache.spark.sql.SparkSession.active
      org.apache.spark.sql.GraftShims.logicalPlan(
        spark.range(1).select(
          org.apache.spark.sql.functions.lit(b).as("committed")))
    }

    ext.injectTableFunction((FunctionIdentifier("docstore_add_column"),
      info("docstore_add_column",
        "docstore_add_column(path, name, typeDdl) - metadata-only ADD " +
          "COLUMN (nullable; existing files read it as null). Convergent: " +
          "already present at the same type is a no-op; a different type " +
          "fails. Returns (committed)."),
      (args: Seq[Expression]) => {
        arity(args, 3, "docstore_add_column(path, name, typeDdl)")
        val spark = org.apache.spark.sql.SparkSession.active
        boolRow(graft.sources.DocStore.addColumn(spark,
          strArg(args.head, "path"), strArg(args(1), "name"),
          org.apache.spark.sql.types.DataType.fromDDL(
            strArg(args(2), "typeDdl"))))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_drop_column"),
      info("docstore_drop_column",
        "docstore_drop_column(path, name) - metadata-only DROP COLUMN " +
          "(bytes stay in carried files until natural rewrites; no read " +
          "serves them). Convergent: absent column is a no-op. Returns " +
          "(committed)."),
      (args: Seq[Expression]) => {
        arity(args, 2, "docstore_drop_column(path, name)")
        val spark = org.apache.spark.sql.SparkSession.active
        boolRow(graft.sources.DocStore.dropColumn(spark,
          strArg(args.head, "path"), strArg(args(1), "name")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_widen_column"),
      info("docstore_widen_column",
        "docstore_widen_column(path, name, typeDdl) - metadata-only type " +
          "widening (int -> long, float -> double; files upcast at scan). " +
          "Convergent: already at the target type is a no-op. Returns " +
          "(committed)."),
      (args: Seq[Expression]) => {
        arity(args, 3, "docstore_widen_column(path, name, typeDdl)")
        val spark = org.apache.spark.sql.SparkSession.active
        boolRow(graft.sources.DocStore.widenColumn(spark,
          strArg(args.head, "path"), strArg(args(1), "name"),
          org.apache.spark.sql.types.DataType.fromDDL(
            strArg(args(2), "typeDdl"))))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_rename_column"),
      info("docstore_rename_column",
        "docstore_rename_column(path, from, to) - RENAME COLUMN as a " +
          "one-scan rewrite (name-based schemas have no field ids, so a " +
          "metadata-only rename would silently null the column in carried " +
          "files — the Delta column-mapping caveat); stats geometry " +
          "follows the rename. Convergent: from absent with to present " +
          "is the replayed-verb no-op. Returns (committed)."),
      (args: Seq[Expression]) => {
        arity(args, 3, "docstore_rename_column(path, from, to)")
        val spark = org.apache.spark.sql.SparkSession.active
        boolRow(graft.sources.DocStore.renameColumn(spark,
          strArg(args.head, "path"), strArg(args(1), "from"),
          strArg(args(2), "to")))
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_update"),
      info("docstore_update",
        "docstore_update(path, token, filterSql, col1, valueSql1[, col2, " +
          "valueSql2...]) - $set-style conditional update of a DocStore " +
          "collection from SQL (DocStore.updateMany: copy-on-write when " +
          "stats prune, schema evolution for new columns). `token` makes " +
          "the statement idempotent within the retention window; returns " +
          "one row (matched)."),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        require(args.length >= 5 && (args.length - 3) % 2 == 0,
          "docstore_update(path, token, filterSql, col, valueSql, ...): " +
            "column/value arguments must come in pairs")
        val set = args.drop(3).grouped(2).map { pair =>
          strArg(pair(0), "column") ->
            org.apache.spark.sql.functions.expr(strArg(pair(1), "valueSql"))
        }.toMap
        val n = graft.sources.DocStore.updateMany(spark,
          strArg(args.head, "path"),
          org.apache.spark.sql.functions.expr(strArg(args(2), "filterSql")),
          set, token = Some(strArg(args(1), "token")))
        countRow(n, "matched")
      }))

    ext.injectTableFunction((FunctionIdentifier("docstore_delete"),
      info("docstore_delete",
        "docstore_delete(path, token, filterSql) - filtered delete of a " +
          "DocStore collection from SQL (DocStore.deleteMany: " +
          "copy-on-write when stats prune; delete protection stays on — " +
          "no delete-all from this surface). `token` makes the statement " +
          "idempotent within the retention window; returns one row " +
          "(deleted)."),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        require(args.length == 3,
          "docstore_delete(path, token, filterSql) takes exactly 3 arguments")
        val n = graft.sources.DocStore.deleteMany(spark,
          strArg(args.head, "path"),
          Some(org.apache.spark.sql.functions.expr(strArg(args(2), "filterSql"))),
          token = Some(strArg(args(1), "token")))
        countRow(n, "deleted")
      }))

    ext.injectTableFunction((FunctionIdentifier("sync_aggregate"),
      info("sync_aggregate",
        "sync_aggregate(srcPath, dstPath, keyCol, groupCol, sumColsCsv) - " +
          "poll incremental aggregate-view maintenance (DocStore" +
          ".syncAggregate: cursor CDC folds appends/updates/deletes into " +
          "a per-group (cnt, sum_<col>...) view at O(delta + view) cost, " +
          "exactly-once) and return the maintained view"),
      (args: Seq[Expression]) => {
        arity(args, 5, "sync_aggregate(srcPath, dstPath, keyCol, groupCol, sumColsCsv)")
        val spark = org.apache.spark.sql.SparkSession.active
        val dst = strArg(args(1), "dstPath")
        graft.sources.DocStore.syncAggregate(spark,
          strArg(args.head, "srcPath"), dst,
          keyCol = strArg(args(2), "keyCol"),
          groupCol = strArg(args(3), "groupCol"),
          sumCols = strArg(args(4), "sumColsCsv").split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq)
        org.apache.spark.sql.GraftShims.logicalPlan(
          graft.sources.DocStore.find(spark, dst))
      }))

    ext.injectTableFunction((FunctionIdentifier("sync_neardup"),
      info("sync_neardup",
        "sync_neardup(srcPath, indexPath, idCol, textCol, k, threshold) - " +
          "poll CDC-driven near-dup index maintenance (Streams" +
          ".syncNearDupIndex: appended docs matched at arrival, deletes " +
          "taken down, changed text re-indexed, O(changed docs) per poll) " +
          "and return the index's full verified match table"),
      (args: Seq[Expression]) => {
        arity(args, 6,
          "sync_neardup(srcPath, indexPath, idCol, textCol, k, threshold)")
        val spark = org.apache.spark.sql.SparkSession.active
        val idx = strArg(args(1), "indexPath")
        graft.streaming.Streams.syncNearDupIndex(spark,
          strArg(args.head, "srcPath"), idx,
          idCol = strArg(args(2), "idCol"),
          textCol = strArg(args(3), "textCol"),
          k = intArg(args(4), "k"),
          threshold = doubleArg(args(5), "threshold"))
        val matches = s"$idx/matches"
        val fs = new org.apache.hadoop.fs.Path(idx)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        org.apache.spark.sql.GraftShims.logicalPlan(
          if (fs.exists(new org.apache.hadoop.fs.Path(matches)))
            spark.read.parquet(matches).select("id_a", "id_b", "jaccard")
          else {
            import spark.implicits._
            Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "jaccard")
          })
      }))

    ext.injectTableFunction((FunctionIdentifier("compact_neardup_index"),
      info("compact_neardup_index",
        "compact_neardup_index(indexPath[, maxBatchDirs]) - fold a " +
          "near-dup index's accumulated per-poll batch_id dirs (keys/" +
          "shingles/matches) into one consolidated dir each when any " +
          "parent exceeds maxBatchDirs (default 1) — the index-side " +
          "small-file maintenance; probe results are row-identical " +
          "before/after. Naturally idempotent (a consolidated index is " +
          "under every threshold), crash-safe via the intent protocol. " +
          "Returns one row (folded). Single-maintainer: do not run while " +
          "a poll/ingest is in flight."),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 2,
          "compact_neardup_index(indexPath[, maxBatchDirs]) takes 1 or 2 " +
            "arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val n = graft.streaming.Streams.compactNearDupIndex(spark,
          strArg(args.head, "indexPath"),
          if (args.length > 1) intArg(args(1), "maxBatchDirs") else 1)
        org.apache.spark.sql.GraftShims.logicalPlan(
          spark.range(1).select(
            org.apache.spark.sql.functions.lit(n).as("folded")))
      }))

    ext.injectTableFunction((FunctionIdentifier("compact_ivf_index"),
      info("compact_ivf_index",
        "compact_ivf_index(indexPath[, maxBatchDirs]) - fold an IVF ANN " +
          "index's accumulated per-poll batch_id dirs into one " +
          "consolidated per-cell dir when the count exceeds maxBatchDirs " +
          "(default 1); knn results are row-identical before/after. " +
          "Naturally idempotent, crash-safe via the intent protocol. " +
          "Returns one row (folded). Single-maintainer: do not run while " +
          "a poll/ingest is in flight."),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 2,
          "compact_ivf_index(indexPath[, maxBatchDirs]) takes 1 or 2 " +
            "arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val n = graft.streaming.Streams.compactIvfIndex(spark,
          strArg(args.head, "indexPath"),
          if (args.length > 1) intArg(args(1), "maxBatchDirs") else 1)
        org.apache.spark.sql.GraftShims.logicalPlan(
          spark.range(1).select(
            org.apache.spark.sql.functions.lit(n).as("folded")))
      }))
  }
}
