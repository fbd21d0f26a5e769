package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.functions.minhash_sig

/** MinHash + LSH near-duplicate detection over a document corpus.
  *
  * Scale design (the whole point — never all-pairs):
  *  1. shingle -> minhash signature (one narrow pass, custom codegen'd
  *     expression [[graft.functions.MinHashSig]]),
  *  2. banding: signature split into `bands` bands of `rowsPerBand` hashes;
  *     each band hashes to one shuffle key -> candidate generation is a
  *     self-equi-join on (band, bandHash), cost ~ sum of bucket^2 instead
  *     of corpus^2,
  *  3. oversized buckets (degenerate content, e.g. empty docs) are capped
  *     and logged out rather than allowed to produce a quadratic blowup,
  *  4. candidates are verified with exact shingle-set Jaccard before being
  *     called duplicates,
  *  5. groups come from connected components over the verified pair graph —
  *     driver union-find when the pair set is small (the common case),
  *     large-star/small-star contraction ([[Components]], O(log n) rounds
  *     independent of diameter) when it is not.
  *
  * The reference has only exact dedup (/root/reference/dags/CotyData_IPN.py:166);
  * this is the brief's scale-path extension.
  */
object MinHashDedup {

  /** Word-level k-shingles over a token array: SORTED, duplicate-free
    * (one codegen'd kernel, [[graft.functions.Shingles]] — the composed
    * higher-order form evaluated interpreted, re-slicing the token array
    * per shingle). Sorted output is the verify stage's contract: exact
    * Jaccard runs as a merge walk ([[graft.functions.TextImpls.sortedIntersectCount]])
    * instead of array_intersect/array_union's per-pair hash-set builds.
    * MinHash signatures are order-independent, so banding is unaffected.
    */
  def shingles(toks: Column, k: Int): Column =
    graft.functions.functions.shingles_sorted(toks, k)

  /** (id, shingle-set) projection — tokenize in one projection, shingle in
    * the next, compute once, cache, feed both the signature and the
    * verify stages. `sh` is sorted and duplicate-free (see `shingles`).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__toks"))
      .select(col(idCol), shingles(col("__toks"), k).as("sh"))

  /** doc_id, band, band_hash — the LSH shuffle keys.
    *
    * Default geometry 16 bands x 4 rows: the S-curve threshold is
    * (1/b)^(1/r) = 0.5, so pairs at Jaccard 0.7 collide in >=1 band with
    * ~99% probability (vs ~60% for 16x8) — recall comes from the banding,
    * precision from the exact-Jaccard verify stage.
    */
  def bandKeys(df: DataFrame, idCol: String, textCol: String,
               k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
               seed: Long = 42L): DataFrame =
    bandKeysFromShingles(shingleSets(df, idCol, textCol, k), idCol, bands, rowsPerBand, seed)

  def bandKeysFromShingles(sh: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
                           seed: Long = 42L): DataFrame = {
    val sig = minhash_sig(col("sh"), bands * rowsPerBand, seed)
    sh.select(col(idCol), sig.as("sig"))
      .select(col(idCol), posexplode(array(
        (0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** Candidate pairs (a < b) from shared LSH buckets. Buckets larger than
    * `maxBucket` are dropped (degenerate keys) — every drop is counted and
    * logged via [[BucketDrops]]; callers needing those must handle them
    * upstream (e.g. exact-dedup empty documents first).
    */
  def candidatePairs(keys: DataFrame, idCol: String, maxBucket: Int = 1000): DataFrame = {
    // ONE exchange of the key table: bucket members aggregate into a
    // per-bucket list (partial-agg'd map-side), the cap filter runs on
    // the list's size (same counted-drop semantics via [[BucketDrops]]),
    // and pairs fan out in a projection over the capped list. The former
    // shape paid THREE exchanges of the key table — the count groupBy,
    // the keep-under-cap join back, and the a x b self-join — to reach
    // the same pair set; the cap bounds the per-bucket pair expression
    // exactly as it bounded the join fan-out. Sorting the deduped member
    // list makes (xs(i), xs(j)) with i < j reproduce the id_a < id_b
    // contract in the element type's own order; null ids pair nothing
    // (the old join's null < id predicate dropped them the same way).
    val buckets = keys.groupBy("band", "band_hash")
      .agg(collect_list(col(idCol)).as("__ids"))
      .withColumn("__n", size(col("__ids")).cast("long"))
    val under = BucketDrops.keepUnderCap(buckets, "__n", maxBucket, "minhash")
    // stage the sorted member list in its OWN projection (the `shingles`
    // lesson: a lambda body re-evaluates per element with no
    // subexpression elimination — sorting inside the pair lambda would
    // re-sort per member)
    under
      .select(array_sort(array_distinct(
        filter(col("__ids"), x => x.isNotNull))).as("__m"))
      .select(explode(flatten(transform(col("__m"), (x, i) =>
        transform(slice(col("__m"), i + lit(2), size(col("__m"))),
          y => array(x, y))))).as("__p"))
      .select(element_at(col("__p"), 1).as("id_a"),
        element_at(col("__p"), 2).as("id_b"))
      .distinct()
  }

  /** Exact shingle-set Jaccard for candidate verification. */
  def verifiedPairs(docs: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, threshold: Double = 0.7): DataFrame =
    verifiedPairsFromShingles(shingleSets(docs, idCol, textCol, k), pairs, idCol, threshold)

  /** `sh` arrays must be SORTED and duplicate-free (the [[shingleSets]]
    * contract): the exact Jaccard is one merge walk per pair —
    * |A∩B| = sorted_intersect_count, |A∪B| = |A| + |B| - |A∩B| — the
    * identical integers array_intersect/array_union produced, without
    * their per-pair UTF8String hash-set allocation (the SetSimJoin
    * verify-kernel measurement). A persisted near-dup index whose `_META`
    * lacks the `shingles_sorted` flag is refused before it reaches here
    * (see `Streams.requireNearDupGeometry`).
    */
  def verifiedPairsFromShingles(sh: DataFrame, pairs: DataFrame, idCol: String,
                                threshold: Double): DataFrame = {
    val withA = pairs.join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
    val withB = withA.join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    val inter = graft.functions.functions
      .sorted_intersect_count(col("sh_a"), col("sh_b"))
    withB.withColumn("jaccard",
        inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Assign each doc the min doc-id of its near-dup connected component,
    * fully distributed: large-star/small-star contraction over the pair
    * graph ([[Components.labels]] — O(log n) rounds regardless of component
    * diameter, each round two shuffles bounded by the edge set, never the
    * corpus). Docs outside the pair graph keep their own id without
    * touching an iteration.
    */
  def groups(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val lbl = Components.labels(pairs)
    docs.select(col(idCol))
      .join(lbl, col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol).cast("long")).as("group_id"))
  }

  /** Driver-side union-find over a SMALL pair set. Dup pairs are a tiny
    * fraction of any real corpus (the pair graph, not the corpus, must fit
    * on the driver — millions of pairs are fine); the distributed
    * propagation in [[groups]] is the fallback above `localThreshold`.
    */
  def groupsLocal(docs: DataFrame, pairRows: Array[(Long, Long)], idCol: String): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-id wins
    }
    val labels = pairRows.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => (n, find(n)))
    val spark = docs.sparkSession
    import spark.implicits._
    val labelDf = labels.toSeq.toDF("__node", "group_of_node")
    docs.select(col(idCol))
      .join(broadcast(labelDf), col(idCol) === col("__node"), "left")
      .select(col(idCol),
        coalesce(col("group_of_node"), col(idCol).cast("long")).as("group_id"))
  }

  /** doc -> connected-component label over a verified pair graph, switching
    * between driver-side union-find (small pair sets — the overwhelmingly
    * common case) and distributed star contraction ([[Components]]). One
    * `take(localThreshold + 1)` both fetches the pairs and decides the
    * path — no separate count job, and the collect is bounded by
    * construction (never more than localThreshold + 1 rows on the driver).
    */
  def componentGroups(docs: DataFrame, pairs: DataFrame, idCol: String,
                      localThreshold: Int = 1000000): DataFrame = {
    val head = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .take(localThreshold + 1)
    if (head.length <= localThreshold)
      groupsLocal(docs, head.map(r => (r.getLong(0), r.getLong(1))), idCol)
    else groups(docs, pairs, idCol)
  }

  /** End-to-end: doc_id, group_id, group_size (1 = unique document).
    * Shingle sets are computed once and cached across the signature and
    * verify stages; components via [[componentGroups]].
    */
  def nearDupGroups(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                    threshold: Double = 0.7, localThreshold: Int = 1000000): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol, k).cache()
    val keys = bandKeysFromShingles(sh, idCol, bands, rowsPerBand)
    val cands = candidatePairs(keys, idCol)
    val dups = verifiedPairsFromShingles(sh, cands, idCol, threshold).cache()
    val g = componentGroups(docs, dups, idCol, localThreshold)
    // group sizes in the same pass (window) — avoids re-evaluating g
    val w = org.apache.spark.sql.expressions.Window.partitionBy("group_id")
    g.withColumn("group_size", count(lit(1)).over(w))
      .select(col(idCol), col("group_id"), col("group_size"))
  }
}
