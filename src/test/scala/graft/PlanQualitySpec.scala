package graft

/** Pins the physical-plan properties the engine promises (README "Scale
  * design"): dimension joins broadcast (never sort-merge), filters reach
  * the parquet scan, aggregations keep partial (map-side) combine. A
  * regression here means a plan silently degraded even though results
  * stay correct.
  */
class PlanQualitySpec extends SparkTestBase {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan.toString

  test("dimension-lookup joins broadcast; no sort-merge join") {
    val p = plan("j3_dim_lookup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("a24 sketch serving: request table broadcasts against the sketch side") {
    // the request side is request-sized by construction; a sort-merge
    // join here would shuffle the (small) sketch table for nothing
    val p = plan("a24_sketch_probe_requests")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dual-dim star join: all five joins hash-based, none sort-merge") {
    val p = plan("j5_dual_dim")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p)
  }

  test("dual-dim star join at bench scale: all three dims broadcast") {
    // plan-only at sf0.1 (the scale Bench runs at) — both nation roles AND
    // supplier must be broadcast; fact-fact joins may legitimately SMJ here
    val p = SparkEntry.queries("j5_dual_dim")(spark, sf01)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p)
  }

  test("filter reaches the parquet scan as a pushed filter") {
    val p = plan("f1_isin")
    assert(p.contains("PushedFilters: [In(l_returnflag"), p)
  }

  test("projection prunes the scan schema (no full-width read)") {
    val p = plan("x4_concat")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_custkey") && !readSchema.contains("c_acctbal"), readSchema)
  }

  test("group-by aggregation keeps partial (map-side) combine") {
    val p = plan("a1_group_sum")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("near-dup verify plans the codegen kernels, never the interpreted HOF chain") {
    // the r13-opt shingle/verify unification: shingling is ONE codegen'd
    // expression (shingles_sorted) and exact Jaccard is the merge-walk
    // sorted_intersect_count — a regression to the composed
    // transform/slice/concat_ws chain or to array_intersect/array_union's
    // per-pair hash-set builds silently multiplies the near-dup family's
    // cost (measured 1.6-5.8x across m1/d4/d7/d7b/st14/st15)
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf001).select("doc_id", "text")
    val sh = graft.dedup.MinHashDedup.shingleSets(docs, "doc_id", "text", 3)
    val keys = graft.dedup.MinHashDedup.bandKeysFromShingles(sh, "doc_id", 16, 4)
    val verify = graft.dedup.MinHashDedup.verifiedPairsFromShingles(sh,
      graft.dedup.MinHashDedup.candidatePairs(keys, "doc_id"), "doc_id", 0.7)
    val p = verify.queryExecution.executedPlan.toString
    assert(p.contains("shingles_sorted"), p)
    assert(p.contains("sorted_intersect_count"), p)
    assert(!p.contains("array_intersect") && !p.contains("array_union"), p)
    // the interpreted shingle shape would show transform(sequence(...))
    assert(!p.contains("transform(sequence"), p)
    // and the verify output is unchanged by construction: spot-pin one
    // self-pair jaccard through the kernel path
    val self = graft.dedup.MinHashDedup.verifiedPairsFromShingles(sh,
      docs.limit(1).select(col("doc_id").as("id_a"), col("doc_id").as("id_b")),
      "doc_id", 0.99)
    val selfRows = self.collect()
    assert(selfRows.length == 1, selfRows.mkString(", "))
    assert(selfRows.forall(_.getDouble(2) == 1.0))
  }

  test("semi/anti joins plan as joins, not IN-subquery re-scans") {
    assert(plan("j7_semi").contains("LeftSemi"), plan("j7_semi"))
    assert(plan("j6_anti").contains("LeftAnti"), plan("j6_anti"))
  }

  // ---- Pins for the most expensive bench queries (bench-scale plans at
  // sf0.1): a timing regression with these still green means machine load,
  // not plan drift.

  private def plan01(q: String): String =
    SparkEntry.queries(q)(spark, sf01).queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    p.linesIterator.count(l => l.contains("Exchange hashpartitioning") ||
      l.contains("Exchange rangepartitioning") || l.contains("Exchange SinglePartition"))

  test("g2 explode-parent: one nest shuffle + the oracle sort, scan pruned") {
    val p = plan01("g2_explode_parent")
    assert(exchanges(p) == 2, p) // hash for the nest, range for the sort
    assert(p.contains("Generate explode"), p)
    assert(p.contains("partial_collect_list"), p) // map-side combine kept
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_quantity") && !rs.contains("l_extendedprice"), rs)
  }

  test("pipe_dn_details: nest shuffle + output sort only; re-agg reuses partitioning") {
    // nest (groupBy l_orderkey) is one hash exchange; the post-explode
    // group-sum keys on (REFER_ID, ITEM_ID, NUMERO_REMITO) but REFER_ID
    // IS l_orderkey, so hash-partitioning by it already satisfies the
    // clustered distribution — NO exchange between Generate and the
    // re-aggregation. Plus the oracle's range exchange: exactly 2 total.
    val p = plan01("pipe_dn_details")
    assert(exchanges(p) == 2, p)
    assert(p.contains("partial_collect_list"), p)   // map-side combine, nest
    assert(p.contains("partial_sum"), p)            // map-side combine, re-agg
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_quantity") && !rs.contains("l_extendedprice"), rs)
  }

  test("g8 two-level nest: two nest shuffles, orders broadcast, no SMJ") {
    val p = plan01("g8_two_level")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, p)
  }

  test("j1 multikey self-join: no cartesian, partial combine kept") {
    val p = plan01("j1_join_multikey")
    // scale-honest pins: no cartesian product and map-side combine hold at
    // ANY data size. The join strategy itself is left to AQE on purpose —
    // the build side is an aggregate of the fact table, so its cardinality
    // grows with data; at test SF AQE picks broadcast, at 100x it must be
    // free to pick SMJ. Only pin that SOME hash-based join was chosen here.
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("w6 ntile: distributed rank — no single-partition window anywhere") {
    // the one pattern that cannot survive 100x: Window.orderBy with no
    // partitionBy funnels the table through one task. w6 must plan as
    // range-exchange + per-range windows + broadcast offset join instead.
    val p = plan01("w6_ntile")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p) // the offset lift join
  }

  test("pipe_sales_details: orders broadcast, exactly one nest shuffle") {
    val p = plan01("pipe_sales_details")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("j10/j11 bloom joins: the sketch probe filters the fact scan before the join") {
    for (q <- Seq("j10_bloom_semi", "j11_bloom_anti")) {
      val p = plan01(q)
      assert(p.contains("bloom_might_contain"), s"$q lost the bloom prune:\n$p")
      assert(p.contains("LeftSemi") || p.contains("LeftAnti"), p)
      assert(p.contains("partial_count"), p) // final agg keeps map-side combine
    }
  }

  test("t10 co-occurrence: vocabulary joins broadcast on both pair sides") {
    val p = plan01("t10_cooc_lift")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sd1 span dedup: hashed shingle keys in the shuffle, combine kept, semi-join verify") {
    val p = plan01("sd1_dup_spans")
    assert(p.contains("xxhash64"), p) // 8-byte keys, not gram strings
    assert(p.contains("partial_count"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("e5 PQ search: ADC scoring runs against broadcast query LUTs") {
    val p = plan("e5_ann_pq")
    assert(p.contains("pq_adc"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ld1 line dedup: one content-keyed window shuffle, rebuild join broadcasts") {
    val p = plan01("ld1_line_dedup")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // window-by-segment + groupBy-doc are the only hash exchanges
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2, p)
  }

  test("t14 perplexity: vocab/totals broadcast, corpus streams once, combine kept") {
    val p = plan01("t14_perplexity")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 3, p)
    assert(p.contains("partial_count"), p)
  }

  test("mix1 mixture: stat aggregates broadcast; one rank window over the corpus") {
    val p = plan01("mix1_mixture")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2, p)
  }

  test("a14/a15 CMS: sketch probe joins broadcast the cell table") {
    for (q <- Seq("a14_cms_counts", "a15_cms_joinsize")) {
      val p = plan01(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("a16 heavy hitters: candidate join broadcasts, partial combine kept, no SMJ") {
    val p = plan01("a16_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("a17 order statistics: no single-partition stage (the distributed-rank promise)") {
    val p = plan01("a17_rank_percentile")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("BroadcastHashJoin"), p) // offset lift join
  }

  test("pk2/smp4: one stratum window shuffle each, no extra exchanges") {
    for (q <- Seq("pk2_pack_rows", "smp4_split")) {
      val p = plan01(q)
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
      assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
        s"$q should shuffle once by stratum:\n$p")
    }
  }

  test("w11 global rank fractions: no single-partition window") {
    val p = plan01("w11_rank_fracs")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Exchange rangepartitioning"), p)
  }

  test("a18 equi-depth histogram: distributed rank, map-side-combined envelope agg") {
    val p = plan01("a18_equidepth_hist")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("partial_min") && p.contains("partial_max"), p)
  }

  test("a19 group order statistics: windows partition by group, percentile table broadcasts") {
    val p = plan01("a19_group_orderstats")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("dc2 overlap fraction: bench side broadcast, hit counts keep map-side combine") {
    val p = plan01("dc2_overlap_frac")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("mm5 image phash: binary never shuffles — only (id, hash) reaches an exchange") {
    val p = plan01("mm5_image_phash")
    // every exchange in the plan moves the 8-byte hash projection, not the
    // image payload: the content column must not appear in any exchange input
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("content"), s"image bytes entered a shuffle:\n$exch")
  }

  test("x25 gaps-islands: ONE shuffle serves both the window and the island agg") {
    // HashPartitioning(user_id) satisfies the groupBy(user_id, island)
    // distribution, so the aggregation must reuse the window's exchange
    val p = plan01("x25_gaps_islands")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("ch1 chunking is scan-shaped: generate + project, no hash exchange") {
    val p = plan01("ch1_chunk_overlap")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("mix2 temperature mixture: stat aggregates broadcast, no SMJ (mix1's shape)") {
    val p = plan01("mix2_temperature")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2, p)
  }

  test("e8 embedding norm is scan-shaped: no exchange before the output sort") {
    val p = plan01("e8_embed_norm")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("pipe_corpus_prep: quality filter reaches the scan, bench broadcasts, no cartesian") {
    val p = plan01("pipe_corpus_prep")
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,100)]") ||
      p.contains("GreaterThanOrEqual(n_chars,100)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t16 BM25 retrieval: term/idf/query sides all broadcast, no SMJ, combine kept") {
    // the inverted-index shape: the only hash exchanges are the postings
    // groupBy and the per-(query,doc) score sum — corpus-sized data never
    // joins corpus-sized data
    val p = plan01("t16_bm25_topk")
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("dc1 decontam: no inferred generate-filter re-inlines the tokenizer at the scan") {
    // InferFiltersFromGenerate is excluded in Sessions: with it, explode of
    // a computed n-gram array grows a size(transform(...split...))>0 filter
    // below the projections — interpreted, O(n^2), at the scan (9 s vs
    // 0.3 s at sf0.1). Pin both the exclusion and the broadcast bench side.
    val p = plan01("dc1_decontam")
    val filterLines = p.linesIterator.filter(_.contains("Filter ")).toSeq
    assert(!filterLines.exists(l => l.contains("transform(") && l.contains("split(")),
      s"tokenizer re-inlined into a filter:\n${filterLines.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sem1 semdedup: pair search joins on the cluster key, never cartesian") {
    // the whole SemDeDup scaling argument is that the quadratic step is
    // bounded within clusters — a cartesian here is the failure mode
    val p = plan01("sem1_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsir1 importance: bucket score table broadcasts, weight agg keeps combine") {
    // the 256-row bucket-score side must ride to the executors, and the
    // per-doc weight sum must partially aggregate before its shuffle
    val p = plan01("dsir1_importance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("dsir2 budget cut: the global rank window is range-partitioned, not single-partition") {
    // the whole point of dsir2 over ORDER BY ... LIMIT B is that the
    // corpus-sized rank never funnels through one partition: the
    // row_number window must be partitioned by Ranks' range id (__rid).
    // (SinglePartition exchanges exist legitimately below — they total the
    // 256-row bucket table, bounded state.)
    val p = plan01("dsir2_topn")
    val rankWindows = p.linesIterator
      .filter(l => l.contains("Window [row_number()")).toSeq
    assert(rankWindows.nonEmpty && rankWindows.forall(_.contains("__rid")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t17 gopher rules are scan-shaped: no exchange before the output sort") {
    val p = plan01("t17_gopher_rules")
    val beforeSort = p.split("Sort ").last
    assert(!beforeSort.contains("Exchange hashpartitioning"), p)
  }

  test("tc1 triangles: no cartesian, no single-partition window — orientation joins stay keyed") {
    // the degree-orientation scheme only pays off if the wedge/close
    // steps are plain equi-joins; a cartesian or a global window here
    // means the O(m^1.5) bound was silently lost
    val p = plan01("tc1_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window ["), p) // perNode has no window at all
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p) // combine kept
  }

  test("rrf1 hybrid fusion: query/idf/stat sides broadcast, no cartesian fan-out") {
    val p = plan01("rrf1_hybrid")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p)
  }

  test("nb1 classifier: class table broadcasts; count join never cartesian") {
    val p = plan01("nb1_nb_classify")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("coh1 retention: two keyed shuffles, distinct-count keeps partial aggregation") {
    val p = plan01("coh1_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("e11 filtered brute ANN: queries broadcast, corpus streams, predicate pushed") {
    val p = plan("e11_ann_filtered")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the label predicate must apply on the scan side BELOW the join —
    // pushed to parquet when the table is uncached; when a concurrent
    // suite has cached embeddings (one shared session), the same
    // predicate filters the InMemoryTableScan instead, which satisfies
    // the same scale claim
    assert(p.contains("EqualTo(label,3)") ||
      (p.contains("InMemoryTableScan") && p.contains("(label") &&
        p.contains("= 3)")), p)
  }

  test("e12 adaptive filtered IVF: candidate join broadcasts the probe set, no cartesian") {
    val p = plan("e12_ann_ivf_filtered")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // survivor ranking stays distributed: windows partition by q_id, and
    // the only single-partition window allowed is none at all
    assert(!p.contains("Window [") ||
      !p.linesIterator.exists(l => l.contains("SinglePartition") && l.contains("Window")), p)
  }
}
