package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The plan dumper. Usage:
  *   runMain graft.tools.Plans [--audit] [--out <outDir> <suffix>] [frags | <query> ...]
  *
  *  - Names: registered queries, or `frags` for the internal operator
  *    fragments whose queries hide the plan behind an eager
  *    materialization (localCheckpoint, driver union-find). No names =
  *    the audit set below.
  *  - Plans: `explain formatted`, printed, or with `--out` written to
  *    `<outDir>/<name>_<suffix>.txt` (the plans/rNN evidence files).
  *  - `--audit`: one summary per plan on stdout instead of the printed
  *    plan — scans with pushed filters, broadcast and sort-merge joins,
  *    exchanges, whole-stage codegen stages. AQE is turned off so codegen
  *    stages are visible in the static plan.
  *
  * The dataset is `SPARK_GRAFT_SF_DIR`; the session is `Sessions.local`
  * (`SPARK_GRAFT_CPUS`). Building a lifecycle query's frame runs its
  * setup side effects (DocStore scripts, stream drains); the dumped plan
  * is that of the RETURNED frame, the one the bench's final action runs.
  */
object Plans {

  private val AuditSet = Seq("j3_dim_lookup", "j5_dual_dim", "f1_isin", "a1_group_sum",
    "p6_derived", "e1_knn_brute", "pipe_sales_details", "j1_join_multikey", "j10_bloom_semi",
    "j11_bloom_anti", "j12_salted_join", "sd1_dup_spans", "t10_cooc_lift", "d3_snapshot_diff",
    "e5_ann_pq", "ld1_line_dedup", "a14_cms_counts", "z1_zorder_key", "w10_session_window",
    "t13_html_strip", "smp3_weighted", "w6_ntile", "a16_heavy_hitters", "pk2_pack_rows",
    "smp4_split", "e6_ann_ivfpq", "a18_equidepth_hist", "a19_group_orderstats",
    "dc2_overlap_frac", "mm5_image_phash", "tc1_triangles", "rrf1_hybrid", "nb1_nb_classify",
    "coh1_retention", "pr2_ppr")

  def main(args: Array[String]): Unit = {
    val audit = args.contains("--audit")
    val outAt = args.indexOf("--out")
    require(outAt < 0 || args.length > outAt + 2, "--out needs <outDir> <suffix>")
    val out = Option.when(outAt >= 0)((java.nio.file.Paths.get(args(outAt + 1)), args(outAt + 2)))
    val names = args.indices
      .filterNot(i => args(i) == "--audit" || (outAt >= 0 && i >= outAt && i <= outAt + 2))
      .map(args(_))
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the dataset directory"))
    val spark = graft.core.Sessions.local(appName = "graft-plans")
    if (audit) spark.conf.set("spark.sql.adaptive.enabled", "false")
    out.foreach { case (dir, _) => java.nio.file.Files.createDirectories(dir) }
    val plans: Iterator[(String, DataFrame)] =
      if (names == Seq("frags")) fragments(spark, d).iterator
      else (if (names.isEmpty) AuditSet else names).iterator
        .map(n => n -> graft.SparkEntry.queries(n)(spark, d))
    plans.foreach { case (name, df) =>
      val txt = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      out match {
        case Some((dir, suffix)) =>
          java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
          println(s"[plans] wrote ${name}_$suffix.txt (${txt.length} chars)")
        case None if !audit => println(s"===== $name =====\n$txt")
        case None => ()
      }
      if (audit) println(summary(name, df))
    }
    spark.stop()
  }

  /** Pushdown, join, exchange and codegen counts of an executed plan. */
  private def summary(name: String, df: DataFrame): String = {
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
    // wscg = DISTINCT codegen stage ids ("WholeStageCodegen (n)" nodes or
    // "*(n)" operator prefixes, depending on the subtree's rendering)
    val wscg = (lines.flatMap(l =>
        "WholeStageCodegen \\((\\d+)\\)".r.findFirstMatchIn(l).map(_.group(1))) ++
      lines.flatMap(l => "\\*\\((\\d+)\\)".r.findFirstMatchIn(l).map(_.group(1)))).distinct.size
    (Seq(s"===== $name =====",
        "scans w/ pushdown: " + lines.count(_.contains("PushedFilters: ["))) ++
      lines.filter(l => l.contains("PushedFilters") || l.contains("ReadSchema")).take(6)
        .map(l => "  " + l.trim.take(160)) :+
      (s"  broadcasts=${lines.count(_.contains("BroadcastHashJoin"))}" +
        s" smj=${lines.count(_.contains("SortMergeJoin"))}" +
        s" exchanges=${lines.count(_.contains("Exchange"))} wscg=$wscg")).mkString("\n")
  }

  /** The operator fragments: the LSH candidate-pair stage, the exact
    * Jaccard verify, the exact set-similarity self-join and one PageRank
    * round, each before its checkpoint.
    */
  private def fragments(spark: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val docs = graft.core.Tables.documents(spark, d).select("doc_id", "text")
    val mh = graft.dedup.MinHashDedup
    val sh = mh.shingleSets(docs, "doc_id", "text", 3)
    val pairs = mh.candidatePairs(mh.bandKeysFromShingles(sh, "doc_id", 16, 4), "doc_id")
    val li = graft.core.Tables.lineitem(spark, d)
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .distinct()
    val edges = graft.graph.PageRank.prepareEdges(li.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(li.select(col("b").as("src"), col("a").as("dst"))))
    val nodes = graft.core.Tables.supplier(spark, d)
      .select((col("s_suppkey") * 2).as("id"))
      .unionAll(graft.core.Tables.part(spark, d).select((col("p_partkey") * 2 + 1).as("id")))
      .localCheckpoint(true)
    // one round built by hand: PageRank.ranks checkpoints its last round
    val n = nodes.select(col("id"), lit(15L * 1000000000L / 100L).as("b"))
    val contrib = edges.join(n.select(col("id"), lit(1000000000L).as("r")), col("src") === col("id"))
      .select(col("dst").as("id"), expr("r div outdeg").as("c"))
      .groupBy("id").agg(sum("c").as("s"))
    Seq(
      // m1/d4/d7/st14's pair machinery
      "frag_candidate_pairs" -> pairs,
      // m1/d4/d7/d7b/st14/st15's verify: shingle kernel + merge-walk intersect
      "frag_verify_pairs" -> mh.verifiedPairsFromShingles(sh, pairs, "doc_id", 0.7),
      // j14, pre-checkpoint
      "frag_setsim_selfjoin" -> graft.dedup.SetSimJoin.selfJoin(docs, "doc_id", "text",
        num = 9, den = 10),
      // pr1's per-round shape, pre-checkpoint
      "frag_pagerank_round" -> n.join(contrib, Seq("id"), "left")
        .select(col("id"), (col("b") + expr("(coalesce(s, 0L) div 100) * 85 + " +
          "((coalesce(s, 0L) % 100) * 85) div 100")).as("r")))
  }
}
