package graft.bench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.core.Tables

/** `query_mix`: the analytic and corpus operator catalog. The catalog is
  * every `SparkEntry.queries` entry except those that build a DocStore or
  * an index on disk (they belong to `docstore_lifecycle`). A full pass
  * takes over three minutes on 4 cores, so a timed pass runs a fixed
  * sample of it ([[timed]]), in an order shuffled by the seed and the
  * pass number. Record mode runs and fingerprints the whole catalog. An
  * operation is one query, timed from the call that builds it to the last
  * row of its full result ([[Fingerprint.of]]), and checked against the
  * expected fingerprint.
  */
final class QueryMix extends Workload {
  private val lifecycleOwned = "^(d(3|[6-9]|1[0-5])[bc]?|x30)_.*".r
  val names: Seq[String] =
    SparkEntry.queries.keys.filterNot(n => lifecycleOwned.matches(n)).toSeq.sorted
  /** The timed queries, picked by their times in a recorded full-catalog
    * run (benchmark/README.md lists them): the median-cost query of each
    * data-bound kernel family (set-similarity, near-dup, ANN, graph, stream
    * drain) and of the pipelines group, and the `ops` queries at the 10th,
    * 30th, 50th, 70th and 90th percentile of that group's cost.
    */
  val timed: Seq[String] = Seq(
    "j15_setsim_incremental", "m2_simhash_near", "e5_ann_pq", "pr2_ppr", "st2_stream_dedup",
    "p6_derived",
    "t3_lang_guess", "x14_nullsafe_concat", "z1_zorder_key", "a1_group_sum", "mix1_mixture")
  require(timed.forall(names.contains), s"timed queries not in the catalog: ${timed.filterNot(names.contains)}")

  /** The layer label of a query: its span's layer, and the layer of its
    * Spark jobs whose call site has no frame in a layer package.
    */
  def layerOf(name: String): String = name match {
    case n if n.matches("^st\\d+_.*") => "streaming"
    case n if n.matches("^(e\\d+|sem1|x29|rrf1)_.*") => "sim"
    case n if n.matches("^(d[1245]|m[123]|j1[4-6]|x2[06]|ld1|sd1|cc1|dc[12])_.*") => "dedup"
    case n if n.matches("^(pr[12]|kc1|tc1)_.*") => "graph"
    case n if n.matches("^(pipe|p[468])_.*") => "pipelines"
    case _ => "ops"
  }

  private var dir: String = _
  private var expected: Map[String, (Long, Option[String])] = Map.empty
  /** Whether the recorded hashes apply: they hold at the `local[N]` they
    * were recorded at (the shuffle partition count is N).
    */
  private var hashesApply = true
  private var recordTo: Option[String] = None
  private val recorded = mutable.LinkedHashMap[String, Fingerprint]()

  def inputSize: String = s"${timed.size} of ${names.size} catalog queries over the fixture " +
    "tables (TPC-H-shaped star schema plus events, documents and embeddings; lineitem 60,000 rows)"

  override def prepare(ctx: Ctx): Unit = {
    recordTo = ctx.opts.get("record")
    if (recordTo.isEmpty) {
      val file = new ObjectMapper().readTree(Paths.get(ctx.opts("expected")).toFile)
      val recordedAt = file.path("local").asInt()
      hashesApply = recordedAt == ctx.cpus
      if (!hashesApply)
        println(s"[bench] query_mix: fingerprints were recorded at local[$recordedAt], this run is " +
          s"local[${ctx.cpus}]; checking row counts only")
      expected = file.path("queries").fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (v.path("rows").asLong(), Option(v.get("hash")).map(_.asText()))
      }.toMap
    }
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val s = ctx.spark
    // a cold start: drop the previous set-up's staged seeds and saved models
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(ctx.tmp))
    // each set-up works on its own copy: the fit-once caches and staged
    // seeds are keyed by the data directory, so a fresh copy is cold
    dir = s"${ctx.work}/data-r$rep"
    Disk.copy(ctx.data, dir)
    Tables.lineitem(s, dir).groupBy("l_returnflag").count().collect()
    // the fit-once model e5_ann_pq serves from
    graft.sim.Pq.cachedPq(dir, Tables.embeddings(s, dir))
  }

  private def order(seed: Long, p: Int): Seq[String] =
    if (recordTo.isDefined) names else new scala.util.Random(seed * 1000003L + p).shuffle(timed)

  def pass(ctx: Ctx, p: Int): Unit = {
    val queries = SparkEntry.queries
    order(ctx.seed, p).foreach { n =>
      ctx.op("query", layerOf(n), n) {
        val fp = Fingerprint.of(queries(n)(ctx.spark, dir))
        if (recordTo.isDefined) { recorded(n) = fp; Nil } else check(n, fp)
      }
    }
    recordTo.foreach(record(ctx, _))
  }

  private def check(n: String, fp: Fingerprint): Seq[String] = expected.get(n) match {
    case None => Seq("no expected fingerprint recorded")
    case Some((rows, _)) if rows != fp.rows => Seq(s"${fp.rows} rows, expected $rows")
    case Some((_, Some(h))) if hashesApply && h != fp.hex => Seq(s"fingerprint ${fp.hex}, expected $h")
    case _ => Nil
  }

  /** Record mode: write this pass's fingerprints, and dump every result
    * the way `graft.Verify` does so `tools/validate.py` can check the
    * recorded run against its DuckDB oracles.
    */
  private def record(ctx: Ctx, to: String): Unit = {
    val mapper = new ObjectMapper()
    val queries = new java.util.LinkedHashMap[String, Any]()
    recorded.foreach { case (n, fp) => queries.put(n, Map("rows" -> fp.rows, "hash" -> fp.hex).asJava) }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("about", "row count and order-sensitive hash of each query's full result over " +
      "benchmark/data at local[N], N being the local field; entries without a hash are checked by row " +
      "count only, for the reason given; a run at another N checks row counts only")
    out.put("local", ctx.cpus)
    out.put("queries", queries)
    Files.writeString(Paths.get(to), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
    ctx.opts.get("dump").foreach { dump =>
      names.foreach { n =>
        SparkEntry.queries(n)(ctx.spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      }
      val oracles = new java.util.LinkedHashMap[String, String]()
      SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }.foreach { case (k, v) => oracles.put(k, v) }
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"), mapper.writeValueAsString(oracles))
    }
  }

  /** Bytes the catalog leaves on disk (data copy, staged seeds, stream
    * checkpoints, saved models) over the input tables' bytes.
    */
  def spaceAmp(ctx: Ctx): Double =
    (Disk.bytes(dir) + Disk.bytes(ctx.tmp)).toDouble / Disk.bytes(ctx.data)
}
