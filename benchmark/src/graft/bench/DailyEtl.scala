package graft.bench

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.core.ChangeAction
import graft.runner.Daily
import graft.sources.rest.{FetcherRegistry, HttpPageFetcher}

/** `daily_etl`: the paper's job. Each pass loads two weekdays (Monday,
  * whose window covers the weekend, and Tuesday) of one company's ERP
  * sales documents, day after day, into one fresh output directory:
  * `runner.Daily.run` per (action, company) pulls the window's pages from
  * a loopback REST server through `HttpPageFetcher` (with retry), runs
  * the sales pipeline transforms and loads the three tables through the
  * staged-sync sink, which writes an audit row per load. The final tables
  * grow from day to day, so later loads rewrite more. An operation is one
  * `Daily.run` call (three entity loads); the pass ends with a check of
  * the final tables against the generator's expected state.
  */
final class DailyEtl extends Workload {
  private val Monday = LocalDate.of(2024, 3, 4)
  private val days = (0 until 2).map(i => Monday.plusDays(i.toLong))
  private val companies = Seq(1)
  private val DocsPerLoad = 400
  private val ReplayShare = 0.3
  private val CreditShare = 0.15
  private val FailShare = 0.03
  private val actions = Seq(ChangeAction.Created, ChangeAction.Modified)

  private var feed: SalesFeed = _
  private var server: SalesServer = _
  private var fetcher: String = _
  private var lastOut: String = _

  def inputSize: String =
    s"${days.size} weekdays x ${companies.size} companies x (creation + modification); " +
      s"$DocsPerLoad new documents per company-day, ${(ReplayShare * 100).round}% of earlier " +
      s"documents replayed, ${(CreditShare * 100).round}% credit notes, " +
      s"${(FailShare * 100).round}% of data pages fail once"

  override def prepare(ctx: Ctx): Unit = {
    feed = new SalesFeed(ctx.seed, days, companies, DocsPerLoad, ReplayShare, CreditShare)
    val slots = feed.dataSlots
    val rnd = new scala.util.Random(ctx.seed ^ 0x5eedL)
    val failing = rnd.shuffle(slots).take(math.max(1, (slots.size * FailShare).round.toInt)).toSet
    server = new SalesServer(feed, failing, ctx.cpus)
    fetcher = s"bench-sales-${ctx.seed}"
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    FetcherRegistry.register(fetcher, new HttpPageFetcher(server.url))
    // warm-up, one load per set-up into a throwaway directory: the first
    // set-up loads the first window into empty tables, the second the next
    // window into those tables, so the staged-sync merge a pass runs on its
    // later day is not used for the first time inside the pass
    val warm = s"${ctx.work}/daily-warmup"
    Daily.run(ctx.spark, fetcher, warm, days(math.min(rep, days.size - 1)),
      companies = Seq(companies.head), actions = Seq(ChangeAction.Created))
    server.endPass()
    server.resetCounts()
  }

  override def beforePass(ctx: Ctx, p: Int): Unit =
    if (lastOut != null) Disk.delete(lastOut)

  def pass(ctx: Ctx, p: Int): Unit = {
    val out = s"${ctx.work}/daily-pass$p"
    lastOut = out
    for (day <- days; action <- actions; c <- companies)
      ctx.op("load", "pipelines", s"$day/${action.param}/$c") {
        val runs = Daily.run(ctx.spark, fetcher, out, day, companies = Seq(c), actions = Seq(action))
        val want = feed.docsPerKey(feed.key(day, action, c))
        runs.filterNot(_.result.ok).map(r => s"${r.entity}: ${r.result.error.getOrElse("failed")}") ++
          runs.find(_.entity == "VENTAS").filter(_.result.rows != want)
            .map(r => s"VENTAS loaded ${r.result.rows} rows, expected $want")
      }
    server.endPass()
    ctx.check(s"pass $p final tables")(checkFinal(ctx, out))
  }

  private def checkFinal(ctx: Ctx, out: String): Seq[String] = {
    val s = ctx.spark
    def rows(table: String, key: String, tag: org.apache.spark.sql.Column, signed: String,
             price: org.apache.spark.sql.Column): Seq[(Long, Expect)] =
      s.read.parquet(s"$out/$table")
        .select(col(key).cast("long"), tag.cast("string"), col(signed).cast("double"), price.cast("double"))
        .collect().toSeq.map(r => r.getLong(0) -> Expect(r.getString(1), r.getDouble(2), r.getDouble(3)))
    val loads = days.size * actions.size * companies.size * 3
    val audit = s.read.parquet(s"$out/CotyDataLogs").count()
    SalesFeed.check("VENTAS", feed.expected("VENTAS"),
      rows("VENTAS", "ID_VENTA", col("NUMERO_PEDIDO"), "NETO", lit(0.0))) ++
      SalesFeed.check("VENTAS_DETALLE", feed.expected("VENTAS_DETALLE"),
        rows("VENTAS_DETALLE", "ID_VENTA_DETALLE", col("ID_VENTA"), "CANTIDAD_VENTA", col("PRECIO_VENTA"))) ++
      SalesFeed.check("VENTAS_METODO_PAGO", feed.expected("VENTAS_METODO_PAGO"),
        rows("VENTAS_METODO_PAGO", "ID_VENTA_METODO_PAGO", col("ID_VENTA"), "IMPORTE_PAGO", lit(0.0))) ++
      (if (audit != loads) Seq(s"CotyDataLogs has $audit rows, expected $loads") else Nil)
  }

  def spaceAmp(ctx: Ctx): Double = {
    val compact = s"${ctx.work}/daily-compact"
    Seq("VENTAS", "VENTAS_DETALLE", "VENTAS_METODO_PAGO").foreach { t =>
      ctx.spark.read.parquet(s"$lastOut/$t").coalesce(1).write.mode("overwrite").parquet(s"$compact/$t")
    }
    val amp = Disk.bytes(lastOut).toDouble / Disk.bytes(compact)
    Disk.delete(compact)
    amp
  }

  override def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = {
    val req = server.requests.get.toDouble
    Map(
      "sources.rest.requests" -> req / passes,
      "sources.rest.pages_served" -> server.pagesServed.get.toDouble / passes,
      "sources.rest.bytes_served" -> server.bytesServed.get.toDouble / passes,
      "sources.rest.retry_frac" -> (if (req == 0) 0.0 else server.retried.get / req),
      "sources.rest.refetch_ratio" ->
        (if (server.distinctPages == 0) 0.0 else server.pagesServed.get.toDouble / server.distinctPages))
  }

  override def close(): Unit = server.stop()
}
