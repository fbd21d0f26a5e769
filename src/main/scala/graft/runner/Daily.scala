package graft.runner

import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{ChangeAction, DateWindow, LoadResult, Parallel}
import graft.pipelines.Sales
import graft.sinks.Sinks

/** Daily incremental run: the engine's restatement of `dag_subir_maestros`
  * (/root/reference/dags/dag_maestros.py).
  *
  * The reference is a strictly linear Airflow chain of 9 tasks on a
  * SequentialExecutor with a weekday-aware (date_from, date_to) window and
  * per-action passes (created/modified/deleted/undeleted,
  * /root/reference/dags/CotyData_IPN.py:596-603). Here:
  *  - the window computation is the same driver-side rule (DateWindow.daily)
  *  - each (action, company) pass = REST source (window + action as
  *    request params) -> from_json -> one cached batch -> three pipeline
  *    transforms -> three staged-sync loads -> their audit rows
  *  - the three entity loads of one pass (VENTAS, VENTAS_DETALLE,
  *    VENTAS_METODO_PAGO) run concurrently ([[graft.core.Parallel.runAll]]):
  *    they read the same batch and write disjoint paths (staging dir, final
  *    table and its `__tmp`/`__old` publish dirs), and each is bound by
  *    per-job fixed cost, not data. Their three audit rows are appended
  *    once, on the caller thread, after all three finish: concurrent
  *    appends to the one `CotyDataLogs` dir would share its `_temporary`
  *    dir
  *  - the passes themselves stay sequential: a later pass merges onto the
  *    tables an earlier one published (a `modification` replay overwrites
  *    `creation` rows), so it must see that publish
  *  - each load is also internally parallel (partitioned source, Spark
  *    shuffles) instead of single-threaded pandas.
  */
object Daily {

  final case class EntityRun(entity: String, action: String, result: LoadResult)

  /** One sales-documents load for one (window, action, company). */
  def runSales(spark: SparkSession, fetcherName: String, outDir: String,
               window: DateWindow, action: ChangeAction, company: Int): Seq[EntityRun] = {
    val raw = spark.read.format("graft.sources.rest.RestTableProvider")
      .option("fetcher", fetcherName)
      .option("totalPages", 64).option("pagesPerPartition", 8)
      // API-side predicates (F8): dd/MM/yyyy wire dates like the reference
      // (/root/reference/dags/API_IPN.py:99-102)
      .option("param.date_from", fmt(window.from))
      .option("param.date_to", fmt(window.to))
      .option("param.action", action.param)
      .option("param.company_id", company.toString)
      .load()
    val docs = raw.select(from_json(col("value"), Sales.docSchema).as("d"))
      .select(col("d.*")).cache()

    try {
      // the transforms are built (and analyzed) here, so a plan error
      // surfaces before any write starts; only the writes fan out
      val loads = Seq(
        ("VENTAS", Sales.transformHeader(docs), Seq("ID_VENTA")),
        ("VENTAS_DETALLE", Sales.transformDetails(docs), Seq("ID_VENTA_DETALLE")),
        ("VENTAS_METODO_PAGO", Sales.transformPayments(docs), Seq("ID_VENTA_METODO_PAGO")))
      val results = Parallel.runAll(spark, loads.map { case (name, df, keys) =>
        () => Sinks.stagedSync(spark, df, s"$outDir/staging/$name", s"$outDir/$name", keys)
      })
      val at = java.sql.Timestamp.valueOf(window.to.atStartOfDay())
      Sinks.audit(spark, s"$outDir/CotyDataLogs",
        results.map(r => Sinks.auditFor(r, r.rows, s"Daily/$company/${action.param}", at)))
      loads.zip(results).map { case ((name, _, _), r) => EntityRun(name, action.param, r) }
    } finally docs.unpersist()
  }

  /** Full daily pass: per-action x per-company fan-out over one window,
    * mirroring createSalesDocumentsLoad's company loop
    * (/root/reference/dags/CotyData_IPN.py:286) and the action loop
    * (:2228-2235).
    */
  def run(spark: SparkSession, fetcherName: String, outDir: String,
          runDate: LocalDate, companies: Seq[Int] = Seq(1, 2),
          actions: Seq[ChangeAction] = Seq(ChangeAction.Created, ChangeAction.Modified))
      : Seq[EntityRun] = {
    val window = DateWindow.daily(runDate)
    for {
      action <- actions
      company <- companies
      r <- runSales(spark, fetcherName, outDir, window, action, company)
    } yield r
  }

  private def fmt(d: LocalDate): String =
    d.format(java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy"))
}
