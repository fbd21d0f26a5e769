package graft.runner

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.{ChangeAction, DateWindow}
import graft.sources.rest.{FetcherRegistry, PageFetcher, RestWriteback}

object DailyFixtures {
  /** Deterministic per-(action, company) sales docs; embeds the request
    * params so the test can assert predicate pass-through.
    */
  val fetcher: PageFetcher = (page: Int, _: Int, params: Map[String, String]) => {
    val company = params.getOrElse("company_id", "0").toInt
    val action = params.getOrElse("action", "?")
    if (page >= 1) Seq.empty
    else (0 until 2).map { i =>
      val id = company * 1000 + (if (action == "creation") 0 else 500) + i
      s"""{"SaleID": $id, "InvoiceNumberChr": "0001-$id", "InvoiceType": 3,
          "CompanyID": $company, "StoreID": 1,
          "InvoiceDate": "2025-03-10T0$i:00:00", "Neto": 10.0, "DiscountAmt": 0.0,
          "GeneralDiscountAmt": 0.0, "NetoFinal": 10.0, "IVAAmt": 2.1,
          "RechargeAmt": 0.0, "InvoiceTotal": 12.1, "CustomerCode": "C",
          "SalesOrderNumber": "${params.getOrElse("date_from", "?")}",
          "Items": [{"DetailID": $id, "SaleID": $id, "ItemID": 1, "UnitPrice": 10.0,
                     "UnitQty": 1.0, "UnitDiscount": 0.0, "UnitSubTotal": 10.0,
                     "UnitCost": 6.0}],
          "Payments": [{"PaymentID": $id, "PaymentMethodID": 1, "SaleID": $id,
                        "PaymentAmt": 12.1, "PaymentsQty": 1, "RechargeAmt": 0.0,
                        "CCAuthCode": "A", "MP_PaymentID": "m",
                        "MP_ExternalReference": "e"}]}""".replaceAll("\n\\s*", " ")
    }
  }
}

class DailySpec extends SparkTestBase {

  test("DateWindow.daily: Monday widens to Fri-Sun, weekdays cover yesterday") {
    val monday = LocalDate.of(2025, 3, 10)
    assert(DateWindow.daily(monday) ==
      DateWindow(LocalDate.of(2025, 3, 7), LocalDate.of(2025, 3, 9)))
    val wednesday = LocalDate.of(2025, 3, 12)
    assert(DateWindow.daily(wednesday) ==
      DateWindow(LocalDate.of(2025, 3, 11), LocalDate.of(2025, 3, 11)))
  }

  test("daily run: action x company fan-out loads all three sales tables") {
    FetcherRegistry.register("daily-test", DailyFixtures.fetcher)
    val out = java.nio.file.Files.createTempDirectory("daily").toString
    val runs = Daily.run(spark, "daily-test", out, LocalDate.of(2025, 3, 12))
    assert(runs.length == 12) // 2 actions x 2 companies x 3 tables
    assert(runs.forall(_.result.ok), runs.filterNot(_.result.ok).toString)
    val ventas = spark.table("parquet.`" + out + "/VENTAS`")
    assert(ventas.count() == 8) // 2 docs x 2 actions x 2 companies
    // window predicate reached the wire (dd/MM/yyyy)
    assert(ventas.select("NUMERO_PEDIDO").head().getString(0) == "11/03/2025")
    // idempotent rerun
    Daily.run(spark, "daily-test", out, LocalDate.of(2025, 3, 12))
    assert(spark.read.parquet(out + "/VENTAS").count() == 8)
    // one audit row per load: 12 loads x 2 runs
    assert(spark.read.parquet(out + "/CotyDataLogs").count() == 24)
  }

  test("daily run: one entity's failed load leaves the other two loaded and audited") {
    import spark.implicits._
    FetcherRegistry.register("daily-test", DailyFixtures.fetcher)
    val out = java.nio.file.Files.createTempDirectory("daily-fail").toString
    // a regular file where the VENTAS_DETALLE table should be: its merge
    // cannot read it, while the other two loads run beside it
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "VENTAS_DETALLE"), "not a table")
    val runs = Daily.run(spark, "daily-test", out, LocalDate.of(2025, 3, 12),
      companies = Seq(1), actions = Seq(ChangeAction.Created))
    assert(runs.map(_.entity) == Seq("VENTAS", "VENTAS_DETALLE", "VENTAS_METODO_PAGO"))
    assert(runs.map(r => r.entity -> r.result.ok).toMap ==
      Map("VENTAS" -> true, "VENTAS_DETALLE" -> false, "VENTAS_METODO_PAGO" -> true))
    assert(spark.read.parquet(out + "/VENTAS").select("ID_VENTA").as[Long]
      .collect().sorted.toSeq == Seq(1000L, 1001L))
    assert(spark.read.parquet(out + "/VENTAS_METODO_PAGO").select("ID_VENTA_METODO_PAGO")
      .as[Long].collect().sorted.toSeq == Seq(1000L, 1001L))
    val logs = spark.read.parquet(out + "/CotyDataLogs")
      .select("table", "statusOk", "errorMsg").as[(String, Boolean, String)].collect()
    assert(logs.length == 3)
    val byTable = logs.map { case (t, ok, msg) => new java.io.File(t).getName -> (ok, msg) }.toMap
    assert(byTable.keySet == Set("VENTAS", "VENTAS_DETALLE", "VENTAS_METODO_PAGO"))
    byTable.foreach { case (t, (ok, msg)) =>
      if (t == "VENTAS_DETALLE") assert(!ok && msg != null && msg.nonEmpty, msg)
      else assert(ok && msg.isEmpty, s"$t: $msg")
    }
  }

  test("postAll + pollUntilConfirmed (K9) and per-record enrichment (S3)") {
    import spark.implicits._
    val factory = new RestWriteback.ClientFactory {
      def open(): RestWriteback.RecordClient = new RestWriteback.RecordClient {
        def post(id: Long, json: String) =
          RestWriteback.PostResult(id, 200, if (id % 2 == 0) 1 else 0, "ok")
        def status(id: Long): Int = if (id >= 2) 1 else 0
      }
    }
    val posts = RestWriteback.postAll(
      Seq((1L, "{}"), (2L, "{}"), (3L, "{}"), (4L, "{}")).toDS(), factory)
      .collect().sortBy(_.id)
    assert(posts.map(_.returnCode).toSeq == Seq(0, 1, 0, 1))
    val client = factory.open()
    assert(RestWriteback.pollUntilConfirmed(5L, client, sleep = _ => ()))
    assert(!RestWriteback.pollUntilConfirmed(1L, client, attempts = 3, sleep = _ => ()))
    val enriched = RestWriteback.enrichPerRecord(Seq(1L, 2L, 3L).toDS(), factory)
      .collect().sortBy(_._1)
    assert(enriched.toSeq == Seq((1L, 0), (2L, 1), (3L, 1)))
    val bulk = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val out = RestWriteback.enrichBatched(Seq(1L, 2L, 3L).toDF("id"), bulk, "id")
      .orderBy("id").collect()
    assert(out(2).isNullAt(1)) // null-on-miss
  }
}
