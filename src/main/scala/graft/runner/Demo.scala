package graft.runner

import org.apache.spark.sql.functions._
import graft.core.Sessions
import graft.pipelines.Sales
import graft.sinks.Sinks
import graft.sources.rest.{FetcherRegistry, PageFetcher}

/** Runner entry (SURVEY.md §7.1): wires the full ELT slice end-to-end —
  * paginated REST source -> from_json(explicit schema) -> sales transforms
  * -> staged-sync sink (run twice to demonstrate idempotency) -> audit row.
  *
  * Usage: runMain graft.runner.Demo [outDir]
  * With no real ERP reachable (zero-egress), a deterministic in-memory
  * fetcher stands in for the HTTP transport; swap the fetcher name for a
  * production PageFetcher class to point at a live API.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = Sessions.local(appName = "graft-demo")

    FetcherRegistry.register("demo-sales", new PageFetcher {
      def fetch(page: Int, pageSize: Int, params: Map[String, String]): Seq[String] =
        if (page >= 3) Seq.empty
        else Seq(
          s"""{"SaleID": ${900 + page}, "InvoiceNumberChr": "0009-0000090$page",
              "InvoiceType": ${if (page == 1) 8 else 3}, "CompanyID": 1, "StoreID": 2,
              "InvoiceDate": "2025-05-0${page + 1}T08:00:00", "Neto": 50.0,
              "DiscountAmt": 0.0, "GeneralDiscountAmt": 0.0, "NetoFinal": 50.0,
              "IVAAmt": 10.5, "RechargeAmt": 0.0, "InvoiceTotal": 60.5,
              "CustomerCode": "C9", "SalesOrderNumber": "${params.getOrElse("so", "S9")}",
              "Items": [{"DetailID": ${910 + page}, "SaleID": ${900 + page}, "ItemID": 5,
                         "UnitPrice": 50.0, "UnitQty": 1.0, "UnitDiscount": 0.0,
                         "UnitSubTotal": 50.0, "UnitCost": 30.0}],
              "Payments": [{"PaymentID": ${920 + page}, "PaymentMethodID": 1,
                            "SaleID": ${900 + page}, "PaymentAmt": 60.5, "PaymentsQty": 1,
                            "RechargeAmt": 0.0, "CCAuthCode": "A", "MP_PaymentID": "m",
                            "MP_ExternalReference": "e"}]}""".replaceAll("\n\\s*", " "))
    })

    val raw = spark.read.format("graft.sources.rest.RestTableProvider")
      .option("fetcher", "demo-sales")
      .option("totalPages", 10).option("pagesPerPartition", 2)
      .option("param.so", "SO-DEMO")
      .load()
    println(s"[demo] REST rows fetched: ${raw.count()} over ${raw.rdd.getNumPartitions} partitions")

    val docs = raw.select(from_json(col("value"), Sales.docSchema).as("d")).select(col("d.*"))
    val hdr = Sales.transformHeader(docs).cache()
    val det = Sales.transformDetails(docs)
    val pay = Sales.transformPayments(docs)
    hdr.select("ID_VENTA", "TIPO_COMPROBANTE", "NETO", "TOTAL_COMPROBANTE",
               "NUMERO_PEDIDO", "FECHA_COMPROBANTE").orderBy("ID_VENTA").show(false)

    val r1 = Sinks.stagedSync(spark, hdr, s"$out/staging", s"$out/VENTAS", Seq("ID_VENTA"))
    val r2 = Sinks.stagedSync(spark, hdr, s"$out/staging", s"$out/VENTAS", Seq("ID_VENTA"))
    val finalRows = spark.read.parquet(s"$out/VENTAS").count()
    println(s"[demo] load1=$r1")
    println(s"[demo] load2(idempotent rerun)=$r2 finalRows=$finalRows")
    println(s"[demo] details=${det.count()} payments=${pay.count()}")

    Sinks.audit(spark, s"$out/CotyDataLogs",
      Seq(Sinks.auditFor(r2, finalRows, "demo", new java.sql.Timestamp(1700000000000L))))
    spark.read.parquet(s"$out/CotyDataLogs").show(false)

    // expenses slice: two-level concat-key dim lookup with null-on-miss
    import spark.implicits._
    val gastos = Seq(
      ("2025-01-05", "luz", "Servicios", "Electricidad", 120.5),
      ("2025-01-07", "misc", "Otro", "Nada", 5.0)
    ).toDF("FECHA", "DESCRIPCION_GASTO", "TIPO", "SUB_TIPO", "IMPORTE")
    val tipos = Seq(("Servicios", 3)).toDF("TIPO_GASTO_DESCRIPCION", "ID_TIPO_GASTO")
    val subTipos = Seq(("Electricidad-3", 31)).toDF("SUB_TIPO_KEY", "ID_SUB_TIPO_GASTO")
    println("[demo] expenses with dim lookups (nulls = unmatched keys -> dead-letter):")
    graft.pipelines.Expenses.transform(gastos, tipos, subTipos).show(false)
    spark.stop()
  }
}
