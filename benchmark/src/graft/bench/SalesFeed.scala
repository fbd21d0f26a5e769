package graft.bench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{ChangeAction, DateWindow}
import graft.pipelines.Sales

/** The expected state of one loaded row, as the generator wrote it.
  * `price` is the detail unit price (header and payment rows carry 0),
  * `signed` is the value whose sign the credit-note rule decides, and
  * `tag` identifies the document version.
  */
final case class Expect(tag: String, signed: Double, price: Double)

/** ERP sales-document feed for `daily_etl`, generated from a seed.
  *
  * Each run date yields, per company, one `creation` page set of new
  * documents and one `modification` page set that replays a share of the
  * documents created on earlier days as a new version (same keys, new
  * values), so the staged-sync merge hits existing rows. A share of the
  * documents are credit notes, whose money columns the pipeline must
  * negate. Pages follow the `Sales.docSchema` wire shape (nested Items and
  * Payments) inside the `{"Response": {"Results": [...]}}` envelope.
  */
final class SalesFeed(seed: Long, days: Seq[LocalDate], companies: Seq[Int],
                      docsPerLoad: Int, replayShare: Double, creditShare: Double) {
  /** Documents per page: the REST source's default page size, which
    * `Daily.runSales` does not override.
    */
  val pageSize = 250
  private val mapper = new ObjectMapper()
  private val wire = DateTimeFormatter.ofPattern("dd/MM/yyyy")

  /** Request key of one (window, action, company) load. */
  def key(day: LocalDate, action: ChangeAction, company: Int): String = {
    val w = DateWindow.daily(day)
    s"${w.from.format(wire)}|${w.to.format(wire)}|${action.param}|$company"
  }

  /** Serialized pages per load key, in page order. */
  val pages = mutable.LinkedHashMap[String, Vector[Array[Byte]]]()
  /** Final expected rows per table, keyed by the table's key column. */
  val expected: Map[String, mutable.Map[Long, Expect]] =
    Seq("VENTAS", "VENTAS_DETALLE", "VENTAS_METODO_PAGO").map(_ -> mutable.Map[Long, Expect]()).toMap
  /** Documents per load key (for the per-load row count check). */
  val docsPerKey = mutable.Map[String, Int]()

  private final case class Doc(id: Long, company: Int, invoiceType: Int, date: String,
                               items: Seq[(Long, Long, Double, Double)], payMethods: Seq[Int],
                               hasCustomer: Boolean)

  locally {
    val rnd = new java.util.Random(seed)
    val created = mutable.Map[Int, mutable.ArrayBuffer[Doc]]().withDefault(_ => mutable.ArrayBuffer())
    val version = mutable.Map[Long, Int]()
    days.zipWithIndex.foreach { case (day, di) =>
      val w = DateWindow.daily(day)
      val span = (w.to.toEpochDay - w.from.toEpochDay + 1).toInt
      companies.foreach { c =>
        val fresh = (0 until docsPerLoad).map { i =>
          val id = c * 10000000L + di * 10000L + i
          val credit = rnd.nextDouble() < creditShare
          val itype = if (credit) Sales.creditTypes(rnd.nextInt(Sales.creditTypes.size))
                      else Seq(1, 3, 6)(rnd.nextInt(3))
          val date = w.from.plusDays(rnd.nextInt(span).toLong).toString +
            f"T${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
          val items = (0 until 1 + rnd.nextInt(4)).map { j =>
            (id * 10 + j, 1000L + rnd.nextInt(5000), (500 + rnd.nextInt(9500)) / 100.0,
              (1 + rnd.nextInt(5)).toDouble)
          }
          Doc(id, c, itype, date, items, (0 until 1 + rnd.nextInt(2)).map(_ => 1 + rnd.nextInt(5)),
            rnd.nextInt(10) != 0)
        }
        val earlier = created(c).toVector
        // exactly the replay share, so every seed merges as many rows
        val replayed = new scala.util.Random(rnd).shuffle(earlier.indices.toVector)
          .take((earlier.size * replayShare).round.toInt).sorted.map(earlier)
        emit(key(day, ChangeAction.Created, c), fresh.map(d => d -> 0))
        emit(key(day, ChangeAction.Modified, c), replayed.map { d =>
          val v = version.getOrElse(d.id, 0) + 1; version(d.id) = v; d -> v
        })
        val buf = created(c); buf ++= fresh; created(c) = buf
      }
    }
  }

  private def emit(k: String, docs: Seq[(Doc, Int)]): Unit = {
    docsPerKey(k) = docs.size
    val json = docs.map { case (d, v) => render(d, v) }
    pages(k) = json.grouped(pageSize).map { page =>
      s"""{"Response":{"Results":[${page.mkString(",")}]}}""".getBytes(UTF_8)
    }.toVector
  }

  /** One document at version `v` as wire JSON; records its expected rows. */
  private def render(d: Doc, v: Int): String = {
    val sign = if (Sales.creditTypes.contains(d.invoiceType)) -1.0 else 1.0
    val items = d.items.map { case (detailId, itemId, base, qty) =>
      val price = base + v // a new version changes every unit price
      val sub = price * qty
      expected("VENTAS_DETALLE")(detailId) = Expect(s"${d.id}", sign * qty, price)
      (detailId, itemId, price, qty, sub)
    }
    val neto = items.map(_._5).sum
    val total = neto * 1.21
    val tag = s"SO${d.id}-v$v"
    expected("VENTAS")(d.id) = Expect(tag, sign * neto, 0.0)
    val share = total / d.payMethods.size
    val pays = d.payMethods.zipWithIndex.map { case (m, j) =>
      val pid = d.id * 10 + j
      expected("VENTAS_METODO_PAGO")(pid) = Expect(s"${d.id}", sign * share, 0.0)
      (pid, m)
    }
    val doc = new java.util.LinkedHashMap[String, Any]()
    doc.put("SaleID", d.id)
    doc.put("InvoiceNumberChr", f"${d.company}%04d-${d.id % 100000000L}%08d")
    doc.put("InvoiceType", d.invoiceType)
    doc.put("CompanyID", d.company)
    doc.put("StoreID", 1 + (d.id % 7).toInt)
    doc.put("InvoiceDate", d.date)
    doc.put("Neto", neto)
    doc.put("DiscountAmt", 0.0)
    doc.put("GeneralDiscountAmt", 0.0)
    doc.put("NetoFinal", neto)
    doc.put("IVAAmt", neto * 0.21)
    doc.put("RechargeAmt", 0.0)
    doc.put("InvoiceTotal", total)
    doc.put("CustomerCode", if (d.hasCustomer) s"C${d.id % 997}" else "")
    doc.put("SalesOrderNumber", tag)
    val itemList = new java.util.ArrayList[Any]()
    items.foreach { case (detailId, itemId, price, qty, sub) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("DetailID", detailId); m.put("SaleID", d.id); m.put("ItemID", itemId)
      m.put("UnitPrice", price); m.put("UnitQty", qty); m.put("UnitDiscount", 0.0)
      m.put("UnitSubTotal", sub); m.put("UnitCost", price * 0.6)
      itemList.add(m)
    }
    doc.put("Items", itemList)
    val payList = new java.util.ArrayList[Any]()
    pays.foreach { case (pid, m) =>
      val p = new java.util.LinkedHashMap[String, Any]()
      p.put("PaymentID", pid); p.put("PaymentMethodID", m); p.put("SaleID", d.id)
      p.put("PaymentAmt", share); p.put("PaymentsQty", 1); p.put("RechargeAmt", 0.0)
      if (pid % 3 != 0) p.put("CCAuthCode", s"A$pid") // the field may be absent
      payList.add(p)
    }
    doc.put("Payments", payList)
    mapper.writeValueAsString(doc)
  }

  /** Every (load key, page) the fetcher will request that holds data. */
  def dataSlots: Seq[(String, Int)] =
    pages.toSeq.flatMap { case (k, ps) => ps.indices.map(k -> _) }

  /** Digest of every page's bytes, in order. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    pages.foreach { case (k, ps) => md.update(k.getBytes(UTF_8)); ps.foreach(md.update) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

object SalesFeed {
  /** Compare loaded rows with the expected state: the key sets must be
    * equal, and per key the version tag, the credit-note sign of the
    * signed value and (for details) the unit price must match. Returns
    * one message per mismatch class with an example key.
    */
  def check(table: String, expected: collection.Map[Long, Expect],
            loaded: Seq[(Long, Expect)]): Seq[String] = {
    val got = loaded.toMap
    val errs = mutable.ArrayBuffer[String]()
    if (got.size != loaded.size) errs += s"$table: ${loaded.size - got.size} duplicate keys"
    val missing = expected.keySet -- got.keySet
    val extra = got.keySet -- expected.keySet
    if (missing.nonEmpty) errs += s"$table: ${missing.size} keys missing, e.g. ${missing.min}"
    if (extra.nonEmpty) errs += s"$table: ${extra.size} unexpected keys, e.g. ${extra.min}"
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val bad = expected.collect { case (k, e) if got.contains(k) =>
      val g = got(k)
      if (g.tag != e.tag) Some(s"$table key $k: version ${g.tag}, expected ${e.tag}")
      else if (math.signum(g.signed) != math.signum(e.signed)) Some(s"$table key $k: sign of ${g.signed}, expected ${e.signed}")
      else if (!close(g.signed, e.signed) || !close(g.price, e.price)) Some(s"$table key $k: value ${g}, expected $e")
      else None
    }.flatten.toSeq
    if (bad.nonEmpty) errs += s"${bad.size} wrong rows; first: ${bad.min}"
    errs.toSeq
  }
}

/** Loopback HTTP server for a [[SalesFeed]]: routes by `date_from`,
  * `date_to`, `action` and `company_id`, pages by `offset` (a `limit`
  * other than the feed's page size is refused with 400). The first
  * request for each page in `failing` is answered with 429 or 503, so the
  * fetcher's retry path runs; the retry succeeds.
  */
final class SalesServer(feed: SalesFeed, failing: Set[(String, Int)], threads: Int) {
  val requests, pagesServed, bytesServed, retried = new AtomicLong()
  private val attempted = ConcurrentHashMap.newKeySet[(String, Int)]()
  private val served = ConcurrentHashMap.newKeySet[(String, Int)]()
  private val empty = """{"Response":{"Results":[]}}""".getBytes(UTF_8)
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/sales", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/sales"

  private val distinctTotal = new AtomicLong()

  /** Close a pass: count its distinct data pages, and let the failing
    * pages fail again in the next pass.
    */
  def endPass(): Unit = {
    distinctTotal.addAndGet(served.size.toLong)
    served.clear()
    attempted.clear()
  }
  def distinctPages: Long = distinctTotal.get()

  /** Zero the counters (after set-up, before the measured passes). */
  def resetCounts(): Unit =
    Seq(requests, pagesServed, bytesServed, retried, distinctTotal).foreach(_.set(0L))

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      java.net.URLDecoder.decode(kv.take(i), UTF_8) -> java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap
    val k = Seq("date_from", "date_to", "action", "company_id").map(q.getOrElse(_, "")).mkString("|")
    val page = q.get("offset").map(_.toInt).getOrElse(0)
    val slot = (k, page)
    val (status, body) =
      if (q.get("limit").exists(_ != feed.pageSize.toString))
        (400, s"pages hold ${feed.pageSize} documents".getBytes(UTF_8))
      else if (failing(slot) && attempted.add(slot)) {
        retried.incrementAndGet()
        (if ((k.hashCode ^ page) % 2 == 0) 429 else 503, Array.emptyByteArray)
      } else {
        val b = feed.pages.get(k).flatMap(_.lift(page)).getOrElse(empty)
        if (b ne empty) { pagesServed.incrementAndGet(); served.add(slot) }
        bytesServed.addAndGet(b.length.toLong)
        (200, b)
      }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
