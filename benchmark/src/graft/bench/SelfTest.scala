package graft.bench

import java.time.LocalDate
import scala.collection.mutable

/** Tests of the benchmark itself (no Spark session needed). Run with
  * `python3 benchmark/run.py --self-test`; exits non-zero on a failure.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += name
  }

  private def feed(seed: Long) = new SalesFeed(seed, (0 until 3).map(i => LocalDate.of(2024, 3, 4).plusDays(i.toLong)),
    Seq(1, 2), docsPerLoad = 300, replayShare = 0.3, creditShare = 0.15)

  def main(args: Array[String]): Unit = {
    check("same seed yields byte-identical pages") {
      val (a, b) = (feed(7), feed(7))
      a.digest == b.digest && a.pages.keys == b.pages.keys
    }
    check("another seed yields other pages") { feed(7).digest != feed(8).digest }
    check("pages carry credit notes, replays and more than one page per load") {
      val f = feed(7)
      f.expected("VENTAS").values.exists(_.signed < 0) &&
        f.expected("VENTAS").values.exists(_.tag.endsWith("-v1")) &&
        f.pages.values.exists(_.size > 1)
    }

    val ids = (0L until 500L).toIndexedSeq
    check("same seed yields the same lifecycle operation sequence") {
      LOp.sequence(3, ids, 2, 40, 0.3) == LOp.sequence(3, ids, 2, 40, 0.3)
    }
    check("another seed yields another lifecycle operation sequence") {
      LOp.sequence(3, ids, 2, 40, 0.3) != LOp.sequence(4, ids, 2, 40, 0.3)
    }

    val f = feed(7)
    val exact = f.expected("VENTAS").toSeq
    check("the output check passes the expected state") {
      SalesFeed.check("VENTAS", f.expected("VENTAS"), exact).isEmpty
    }
    check("the output check catches a dropped credit-note sign") {
      val (k, e) = exact.find(_._2.signed < 0).get
      val wrong = exact.map { case (kk, ee) => if (kk == k) kk -> ee.copy(signed = -e.signed) else kk -> ee }
      SalesFeed.check("VENTAS", f.expected("VENTAS"), wrong).exists(_.contains("sign"))
    }
    check("the output check catches a stale version and a lost key") {
      val (k, e) = exact.find(_._2.tag.endsWith("-v1")).get
      val stale = exact.map { case (kk, ee) => if (kk == k) kk -> ee.copy(tag = ee.tag.replace("-v1", "-v0")) else kk -> ee }
      SalesFeed.check("VENTAS", f.expected("VENTAS"), stale).exists(_.contains("version")) &&
        SalesFeed.check("VENTAS", f.expected("VENTAS"), exact.tail).exists(_.contains("missing"))
    }

    check("interval self time: duration minus the union its children cover") {
      Intervals.self(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0))) == 4.0 &&
        Intervals.self(0, 10, Nil) == 10.0
    }
    check("span self time equals the span's duration minus its children's time") {
      val t = new Tracer(true)
      t.span("outer", "o") {
        Thread.sleep(20)
        t.span("inner", "a")(Thread.sleep(30))
        t.span("inner", "b")(Thread.sleep(30))
        Thread.sleep(20)
      }
      val outer = t.spans.find(_.name == "o").get
      val kids = t.spans.filter(_.parent == outer.id)
      val self = Intervals.self(outer.t0, outer.t1, kids.map(k => (k.t0, k.t1)).toSeq)
      kids.size == 2 && math.abs(self - ((outer.t1 - outer.t0) - kids.map(k => k.t1 - k.t0).sum)) < 1e-6 &&
        self >= 39.0
    }

    check("a stack is charged to its innermost layer frame") {
      def at(cls: String) = new StackTraceElement(cls, "m", "F.scala", 1)
      Layers.ofStack(Array(at("org.apache.hadoop.fs.FileSystem"), at("graft.core.Io$"),
        at("graft.sinks.Sinks$"), at("graft.pipelines.Sales$"))).contains("sinks") &&
        Layers.ofStack(Array(at("graft.bench.Main$"))).isEmpty
    }
    check("sampled driver time outside layer frames goes to the open span's layer") {
      val t = new Tracer(true)
      t.startSampling()
      Thread.sleep(50)
      t.span("pipelines", "op")(Thread.sleep(300))
      t.stop()
      val d = t.driverSeconds
      d.keySet == Set("pipelines") && d("pipelines") > 0.25 && d("pipelines") < 0.45
    }

    check("fingerprint is split-invariant and order-sensitive") {
      val rows = Seq("a", "bb", "ccc", "dddd").map(_.getBytes("UTF-8"))
      def chain(rs: Seq[Array[Byte]]) = rs.foldLeft(0L)((h, r) =>
        Fingerprint.step(h, r, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET.toLong, r.length))
      val whole = Fingerprint.combine(Seq((4L, chain(rows))))
      val split = Fingerprint.combine(Seq((2L, chain(rows.take(2))), (0L, 0L), (2L, chain(rows.drop(2)))))
      val swapped = Fingerprint.combine(Seq((4L, chain(rows.reverse))))
      whole == split && whole != swapped
    }
    check("tail is the highest percentile with ten samples beyond it") {
      val xs = (1 to 40).map(_.toDouble)
      Stats.tail(xs)._1 == 75 && Stats.tail((1 to 1000).map(_.toDouble))._1 == 99 &&
        Stats.tail((1 to 12).map(_.toDouble))._1 == 50
    }

    if (failures.nonEmpty) {
      println(s"[selftest] ${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("[selftest] all passed")
  }
}
