package graft.bench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One timed operation: a query, an entity load, or a DocStore/index call. */
final case class Op(kind: String, name: String, secs: Double, ok: Boolean)

/** State shared by a workload and the harness during one run. */
final class Ctx(val seed: Long, val work: String, val data: String,
                val tracer: Tracer, val cpus: Int, val opts: Map[String, String]) {
  var spark: SparkSession = _
  /** The run's temp directory (java.io.tmpdir): staged seeds, saved models. */
  val tmp = s"$work/tmp"
  val ops = mutable.ArrayBuffer[Op]()
  val failures = mutable.ArrayBuffer[String]()
  /** Workload counts the per-layer report divides by (rows read, ...). */
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)

  /** Run and time one operation. `body` returns the output check's
    * errors (empty when the output is right); a throw is a failure too.
    */
  def op(kind: String, layer: String, name: String)(body: => Seq[String]): Unit = {
    tracer.label(spark, layer, kind)
    val t0 = System.nanoTime()
    val errs =
      try tracer.span(layer, name, kind)(body)
      catch { case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    ops += Op(kind, name, (System.nanoTime() - t0) / 1e9, errs.isEmpty)
    errs.foreach(e => failures += s"$name: ${e.linesIterator.nextOption().getOrElse("")}")
  }

  var checks, checksFailed = 0

  /** Record a check made outside any operation (e.g. the final state);
    * it counts as attempted, and as failed when it finds errors.
    */
  def check(what: String)(errs: => Seq[String]): Unit = {
    val found =
      try errs
      catch { case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    checks += 1
    if (found.nonEmpty) checksFailed += 1
    found.foreach(e => failures += s"$what: $e")
  }
}

/** File helpers for work directories. */
object Disk {
  /** Bytes of every regular file under `p`, checksum sidecars included. */
  def bytes(p: String): Long = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(p))
  def delete(p: String): Unit = org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  /** Copy a directory tree; copies get fresh modification times. */
  def copy(src: String, dst: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), new java.io.File(dst), false)
}

/** A benchmark workload. The harness calls `prepare` (input generation,
  * untimed), `setup` [[Main.SetupReps]] times (timed as `setup_s`, each
  * from a fresh session), then `beforePass` (untimed) and `pass` (timed)
  * in a closed loop until the run's time is up, and finally `spaceAmp`
  * and, in a traced run, `layerMetrics` (untimed end-of-run measurements).
  */
trait Workload {
  def inputSize: String
  def prepare(ctx: Ctx): Unit = ()
  def setup(ctx: Ctx, rep: Int): Unit
  /** The benchmark's own file work between passes (copying a pass's
    * starting state, removing the previous pass's output), kept out of
    * the timed pass.
    */
  def beforePass(ctx: Ctx, p: Int): Unit = ()
  def pass(ctx: Ctx, p: Int): Unit
  /** Bytes on disk at the end of the run over the bytes of the live rows
    * written once as compact parquet.
    */
  def spaceAmp(ctx: Ctx): Double
  /** Workload-specific per-layer metrics of a traced run, per pass. */
  def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = Map.empty
  /** Per-operation-kind medians the report prints (name -> op kind). */
  def kindMetrics: Seq[(String, String)] = Nil
  def close(): Unit = ()
}

/** Benchmark entry point.
  *
  * {{{
  * graft.bench.Main --workload <daily_etl|query_mix|docstore_lifecycle>
  *   --seed <n> --seconds <s> --trace <0|1> --data <fixture dir>
  *   --work <scratch dir> --results <dir> [--meta key=value]...
  * }}}
  *
  * One caller thread issues each operation after the previous returns
  * (closed loop, one client). Spark runs as local[nproc]. The JVM temp dir
  * is set to `<work>/tmp`, so staged seeds and saved models stay under the
  * scratch directory. The last stdout line is the JSON result.
  */
object Main {
  /** Set-ups per run (`setup_s` is their median). The first pays the JVM's
    * cold start as well; each more adds a warm set-up to every run.
    */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    def opt(k: String) = opts.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    val meta = opts.collect { case ("meta", kv) => kv.span(_ != '=') }
      .map { case (k, v) => k -> v.drop(1) }
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    if (trace) {
      System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      System.setProperty("spark.callstack.depth", "200")
    }
    val tracer = new Tracer(trace)
    val ctx = new Ctx(seed, opt("work"), opt("data"), tracer, cpus, opts.toMap)
    // everything the engine stages under the temp dir stays in --work
    Files.createDirectories(Paths.get(ctx.tmp))
    System.setProperty("java.io.tmpdir", ctx.tmp)
    val wl: Workload = name match {
      case "daily_etl" => new DailyEtl
      case "query_mix" => new QueryMix
      case "docstore_lifecycle" => new Lifecycle
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.prepare(ctx)

    val setupTimes = mutable.ArrayBuffer[Double]()
    val sessionTimes = mutable.ArrayBuffer[Double]()
    (0 until SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val ts = System.nanoTime()
      ctx.spark = graft.core.Sessions.local(cpus.toString, s"graft-bench-$name")
      sessionTimes += (System.nanoTime() - ts) / 1e9
      wl.setup(ctx, rep)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    if (trace) {
      // the counting file system must be the cached instance for file://
      org.apache.hadoop.fs.FileSystem.closeAll()
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        ctx.spark.sparkContext.hadoopConfiguration)
    }
    tracer.attach(ctx.spark)
    ctx.ops.clear(); ctx.failures.clear(); ctx.checks = 0; ctx.checksFailed = 0

    val gc0 = gcSeconds
    val passTimes = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      wl.beforePass(ctx, passes)
      val tp = System.nanoTime()
      tracer.span("bench", s"pass$passes")(wl.pass(ctx, passes))
      passTimes += (System.nanoTime() - tp) / 1e9
      passes += 1
    }
    val gcS = gcSeconds - gc0
    tracer.stop()
    tracer.drain(ctx.spark)

    val opSecs = ctx.ops.map(_.secs).toSeq
    val (tailPct, tailVal) = Stats.tail(opSecs)
    val space = wl.spaceAmp(ctx)
    val rss = peakRssMb
    val e2e = mutable.LinkedHashMap[String, (Double, String, Summary)](
      "setup_s" -> (Stats.median(setupTimes.toSeq), "s", Summary.of(setupTimes.toSeq)),
      "wall_s" -> (Stats.median(passTimes.toSeq), "s", Summary.of(passTimes.toSeq)),
      "op_p50_s" -> (Stats.median(opSecs), "s", Summary.of(opSecs)),
      "op_tail_s" -> (tailVal, "s", Summary.of(opSecs)),
      "peak_rss_mb" -> (rss, "MB", Summary(rss, 0.0, 1)),
      "space_amp" -> (space, "ratio", Summary(space, 0.0, 1)))
    val kinds = wl.kindMetrics.flatMap { case (m, k) =>
      val xs = ctx.ops.filter(_.kind == k).map(_.secs).toSeq
      if (xs.isEmpty) None else Some(m -> Summary.of(xs))
    }
    val attempted = ctx.ops.size + ctx.checks
    val failed = ctx.ops.count(!_.ok) + ctx.checksFailed

    val runMeta = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cpus, "master" -> ctx.spark.sparkContext.master,
      "xmx" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .find(_.startsWith("-Xmx")).getOrElse(s"default (${Runtime.getRuntime.maxMemory >> 20} MB)"),
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> ctx.spark.version,
      "data" -> ctx.data, "input" -> wl.inputSize,
      "closed_loop" -> "one caller thread", "passes" -> passes)
    meta.foreach { case (k, v) => runMeta(k) = v }

    println(s"[bench] run ${runMeta.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    def line(n: String, unit: String, s: Summary, extra: String = "") =
      println(f"[bench] $n%-16s $unit%-6s median=${s.median}%.6f spread(iqr)=${s.iqr}%.6f n=${s.n}%d$extra")
    e2e.foreach { case (n, (_, unit, s)) =>
      n match {
        case "op_tail_s" => line(n, unit, Summary(tailVal, 0.0, s.n), s" percentile=p$tailPct")
        case _ => line(n, unit, s)
      }
    }
    kinds.foreach { case (n, s) => line(n, "s", s) }
    println(f"[bench] fail_frac        ratio  value=${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6f ($failed of $attempted)")
    ctx.failures.foreach(f => println(s"[bench] FAILED $f"))

    val metrics = new java.util.LinkedHashMap[String, Any]()
    def put(n: String, v: Double, unit: String): Unit = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("value", v); m.put("unit", unit); metrics.put(n, m)
    }
    val layer: Map[String, (Double, String)] =
      if (trace) LayerReport(ctx, wl, passes, sessionTimes.toSeq, gcS) else Map.empty
    if (trace) layer.toSeq.sortBy(_._1).foreach { case (n, (v, u)) => put(n, v, u) }
    else e2e.foreach { case (n, (v, unit, _)) => put(n, v, unit) }

    val mapper = new ObjectMapper()
    val results = Paths.get(opt("results"))
    Files.createDirectories(results)
    val own = results.resolve(s"$name-seed$seed-trace${if (trace) 1 else 0}.json")
    if (trace) {
      val untraced = results.resolve(s"$name-seed$seed-trace0.json")
      if (Files.exists(untraced)) {
        val base = mapper.readTree(untraced.toFile).path("metrics").path("wall_s").path("value").asDouble()
        println(f"[bench] tracing overhead: traced wall_s ${Stats.median(passTimes.toSeq)}%.4f s - untraced wall_s $base%.4f s = ${Stats.median(passTimes.toSeq) - base}%.4f s")
      } else println(s"[bench] tracing overhead: no untraced result for this workload and seed in $results")
      layer.toSeq.sortBy(_._1).foreach { case (n, (v, u)) => println(f"[bench] layer $n%-40s $v%.6f $u") }
    }
    val file = new java.util.LinkedHashMap[String, Any]()
    file.put("run", runMeta.asJava)
    file.put("metrics", {
      val all = new java.util.LinkedHashMap[String, Any]()
      e2e.foreach { case (n, (v, unit, s)) =>
        all.put(n, Map("value" -> v, "unit" -> unit, "median" -> s.median, "iqr" -> s.iqr, "n" -> s.n).asJava)
      }
      kinds.foreach { case (n, s) => all.put(n, Map("value" -> s.median, "unit" -> "s", "iqr" -> s.iqr, "n" -> s.n).asJava) }
      all.put("fail_frac", Map("value" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted), "unit" -> "ratio").asJava)
      layer.foreach { case (n, (v, u)) => all.put(n, Map("value" -> v, "unit" -> u).asJava) }
      all
    })
    file.put("op_tail_percentile", tailPct)
    if (trace) file.put("spans", tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "t0_ms" -> s.t0, "t1_ms" -> s.t1).asJava).asJava)
    file.put("failures", ctx.failures.asJava)
    file.put("ops", ctx.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "s" -> o.secs, "ok" -> o.ok).asJava).asJava)
    Files.writeString(own, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(file))

    wl.close()
    ctx.spark.stop()
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", ctx.failures.isEmpty && attempted > 0)
    result.put("attempted", math.max(attempted, 1))
    result.put("failed", if (attempted == 0) 1 else failed)
    result.put("metrics", metrics)
    println(mapper.writeValueAsString(result))
  }

  private def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  /** VmHWM of this JVM in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
