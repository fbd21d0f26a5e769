package graft.bench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Additive quantities are divided by
  * the number of passes, so runs that fit a different number of passes
  * compare; ratios are taken over the whole run.
  */
object LayerReport {

  private val generic: Seq[(String, String)] = Seq(
    "self_s" -> "s/pass", "driver_s" -> "s/pass", "jobs" -> "count/pass",
    "stages" -> "count/pass", "tasks" -> "count/pass", "task_cpu_s" -> "s/pass",
    "task_wait_s" -> "s/pass", "shuffle_write_bytes" -> "B/pass",
    "input_bytes" -> "B/pass", "output_bytes" -> "B/pass", "spill_bytes" -> "B/pass",
    "fs_meta_ops" -> "count/pass")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Layers.sparkLayers.flatMap(l => generic.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "core.session_start_s" -> "s", "core.gc_s" -> "s/pass",
      "sources.rest.requests" -> "count/pass", "sources.rest.pages_served" -> "count/pass",
      "sources.rest.bytes_served" -> "B/pass", "sources.rest.retry_frac" -> "ratio",
      "sources.rest.refetch_ratio" -> "ratio",
      "sinks.files_written" -> "count/pass", "sinks.bytes_written" -> "B/pass",
      "sinks.write_amp" -> "ratio",
      "sources.docstore.jobs_per_commit" -> "count", "sources.docstore.driver_s_per_commit" -> "s",
      "sources.docstore.write_amp" -> "ratio", "sources.docstore.files_live" -> "count",
      "sources.docstore.read_files_scanned" -> "count/read",
      "sources.docstore.read_bytes_per_row" -> "B/row",
      "streaming.jobs_per_poll" -> "count", "streaming.rows_per_poll" -> "rows",
      "streaming.index_batch_dirs" -> "count", "streaming.state_rows" -> "rows",
      "streaming.state_bytes" -> "B",
      "dedup.exchanges" -> "count/pass", "sim.exchanges" -> "count/pass",
      "graph.exchanges" -> "count/pass")

  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

  def apply(ctx: Ctx, wl: Workload, passes: Int, sessionTimes: Seq[Double],
            gcS: Double): Map[String, (Double, String)] = {
    val t = ctx.tracer
    val per = passes.toDouble
    val units = names.toMap
    val out = mutable.LinkedHashMap[String, Double](names.map(_._1 -> 0.0): _*)
    def counts(l: String) = Option(t.byLayer.get(l)).getOrElse(new Counts)
    def kind(k: String) = Option(t.byKind.get(k)).getOrElse(new Counts)

    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    val jobs = t.allJobIntervals
    // a span's driver time: its own interval outside child spans and jobs
    def driver(s: SpanRec): Double =
      Intervals.self(s.t0, s.t1, children.getOrElse(s.id, Nil).map(c => (c.t0, c.t1)) ++ jobs) / 1000.0
    val driverS = t.driverSeconds
    val fsOps = t.fsOpsByLayer

    Layers.sparkLayers.foreach { l =>
      val c = counts(l)
      val drv = driverS.getOrElse(l, 0.0)
      val jobS = Intervals.covered(c.synchronized(c.jobIntervals.toSeq),
        Double.NegativeInfinity, Double.PositiveInfinity) / 1000.0
      out(s"$l.self_s") = (drv + jobS) / per
      out(s"$l.driver_s") = drv / per
      out(s"$l.jobs") = c.jobs / per
      out(s"$l.stages") = c.stages / per
      out(s"$l.tasks") = c.tasks / per
      out(s"$l.task_cpu_s") = c.taskCpuNs / 1e9 / per
      out(s"$l.task_wait_s") = c.taskWaitNs / 1e9 / per
      out(s"$l.shuffle_write_bytes") = c.shuffleWriteBytes / per
      out(s"$l.input_bytes") = c.inputBytes / per
      out(s"$l.output_bytes") = c.outputBytes / per
      out(s"$l.spill_bytes") = c.spillBytes / per
      out(s"$l.fs_meta_ops") = fsOps.getOrElse(l, 0L) / per
    }
    out("core.session_start_s") = Stats.median(sessionTimes)
    out("core.gc_s") = gcS / per

    val sinks = counts("sinks")
    out("sinks.files_written") = sinks.filesWritten / per
    out("sinks.bytes_written") = sinks.bytesWritten / per
    out("sinks.write_amp") = ratio(sinks.bytesWritten, sinks.stagingBytesWritten)

    val commits = ctx.ops.count(_.kind == "commit")
    val commitSpans = spans.filter(_.kind == "commit")
    out("sources.docstore.jobs_per_commit") = ratio(kind("commit").jobs, commits)
    out("sources.docstore.driver_s_per_commit") = ratio(commitSpans.map(driver).sum, commits)
    out("sources.docstore.read_files_scanned") =
      ratio(kind("read").scanFiles, ctx.ops.count(_.kind == "read"))
    out("sources.docstore.read_bytes_per_row") =
      ratio(kind("read").inputBytes, ctx.counters("read_rows"))

    val polls = t.streamProgress + ctx.ops.count(o => o.kind == "cdc_poll" || o.kind == "index_poll")
    out("streaming.jobs_per_poll") = ratio(counts("streaming").jobs, polls)
    out("streaming.rows_per_poll") = ratio(t.streamInputRows + ctx.counters("poll_rows"), polls)
    out("streaming.state_rows") = t.streamStateRows.toDouble
    out("streaming.state_bytes") = t.streamStateBytes.toDouble
    Seq("dedup", "sim", "graph").foreach(l => out(s"$l.exchanges") = counts(l).exchanges / per)

    wl.layerMetrics(ctx, passes).foreach { case (k, v) =>
      require(out.contains(k), s"undeclared per-layer metric $k")
      out(k) = v
    }
    out.map { case (k, v) => k -> (v, units(k)) }.toMap
  }
}
