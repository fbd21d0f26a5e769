package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Interval arithmetic for span self time. Times are epoch milliseconds. */
object Intervals {
  /** The union of `ivs` as sorted, disjoint intervals. */
  def merge(ivs: Seq[(Double, Double)]): IndexedSeq[(Double, Double)] = {
    val out = mutable.ArrayBuffer[(Double, Double)]()
    for ((a, b) <- ivs.filter { case (a, b) => b > a }.sortBy(_._1)) out.lastOption match {
      case Some((ca, cb)) if a <= cb => out(out.size - 1) = (ca, math.max(cb, b))
      case _ => out += ((a, b))
    }
    out.toIndexedSeq
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    merge(ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }).map { case (a, b) => b - a }.sum

  /** Whether `t` lies in one of the sorted, disjoint intervals `merged`. */
  def contains(merged: IndexedSeq[(Double, Double)], t: Double): Boolean = {
    val i = merged.search((t, Double.PositiveInfinity))(Ordering.by[(Double, Double), Double](_._1))
      .insertionPoint - 1
    i >= 0 && t <= merged(i)._2
  }

  /** A span's self time: its duration minus the part its children cover. */
  def self(t0: Double, t1: Double, children: Seq[(Double, Double)]): Double =
    (t1 - t0) - covered(children, t0, t1)
}

/** The repository's modules as benchmark layers. A Spark job belongs to
  * the first frame of its recorded call site that lies in a layer's
  * package; `graft.functions`, `graft.text` and `graft.multimodal` count
  * as `ops` (kernels). Frames of other graft packages (queries, runner,
  * core, this benchmark) are skipped.
  */
object Layers {
  val sparkLayers: Seq[String] =
    Seq("pipelines", "sinks", "sources.docstore", "streaming", "dedup", "sim", "graph", "ops")

  def ofFrame(frame: String): Option[String] = ofClass(frame.trim.stripPrefix("at ").takeWhile(_ != '('))

  def ofClass(cls: String): Option[String] =
    cls.split('.').toList match {
      case "graft" :: "sources" :: o :: _ if o.startsWith("DocStore") => Some("sources.docstore")
      case "graft" :: m :: _ => m match {
        case "pipelines" | "sinks" | "streaming" | "dedup" | "sim" | "graph" => Some(m)
        case "ops" | "functions" | "text" | "multimodal" => Some("ops")
        case _ => None
      }
      case _ => None
    }

  def ofCallSite(long: String): Option[String] =
    Option(long).iterator.flatMap(_.linesIterator).flatMap(ofFrame).nextOption()

  /** The layer of the innermost layer frame of a live stack, else
    * `streaming` on a streaming query's execution thread.
    */
  def ofStack(st: Array[StackTraceElement]): Option[String] =
    st.iterator.map(_.getClassName).flatMap(ofClass).nextOption().orElse(
      if (st.exists(_.getClassName.startsWith("org.apache.spark.sql.execution.streaming.StreamExecution")))
        Some("streaming")
      else None)
}

/** Counts of Hadoop FileSystem metadata calls on file:// paths. The local
  * file system keeps no operation counts in its storage statistics, so a
  * traced run installs [[CountingLocalFileSystem]] for the file scheme.
  * A call is charged to the innermost layer frame of the calling thread's
  * stack; a call from a task without one is kept under its stage (the
  * tracer charges it to that stage's job), and any other call goes to
  * `fallback`, the layer of the operation in progress.
  */
object FsOps {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  @volatile var fallback: () => String = () => "unlabelled"

  def hit(): Unit = {
    val key = Layers.ofStack(Thread.currentThread.getStackTrace).getOrElse {
      val task = org.apache.spark.TaskContext.get()
      if (task != null) s"${FsOps.StagePrefix}${task.stageId}" else fallback()
    }
    counts.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
  }

  def snapshot: Map[String, Long] = counts.asScala.map { case (k, v) => k -> v.get }.toMap
  def reset(): Unit = counts.clear()
  val StagePrefix = "stage:"
}

class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsOps.hit()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsOps.hit(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsOps.hit(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsOps.hit(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsOps.hit(); super.listStatus(f)
  }
}

/** Work counted for one layer (or one operation kind). */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskWaitNs = 0L
  var shuffleWriteBytes, inputBytes, outputBytes, spillBytes = 0L
  var exchanges, filesWritten, bytesWritten, stagingBytesWritten, scanFiles = 0L
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
}

/** One span the benchmark recorded around its own call into a layer. */
final case class SpanRec(id: Int, parent: Int, layer: String, name: String, kind: String,
                         t0: Double, t1: Double)

/** Spans and per-layer counts of one traced run.
  *
  * Spans wrap the benchmark's calls into each module. A `SparkListener`
  * (which also sees the SQL execution start and end events a
  * `QueryExecutionListener` is built on, with their execution ids) and a
  * `StreamingQueryListener` count jobs, stages, tasks, bytes, exchanges,
  * files written and stream state. Each job is charged to a layer by its
  * call site (that of its SQL execution, taken on the calling thread,
  * else that of its stages), to `streaming` when it belongs to a
  * streaming query, and otherwise to the layer label of the operation
  * that issued it. Jobs count as child spans of the benchmark span that
  * was open when they ran. Driver time outside jobs is charged by
  * sampling the caller thread's stack, so work a module does inside
  * another's call (the staged sync inside a daily load) is charged to
  * it. With tracing off every method is a pass-through.
  */
final class Tracer(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer[SpanRec]()
  /** Open spans, innermost first: (id, layer). */
  @volatile private var stack: List[(Int, String)] = Nil
  private var nextId = 1

  def span[T](layer: String, name: String, kind: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, layer) :: stack
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        spans += SpanRec(id, parent, layer, name, kind, t0, t1)
      }
    }

  private def spanLayer: Option[String] = stack.headOption.map(_._2)

  // ---- driver-time samples of the caller thread: (time, layer, weight), ms
  private val samples = mutable.ArrayBuffer[(Double, String, Double)]()
  private var sampler: Thread = _

  /** Sample the calling thread's stack every [[Tracer.SampleMs]] while a
    * span is open. Each sample stands for the time since the previous one
    * and is charged to the innermost layer frame of the stack, else to the
    * layer of the innermost open span.
    */
  def startSampling(): Unit = {
    val caller = Thread.currentThread()
    sampler = new Thread(() => {
      var last = nowMs
      try while (true) {
        Thread.sleep(Tracer.SampleMs)
        val st = caller.getStackTrace
        val now = nowMs
        spanLayer.foreach(l => samples += ((now, Layers.ofStack(st).getOrElse(l), now - last)))
        last = now
      } catch { case _: InterruptedException => () }
    }, "graft-bench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Stop sampling; call on the thread that called [[attach]]. */
  def stop(): Unit = if (sampler != null) { sampler.interrupt(); sampler.join(); sampler = null }

  /** Sampled driver time per layer, in seconds: samples taken while no
    * Spark job ran.
    */
  def driverSeconds: Map[String, Double] = {
    val jobs = Intervals.merge(allJobIntervals)
    samples.toSeq.filterNot(s => Intervals.contains(jobs, s._1))
      .groupMapReduce(_._2)(_._3)(_ + _).map { case (l, ms) => l -> ms / 1000.0 }
  }

  // ---- listener state (written on the listener bus thread)
  val byLayer = new ConcurrentHashMap[String, Counts]()
  val byKind = new ConcurrentHashMap[String, Counts]()
  private def layerCounts(l: String) = byLayer.computeIfAbsent(l, _ => new Counts)
  private def kindCounts(k: String) = byKind.computeIfAbsent(k, _ => new Counts)
  private val jobInfo = new ConcurrentHashMap[Int, (String, String, Double)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execInfo = new ConcurrentHashMap[Long, (String, String)]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  @volatile var streamProgress = 0L
  @volatile var streamInputRows = 0L
  private val streamState = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()

  /** Label jobs issued from this thread that carry no layer frame. */
  def label(spark: SparkSession, layer: String, kind: String): Unit =
    if (enabled) {
      spark.sparkContext.setLocalProperty(Tracer.LayerProp, layer)
      spark.sparkContext.setLocalProperty(Tracer.KindProp, kind)
    }

  def streamStateRows: Long = streamState.values.asScala.map(_._1).sum
  def streamStateBytes: Long = streamState.values.asScala.map(_._2).sum

  private def both(jobId: Int)(f: Counts => Unit): Unit =
    Option(jobInfo.get(jobId)).foreach { case (l, k, _) => f(layerCounts(l)); f(kindCounts(k)) }

  private object Listener extends SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties)
      def prop(k: String) = p.flatMap(pp => Option(pp.getProperty(k)))
      // the call site of the SQL execution (taken on the calling thread),
      // else of the job's stages
      val layer = prop("spark.sql.execution.id").flatMap(e => Option(execSite.get(e.toLong)))
        .flatMap(Layers.ofCallSite)
        .orElse(js.stageInfos.iterator.flatMap(si => Layers.ofCallSite(si.details)).nextOption())
        .orElse(prop("sql.streaming.queryId").map(_ => "streaming"))
        .orElse(prop(Tracer.LayerProp))
        .getOrElse("unlabelled")
      val kind = prop(Tracer.KindProp).getOrElse("none")
      jobInfo.put(js.jobId, (layer, kind, js.time.toDouble))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
      prop("spark.sql.execution.id").foreach(e => execInfo.putIfAbsent(e.toLong, (layer, kind)))
      both(js.jobId)(_.jobs += 1)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobInfo.get(je.jobId)).foreach { case (_, _, t0) =>
        both(je.jobId)(c => c.synchronized { c.jobIntervals += ((t0, je.time.toDouble)) })
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(sc.stageInfo.stageId)).foreach(j => both(j)(_.stages += 1))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(te.stageId)).foreach { j =>
        val m = te.taskMetrics
        both(j) { c =>
          c.tasks += 1
          if (m != null) {
            c.taskCpuNs += m.executorCpuTime
            c.taskWaitNs += math.max(0L, te.taskInfo.duration * 1000000L - m.executorCpuTime)
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case e: SparkListenerSQLExecutionStart => execSite.put(e.executionId, e.details)
      case e: SparkListenerSQLExecutionEnd if org.apache.spark.sql.BenchShim.executionOf(e).isDefined =>
        val (layer, kind) = Option(execInfo.get(e.executionId)).getOrElse(("unlabelled", "none"))
        val targets = Seq(layerCounts(layer), kindCounts(kind))
        Tracer.walk(org.apache.spark.sql.BenchShim.executionOf(e).get.executedPlan) {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => targets.foreach(_.exchanges += 1)
          case w: DataWritingCommandExec =>
            val files = w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
            val bytes = w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
            val staging = w.cmd match {
              case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.contains("/staging/")
              case _ => false
            }
            targets.foreach { c =>
              c.filesWritten += files; c.bytesWritten += bytes
              if (staging) c.stagingBytesWritten += bytes
            }
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            val files = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
            targets.foreach(_.scanFiles += files)
          case _ => ()
        }
      case _ => ()
    }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      streamProgress += 1
      streamInputRows += p.numInputRows
      streamState.put(p.id, (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  /** Attach the listeners to a session, reset the file-system counts and
    * start sampling the calling thread (traced runs only).
    */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.streams.addListener(StreamListener)
    FsOps.reset()
    FsOps.fallback = () => spanLayer.getOrElse("unlabelled")
    startSampling()
  }

  /** File-system metadata calls per layer, with each task's calls charged
    * to the layer of its stage's job.
    */
  def fsOpsByLayer: Map[String, Long] =
    FsOps.snapshot.toSeq.map { case (k, n) =>
      val layer =
        if (!k.startsWith(FsOps.StagePrefix)) k
        else Option(stageJob.get(k.stripPrefix(FsOps.StagePrefix).toInt))
          .flatMap(j => Option(jobInfo.get(j))).map(_._1).getOrElse("unlabelled")
      layer -> n
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Wait until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.sql.BenchShim.drainListeners(spark.sparkContext)

  /** Job intervals of every layer, for span self time. */
  def allJobIntervals: Seq[(Double, Double)] =
    byLayer.values.asScala.toSeq.flatMap(c => c.synchronized(c.jobIntervals.toSeq))
}

object Tracer {
  val SampleMs = 5L
  val LayerProp = "graft.bench.layer"
  val KindProp = "graft.bench.kind"

  /** Visit every node of an executed plan, through adaptive query stages
    * and subqueries.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ => ()
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }
}
