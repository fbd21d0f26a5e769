package graft.core

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Failure
import org.apache.spark.sql.SparkSession

/** The one runner for independent Spark jobs that write disjoint paths.
  * Small writes are bound by per-job fixed cost (committer, small-file and
  * scheduling overhead), not data, so overlapping them cuts a phase to its
  * slowest job. Users: the derived-index batch writes and takedown
  * rewrites (`graft.streaming`) and the entity loads of one
  * `graft.runner.Daily` pass.
  */
object Parallel {

  /** Run `jobs` concurrently and return their results in input order.
    *
    * Every job is awaited before the call returns, also when one fails:
    * the first failure (in input order) is rethrown with the others
    * attached as suppressed exceptions, and no job outlives the call.
    *
    * The jobs run on at most one thread per driver core (at least two),
    * created by this call, so they inherit the caller's Spark local
    * properties (job group, scheduler pool, labels) as they are now, not
    * as some earlier caller left them on a shared pool's threads.
    *
    * DEADLOCK GUARD: the SQL maintenance surface (`sync_neardup`) reaches
    * index code from inside the analyzer's function lookup, where the
    * calling thread HOLDS the SessionCatalog monitor; a job analyzing its
    * own plan on another thread would block on that monitor forever.
    * Monitors are reentrant for the owning thread, so under the lock the
    * jobs run sequentially on the caller thread.
    */
  def runAll[A](spark: SparkSession, jobs: Seq[() => A]): Seq[A] =
    if (jobs.size < 2 || Thread.holdsLock(spark.sessionState.catalog)) jobs.map(_())
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(jobs.size, math.max(2, Runtime.getRuntime.availableProcessors)))
      val ec = ExecutionContext.fromExecutorService(pool)
      val outcomes =
        try jobs.map(j => Future(j())(ec)).map(f => Await.ready(f, Duration.Inf).value.get)
        finally pool.shutdown()
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.map(_.get)
      }
    }
}
