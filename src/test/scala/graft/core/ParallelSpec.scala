package graft.core

import java.util.concurrent.atomic.AtomicBoolean
import graft.SparkTestBase

class ParallelSpec extends SparkTestBase {

  test("runAll waits for every job before it rethrows the first failure") {
    val slowEnded = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Parallel.runAll(spark, Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); slowEnded.set(true) },
        () => throw new IllegalArgumentException("third")))
    }
    assert(slowEnded.get, "runAll returned while a job was still running")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
  }

  test("runAll returns results in input order") {
    // later jobs finish first
    val out = Parallel.runAll(spark, (0 until 5).map(i => () => { Thread.sleep(50L * (5 - i)); i }))
    assert(out == (0 until 5))
  }

  test("runAll under the catalog monitor runs the jobs inline on the caller thread") {
    val caller = Thread.currentThread()
    val threads = spark.sessionState.catalog.synchronized {
      Parallel.runAll(spark, Seq.fill(3)(() => Thread.currentThread()))
    }
    assert(threads.forall(_ eq caller))
  }
}
