package graft

import graft.core.Sessions

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  * Each query runs three times and reports the per-query MIN — round-4
  * showed min-of-2 still charging 4-5x machine-load bursts to 1 s queries
  * (g1/g2/g8 never reproduced off the shared machine, plans unchanged); a
  * third rep costs ~30 s of wall while making a contention artifact need
  * three consecutive hits to land in the number. Failed queries report
  * -1.0 (never silently folded into the total) and are listed under
  * "failed". `runMain graft.Bench [query ...]`: with query names only those
  * run (same warmup, reps and JSON shape).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(appName = "graft-bench")
    // untimed warmup: JIT/codegen/parquet-footer costs shouldn't be charged
    // to whichever query happens to run first
    try {
      graft.core.Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag").count().count()
      graft.core.Tables.events(spark, sfDir).limit(1000).count()
    } catch { case _: Throwable => () }
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // collect the PREVIOUS query's garbage before starting the clock:
      // allocation-heavy neighbors (mm6 decodes frames) otherwise tax
      // whichever cheap queries run next in alphabetical order — measured
      // +0.2-0.3 s on p4/p6/p8/pii1 purely from bench ordering
      System.gc()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
    }
    val only = args.toSet
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        val runs = Iterator.continually(runOnce(name, fn))
          .take(3).takeWhile(_ >= 0).toSeq
        (name, if (runs.size < 3) -1.0 else runs.min)
      }
    // 4-decimal values: full double precision bloated the line past the
    // harvester's tail window, truncating the alphabetically-first entries
    def fmt(v: Double) = if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // the harvester keeps only the stdout tail, which has truncated the
    // alphabetically-first per-query entries before (r5's a*-g* history was
    // unrecoverable) — persist the full line for round-over-round diffing
    val out = java.nio.file.Paths.get("bench_full.json")
    java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    println(s"[bench] full JSON written to ${out.toAbsolutePath}")
    spark.stop()
  }
}
