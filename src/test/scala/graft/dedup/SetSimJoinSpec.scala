package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.Tables

/** Pins the AllPairs prefix-filter join against the definitionally-correct
  * brute-force join: the prefix filter is lossless (exact same pairs, not
  * merely high recall), the incremental A-vs-B form agrees with the
  * filtered self-join, and the candidate stage never plans a cartesian.
  */
class SetSimJoinSpec extends SparkTestBase {

  private def brute(num: Int, den: Int) = {
    val sets = SetSimJoin.tokenSets(Tables.documents(spark, sf001), "doc_id", "text")
    val a = sets.select(col("id").as("id_a"), col("ts").as("ts_a"))
    val b = sets.select(col("id").as("id_b"), col("ts").as("ts_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))).cast("long"))
      .withColumn("uni", size(array_union(col("ts_a"), col("ts_b"))).cast("long"))
      .filter(col("inter") * den >= col("uni") * num)
      .select("id_a", "id_b", "inter", "uni")
  }

  test("selfJoin == brute force at J>=0.9 (lossless, not just high recall)") {
    val fast = SetSimJoin
      .selfJoin(Tables.documents(spark, sf001), "doc_id", "text", 9, 10)
      .select("id_a", "id_b", "inter", "uni")
    assert(fast.exceptAll(brute(9, 10)).isEmpty && brute(9, 10).exceptAll(fast).isEmpty)
  }

  test("selfJoin == brute force at a second threshold (J>=0.75)") {
    val fast = SetSimJoin
      .selfJoin(Tables.documents(spark, sf001), "doc_id", "text", 3, 4)
      .select("id_a", "id_b", "inter", "uni")
    val b = brute(3, 4)
    assert(fast.count() == b.count() && fast.exceptAll(b).isEmpty)
  }

  test("setsim_self_join TVF (SQL surface) is row-identical to the Column path") {
    Tables.documents(spark, sf001).createOrReplaceTempView("ssj_docs_v")
    val sql = spark.sql(
        "SELECT * FROM setsim_self_join('ssj_docs_v', 'doc_id', 'text', 3, 4)")
      .orderBy("id_a", "id_b").collect().toSeq
    val column = SetSimJoin
      .selfJoin(Tables.documents(spark, sf001), "doc_id", "text", 3, 4)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(sql.nonEmpty && sql == column)
  }

  test("asof_join TVF (SQL surface) is row-identical to the Column path") {
    val ev = Tables.events(spark, sf001)
    ev.createOrReplaceTempView("asof_ev_v")
    ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("err_ts"))
      .createOrReplaceTempView("asof_err_v")
    val sql = spark.sql(
        """SELECT event_id, last_err
          |FROM asof_join('asof_ev_v', 'asof_err_v', 'user_id',
          |               'ts', 'err_ts', 'err_ts', 'last_err')
          |ORDER BY event_id""".stripMargin).collect().toSeq
    val column = graft.ops.AsOf.joinAsOf(ev,
        ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("err_ts")),
        Seq("user_id"), leftTs = "ts", rightTs = "err_ts",
        valueCol = "err_ts", outCol = "last_err")
      .select("event_id", "last_err").orderBy("event_id").collect().toSeq
    assert(sql.nonEmpty && sql == column)
  }

  test("joinBetween == self-join restricted to cross-slice pairs") {
    val docs = Tables.documents(spark, sf001)
    val incr = SetSimJoin.joinBetween(
        docs.filter(col("source") =!= "src1"),
        docs.filter(col("source") === "src1"),
        "doc_id", "text", 9, 10)
      .select("id_a", "id_b", "inter", "uni")
    val srcOf = docs.select(col("doc_id"), col("source"))
    // brute pairs are id_a < id_b; joinBetween orients a=corpus, b=batch —
    // reorient the brute side by membership, not id order
    val bSet = brute(9, 10)
      .join(srcOf.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(srcOf.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
      .filter(col("src_a") =!= col("src_b") &&
        (col("src_a") === "src1" || col("src_b") === "src1"))
      .select(
        when(col("src_a") === "src1", col("id_b")).otherwise(col("id_a")).as("id_a"),
        when(col("src_a") === "src1", col("id_a")).otherwise(col("id_b")).as("id_b"),
        col("inter"), col("uni"))
    assert(incr.exceptAll(bSet).isEmpty && bSet.exceptAll(incr).isEmpty)
  }

  test("prefix length is sz - ceil(t*sz) + 1 and holds the rarest tokens") {
    import spark.implicits._
    // df order: z appears in 1 doc, y in 2, x in all 3 -> rarest-first
    // prefixes at t=0.5 keep ceil(|d|/2) ... |d| - ceil(|d|/2) + 1 tokens
    val docs = Seq(
      (1L, "x y z"),   // sz 3, prefix len 3 - 2 + 1 = 2 -> {z, y}
      (2L, "x y"),     // sz 2, prefix len 2 - 1 + 1 = 2 -> {y, x}
      (3L, "x")        // sz 1, prefix len 1 - 1 + 1 = 1 -> {x}
    ).toDF("doc_id", "text")
    val sets = SetSimJoin.tokenSets(docs, "doc_id", "text")
    val pref = SetSimJoin.prefixes(sets, sets, 1, 2)
      .select("id", "token").as[(Long, String)].collect().toSet
    assert(pref == Set((1L, "z"), (1L, "y"), (2L, "y"), (2L, "x"), (3L, "x")))
  }

  test("sorted_intersect_count == size(array_intersect) on sorted sets") {
    val sets = SetSimJoin.tokenSets(Tables.documents(spark, sf001), "doc_id", "text")
    val a = sets.select(col("id").as("id_a"), col("ts").as("ts_a"))
    val b = sets.select((col("id") - 1).as("id_a"), col("ts").as("ts_b"))
    val bad = a.join(b, Seq("id_a"))
      .filter(graft.functions.functions.sorted_intersect_count(col("ts_a"), col("ts_b"))
        =!= size(array_intersect(col("ts_a"), col("ts_b"))))
    assert(bad.isEmpty)
  }

  test("sorted_intersect_count edges: empty, disjoint, identical, prefix") {
    import graft.functions.TextImpls.sortedIntersectCount
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ss: String*) =
      new GenericArrayData(ss.map(UTF8String.fromString).toArray[Any])
    assert(sortedIntersectCount(arr(), arr("a")) == 0)
    assert(sortedIntersectCount(arr("a", "b"), arr("c", "d")) == 0)
    assert(sortedIntersectCount(arr("a", "b", "c"), arr("a", "b", "c")) == 3)
    assert(sortedIntersectCount(arr("a", "b", "c"), arr("b", "c", "d")) == 2)
    assert(sortedIntersectCount(arr("a"), arr("a", "b", "c")) == 1)
  }

  test("sorted_intersect_count is exposed on the SQL surface (parity)") {
    import spark.implicits._
    Seq(("a b c", "b c d")).toDF("x", "y").createOrReplaceTempView("sic_t")
    val viaSql = spark.sql(
      """SELECT sorted_intersect_count(sort_array(split(x, ' ')),
        |                              sort_array(split(y, ' '))) AS c
        |FROM sic_t""".stripMargin).as[Int].head()
    assert(viaSql == 2)
    // its sibling shingling kernel feeds it sorted sets from SQL as well
    val viaShingles = spark.sql(
      """SELECT sorted_intersect_count(shingles_sorted(split(x, ' '), 2),
        |                              shingles_sorted(split(y, ' '), 2)) AS c,
        |       shingles_sorted(split(y, ' '), 2) AS sh
        |FROM sic_t""".stripMargin).as[(Int, Seq[String])].head()
    assert(viaShingles == ((1, Seq("b c", "c d"))))
  }

  test("candidate stage plans token equi-joins, never a cartesian") {
    val p = SetSimJoin
      .selfJoin(Tables.documents(spark, sf001), "doc_id", "text", 9, 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact shingle join is ground truth for LSH: verified pairs subset, recall measured") {
    val docs = Tables.documents(spark, sf001)
    val sh = MinHashDedup.shingleSets(docs, "doc_id", "text", 3)
    val sets = sh.select(col("doc_id").as("id"), array_sort(col("sh")).as("ts"))
      .withColumn("sz", size(col("ts")).cast("long"))
    val exact = SetSimJoin.selfJoinOnSets(sets, 7, 10)
      .select("id_a", "id_b")
    // the LSH path's verified pairs can only be TRUE pairs (exact verify
    // stage) — any LSH pair missing from the exact join is a bug in one
    val keys = MinHashDedup.bandKeys(docs, "doc_id", "text")
    val lsh = MinHashDedup.verifiedPairs(docs, MinHashDedup.candidatePairs(keys, "doc_id"),
      "doc_id", "text", k = 3, threshold = 0.7).select("id_a", "id_b")
    assert(lsh.exceptAll(exact).isEmpty, "LSH verified a pair the exact join missed")
    // banding recall against exact ground truth: 16x4 S-curve should catch
    // nearly everything at J >= 0.7
    val nExact = exact.count()
    val nLsh = lsh.count()
    assert(nExact > 0 && nLsh * 10 >= nExact * 9,
      s"LSH recall ${nLsh.toDouble / nExact} below 0.9 ($nLsh of $nExact)")
  }

  test("incremental-ingest composition: DocStore corpus gates a new batch") {
    import spark.implicits._
    // generation 1: the standing corpus; batch: one near-dup of doc 1
    // (J = 9/10 -> passes t=0.8), one genuinely new doc
    val dir = java.nio.file.Files.createTempDirectory("setsim-ingest").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    graft.sources.DocStore.insertMany(corpus, dir)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
      (11L, "completely different content about something else entirely here now")
    ).toDF("doc_id", "text")
    val existing = graft.sources.DocStore.find(spark, dir).select("doc_id", "text")
    val dupIds = SetSimJoin
      .joinBetween(existing, batch, "doc_id", "text", num = 4, den = 5)
      .select(col("id_b").as("doc_id")).distinct()
    val novel = batch.join(dupIds, Seq("doc_id"), "left_anti")
    graft.sources.DocStore.insertMany(novel, dir)
    val finalIds = graft.sources.DocStore.find(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(finalIds == Set(1L, 2L, 11L), s"near-dup 10 gated out, 11 kept: $finalIds")
  }

  test("bench-scale plan: fan-out probe side stays wide, joins broadcast") {
    // plan-only at sf0.1: the round-robin exchange must survive (AQE once
    // coalesced the tiny probe side to ~1 partition and serialized the
    // 8.8M-row candidate expansion — 36.7 s), and the prefix/verify joins
    // must broadcast, never sort-merge
    val p = SetSimJoin
      .selfJoin(Tables.documents(spark, sf01), "doc_id", "text", 9, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("RoundRobinPartitioning"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
