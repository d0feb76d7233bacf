package graft

import org.scalatest.funsuite.AnyFunSuite

/** r13 optimization-round pins.
  *
  *  - The size-gated co-partition shaper (Adaptive.copartitionByKey)
  *    must be RESULT-INVARIANT across both branches: the gated-off
  *    branch (small frames keep their natural partitioning) and the
  *    r12 always-repartition branch (minBytes=0) are the same query.
  *  - The gate must actually disengage at test scale (the r12 verdict's
  *    measured cost: 32-task stages over KB-sized iteration caches) and
  *    engage when the threshold is forced low (the 100 TB shape).
  *  - dedup_minhash keeps its two caches with ONE materialization job
  *    (cand is populated transitively by the candShingles job).
  */
class Round13OptSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)
  private val sfDir = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[String] = {
    val out = Registry.byName(name).fn(spark, sfDir)
      .collect().map(_.toString).sorted.toIndexedSeq
    CacheScope.releaseAll()
    out
  }

  test("co-partition gate branches are result-identical (graph + dedup oracles)") {
    // q_dedup_clusters / q_lpa carry the gate; q_pagerank / q_khop get
    // their hash(src) layout from rawEdges' keyed distinct (ungated) —
    // included anyway as layout-invariance checks
    for (q <- Seq("q_pagerank", "q_dedup_clusters", "q_lpa", "q_khop")) {
      spark.conf.set("spark.graft.copartition.minBytes", "0") // r12: always repartition
      val always = rows(q)
      spark.conf.unset("spark.graft.copartition.minBytes")    // r13 default: gated
      val gated = rows(q)
      assert(always == gated, s"$q must not change under the co-partition gate")
    }
  }

  test("co-partition gate disengages on small frames and engages when forced") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    // tiny frame, default threshold: layout untouched (same plan object)
    assert(graft.operators.Adaptive.copartitionByKey(df, col("k")).queryExecution
      .analyzed.toString == df.queryExecution.analyzed.toString,
      "below the threshold the frame must pass through unshaped")
    // forced-low threshold: hash(k) repartition present (the r12 shape)
    spark.conf.set("spark.graft.copartition.minBytes", "1")
    try {
      val shaped = graft.operators.Adaptive.copartitionByKey(df, col("k"))
      assert(shaped.queryExecution.analyzed.toString.contains("RepartitionByExpression"),
        "above the threshold the r12 repartition(key) shape must engage")
    } finally spark.conf.unset("spark.graft.copartition.minBytes")
    // a malformed threshold fails loudly, naming the key and the value
    for (bad <- Seq("64MB", "-1")) {
      spark.conf.set("spark.graft.copartition.minBytes", bad)
      try {
        val e = intercept[IllegalArgumentException](
          graft.operators.Adaptive.copartitionByKey(df, col("k")))
        assert(e.getMessage.contains("spark.graft.copartition.minBytes") &&
          e.getMessage.contains(bad), e.getMessage)
      } finally spark.conf.unset("spark.graft.copartition.minBytes")
    }
  }

  test("narrowed money casts stay inside decimal(10,2): data bound enforced loudly") {
    // r12 narrowed the money product to decimal(10,2)×(7,6) for the
    // compact-long multiply; cast overflow NULLs silently with ANSI off.
    // This pins the data precondition (|price| < 10^8) on every SF the
    // driver checks, so a future data change fails HERE, not as rows
    // silently dropped from a sum (r12 verdict, "what's wrong" item 4).
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val mx = Tables.lineitem(spark, s"/root/testdata/$sf")
        .agg(max(abs(col("l_extendedprice"))).cast("double")).head().getDouble(0)
      assert(mx < 1e8, s"$sf: l_extendedprice $mx would overflow decimal(10,2)")
    }
  }

  test("dedup_minhash serves the verify joins from caches without a separate cand job") {
    val qe = Registry.byName("q_dedup_minhash").fn(spark, sfDir).queryExecution
    val plan = qe.executedPlan.toString
    val cacheReads = plan.sliding("InMemoryTableScan".length)
      .count(_ == "InMemoryTableScan")
    assert(cacheReads >= 3,
      s"cand + both candShingles sides must read caches, got $cacheReads cache reads")
    CacheScope.releaseAll()
  }
}
