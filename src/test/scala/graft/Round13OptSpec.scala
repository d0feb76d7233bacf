package graft

/** The size-gated co-partition shaper (`Adaptive.copartitionByKey`) and
  * the money-cast bound.
  *
  *  - Both gate branches are the same query: the gated-off branch
  *    (small frames keep their natural partitioning) and the
  *    always-repartition branch (minBytes=0) give the same rows.
  *  - The gate disengages at test scale (a repartition would run
  *    many-task stages over KB-sized iteration caches), engages when the
  *    threshold is forced low, and refuses a malformed threshold.
  */
class Round13OptSpec extends SparkSpec {
  private val minBytes = "spark.graft.copartition.minBytes"

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
      val always = CacheScope.withConf(spark, minBytes -> "0")(rows(q)) // always repartition
      val gated = rows(q) // default: gated
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
    CacheScope.withConf(spark, minBytes -> "1") {
      val shaped = graft.operators.Adaptive.copartitionByKey(df, col("k"))
      assert(shaped.queryExecution.analyzed.toString.contains("RepartitionByExpression"),
        "above the threshold the repartition(key) shape must engage")
    }
    // a malformed threshold fails loudly, naming the key and the value
    for (bad <- Seq("64MB", "-1")) CacheScope.withConf(spark, minBytes -> bad) {
      val e = intercept[IllegalArgumentException](
        graft.operators.Adaptive.copartitionByKey(df, col("k")))
      assert(e.getMessage.contains(minBytes) && e.getMessage.contains(bad), e.getMessage)
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
}
