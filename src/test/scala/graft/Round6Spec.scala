package graft

/** Round-6 operators pinned against independent plain-Scala
  * computations: uniform bottom-k sampling (Approx.scala), jackknife
  * ratio SE (Stats.scala), Mann-Kendall trend (TimeSeries.scala),
  * degree-oriented triangle counting (Graph.scala) and the
  * perplexity-band filter (Corpus.scala). */
class Round6Spec extends SparkSpec {

  test("uniform sample: bottom-k aggregate equals a plain-Scala replay, no window in the plan") {
    val docs = Tables.documents(spark, sfDir)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.toSeq.map { case (_, id) => (id, lcg(id, 91L)) }
        .sortBy { case (id, u) => (u, id) }.take(4).zipWithIndex
        .map { case ((id, u), i) => (src, i + 1L, id, u) }
    }.toSet
    val df = Registry.byName("q_sample_uniform").fn(spark, sfDir)
    val got = df.collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("rk"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("ukey"))).toSet
    assert(got === expected)
    // selection runs through the mergeable aggregate — map-side combine,
    // k-bounded state — never a per-group sort window
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "no window sort in the sampling plan")
    assert(plan.contains("ObjectHashAggregate"),
      "bottom-k must run as an ObjectHashAggregate")
  }

  test("jackknife ratio SE matches a BigDecimal delete-one-block replay") {
    val rows = Tables.events(spark, sfDir)
      .select("event_type", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val out = Registry.byName("q_jackknife").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.nonEmpty)
    rows.groupBy(_._1).foreach { case (et, es) =>
      val blocks = es.groupBy(_._2 % 20).toSeq.map { case (_, bs) =>
        (bs.size.toLong, bs.map(e => BigDecimal(e._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum)
      }
      val n = blocks.map(_._1).sum
      val s = blocks.map(_._2).sum
      val b = blocks.size
      val thetas = blocks.map { case (nb, sb) =>
        r6d((s - sb).toDouble / (n - nb)) }
      val thetaBar = r6d(thetas.map(t =>
        BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / b)
      val ssd = thetas.map(t => BigDecimal(r6d((t - thetaBar) * (t - thetaBar)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val se = r6d(math.sqrt((b - 1).toDouble / b * ssd))
      val r = out(et)
      assert(r.getAs[Long]("n") === n, et)
      assert(r.getAs[Long]("n_blocks") === b.toLong, et)
      assert(r.getAs[Double]("ratio") === r6d(s.toDouble / n), et)
      assert(r.getAs[Double]("jk_se") === se, et)
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("ratio"), et)
      assert(r.getAs[Double]("ci_hi") >= r.getAs[Double]("ratio"), et)
    }
  }

  test("Mann-Kendall S, tie-corrected variance and z match a replay") {
    val rows = Tables.events(spark, sfDir)
      .select("event_type", "ts", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val out = Registry.byName("q_mann_kendall").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    rows.groupBy(_._1).foreach { case (et, es) =>
      val daily = es.groupBy { case (_, ts, _) =>
          java.lang.Math.floorDiv(ts.getTime * 1000L, 86400000000L) }
        .map { case (d, xs) =>
          (d, xs.map(e => BigDecimal(e._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum) }
        .toSeq.sortBy(_._1)
      val n = daily.size.toLong
      val sStat = (for {
        i <- daily.indices; j <- (i + 1) until daily.size
      } yield (daily(j)._2 - daily(i)._2).signum.toLong).sum
      val tieTerm = daily.groupBy(_._2).values.map(_.size.toLong)
        .map(t => t * (t - 1) * (2 * t + 5)).sum
      val varS = (n * (n - 1) * (2 * n + 5) - tieTerm).toDouble / 18.0
      val z = if (sStat == 0) 0.0 else r4d((sStat - sStat.signum).toDouble / math.sqrt(varS))
      val r = out(et)
      assert(r.getAs[Long]("n_days") === n, et)
      assert(r.getAs[Long]("s_stat") === sStat, et)
      assert(r.getAs[Double]("var_s") === r6d(varS), et)
      assert(r.getAs[Double]("z") === z, et)
    }
  }

  test("triangle count matches a brute-force neighbor-set intersection") {
    val docs = Tables.documents(spark, sfDir)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // rebuild ring ∪ spoke edges per source, undirect, then count by
    // intersecting adjacency sets — O(m·maxdeg), fine at spec scale
    val und = docs.groupBy(_._1).toSeq.flatMap { case (_, ds) =>
      val ids = ds.map(_._2).sorted.toSeq
      val hub = ids.head
      val ring = ids.zip(ids.tail :+ ids.head).filter { case (a, b) => a != b }
      val spokes = ids.filter(_ != hub).map(d => (d, hub))
      (ring ++ spokes).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    }.toSet
    val adj = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val triPerDoc = und.toSeq.flatMap { case (u, v) =>
      (adj(u) & adj(v)).map(w => Seq(u, v, w).sorted)
    }.map(t => (t(0), t(1), t(2))).distinct
    val srcOf = docs.map { case (s, d) => d -> s }.toMap
    val expected = triPerDoc.groupBy(t => srcOf(t._1))
      .map { case (s, ts) => s -> ts.size.toLong }
    val got = Registry.byName("q_triangles").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_triangles")).toMap
    assert(got === expected)
    assert(got.values.sum > 0, "the ring+hub graph must contain triangles")
  }

  test("perplexity filter bands partition the scored corpus and ppl = exp(-avg_lp)") {
    val out = Registry.byName("q_ppl_filter").fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    val bands = out.map(_.getAs[String]("band")).toSet
    assert(bands.subsetOf(Set("head", "middle", "tail")))
    assert(bands.contains("middle"), "μ±σ/2 banding must keep a middle band")
    // every scored doc (≥ 2 tokens) lands in exactly one band
    val scoredDocs = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")) >= 2).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum === scoredDocs)
    out.foreach(r => assert(r.getAs[Double]("avg_ppl") > 0.0))
    // head band = most predictable text = LOWEST perplexity
    val byBand = out.groupBy(_.getAs[String]("band")).map { case (b, rs) =>
      b -> rs.map(r => r.getAs[Double]("avg_ppl") * r.getAs[Long]("n_docs")).sum /
        rs.map(_.getAs[Long]("n_docs")).sum
    }
    for (h <- byBand.get("head"); t <- byBand.get("tail"))
      assert(h < t, s"head ppl $h must undercut tail ppl $t")
  }

  test("connected components: pointer jumping collapses a 200-chain in O(log n) rounds") {
    import org.apache.spark.sql.functions._
    // a single path graph 0-1-2-…-200: diameter 200. Pure neighbor-min
    // propagation needs ~200 rounds; the pointer-jumping loop must
    // finish inside its default maxIters=20 budget (log2(200) ≈ 8) —
    // this is the property that keeps deep dup-chains from turning
    // into hundreds of global barriers at corpus scale.
    val edges = spark.range(200).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val labels = operators.Dedup.connectedComponents(edges)
    val rows = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    CacheScope.releaseAll()
    assert(rows.length === 201)
    assert(rows.forall(_._2 === 0L), "every node must adopt the chain minimum")
    // two disjoint components stay separate
    val two = spark.range(10).select(col("id").as("src"), (col("id") + 1).as("dst"))
      .filter(col("src") =!= 5) // cut the chain at 5-6
    val l2 = operators.Dedup.connectedComponents(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.releaseAll()
    assert((0 to 5).forall(n => l2(n.toLong) === 0L))
    assert((6 to 10).forall(n => l2(n.toLong) === 6L))
  }
}
