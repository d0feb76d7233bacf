package graft

/** Fifth round-6 batch, pinned against independent plain-Scala
  * computations: training-shard assignment (Approx.scala), MAD anomaly
  * detection and cohort LTV curves (TimeSeries.scala), MRR/recall@k and
  * the negative-sampling table (Corpus.scala). */
class Round6eSpec extends SparkSpec {

  test("shard assignment matches an LCG replay and populates every shard") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byShard = docs.groupBy { case (id, _) => lcg(id, 91L) % 16 }
    val nTotal = docs.length.toDouble
    val expected = byShard.toSeq.sortBy(_._1).map { case (shard, ds) =>
      val headDoc = ds.minBy { case (id, _) => lcg(id, 92L) }._1
      val dev = ds.length - nTotal / 16
      (shard, ds.length.toLong, ds.map(_._2).sum, headDoc,
        r6d(ds.length / nTotal), r4d(dev * dev / (nTotal / 16)))
    }
    val got = Registry.byName("q_shard_assign").fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq === expected)
    assert(got.length === 16, "a shard came up empty — assignment is skewed")
  }

  test("MAD anomaly detection matches a plain-Scala median replay") {
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_type", "value", "date_trunc('day', ts) as day")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getTimestamp(2)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val got = Registry.byName("q_mad_anomaly").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getDouble(2), r.getDouble(5), r.getBoolean(6))).toMap
    rows.groupBy(_._1).foreach { case (et, evs) =>
      val daily = evs.groupBy(_._3.getTime).map { case (d, es) =>
        d -> r6d(dsum(es.map(_._2)) / es.size)
      }
      val med = median(daily.values.toSeq)
      val mad = median(daily.values.map(x => math.abs(x - med)).toSeq)
      daily.foreach { case (d, x) =>
        val rz = r4d(0.6745 * (x - med) / mad)
        val (gMean, gRz, gFlag) = got((et, d))
        assert(math.abs(gMean - x) < 1e-12, s"$et $d mean")
        assert(math.abs(gRz - rz) < 1e-9, s"$et $d rz")
        assert(gFlag === (math.abs(rz) > 2.5))
      }
    }
  }

  test("cohort LTV matches a replay and curves are consistent with retention") {
    val rows = Tables.events(spark, sfDir)
      .selectExpr("user_id", "value", "cast(date_trunc('week', ts) as date) as week")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDate(2).toLocalDate))
    val cohortOf = rows.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).min }
    val cells = rows.groupBy { case (u, _, w) =>
      (cohortOf(u), java.time.temporal.ChronoUnit.DAYS.between(cohortOf(u), w) / 7)
    }
    val bySeq = cells.toSeq.sortBy { case ((cw, off), _) => (cw.toString, off) }
    val sizes = cohortOf.values.groupBy(identity).map { case (w, xs) => w -> xs.size }
    val got = Registry.byName("q_cohort_ltv").fn(spark, sfDir).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.length === bySeq.length)
    val cumByCohort = scala.collection.mutable.Map[java.time.LocalDate, BigDecimal]()
    bySeq.zip(got).foreach { case (((cw, off), es), g) =>
      val rev = es.map(e => BigDecimal(e._2).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      val cum = cumByCohort.getOrElse(cw, BigDecimal(0)) + rev
      cumByCohort(cw) = cum
      assert(g._1 === cw && g._2 === off)
      assert(g._3 === es.map(_._1).distinct.size.toLong, s"$cw/$off n_active")
      assert(g._4 === sizes(cw).toLong, s"$cw/$off cohort_size")
      assert(math.abs(g._5 - r2d(rev.toDouble)) < 1e-9, s"$cw/$off revenue")
      assert(math.abs(g._6 - r2d(cum.toDouble)) < 1e-9, s"$cw/$off cum_revenue")
      assert(math.abs(g._7 - r4d(cum.toDouble / sizes(cw))) < 1e-9, s"$cw/$off ltv")
    }
  }

  test("MRR/recall@k matches a brute-force ranking replay") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val terms = Seq("spark", "join", "vector", "stream")
    val got = Registry.byName("q_mrr").fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    terms.foreach { t =>
      val scored = docs.flatMap { case (id, ws) =>
        val tf = ws.count(_ == t)
        if (tf > 0) Some((id, r6d(tf.toDouble / ws.length), math.min(tf, 3))) else None
      }
      val ranked = scored.sortBy { case (id, s, _) => (-s, id) }
      val top10 = ranked.take(10)
      val nRel = scored.count(_._3 >= 2).toLong
      val firstRel = top10.zipWithIndex.collectFirst { case ((_, _, r), i) if r >= 2 => i + 1 }
      val mrr = firstRel.map(p => r4d(1.0 / p)).getOrElse(0.0)
      val rel5 = top10.take(5).count(_._3 >= 2)
      val rel10 = top10.count(_._3 >= 2)
      val (gN, gMrr, gR5, gR10) = got(t)
      assert(gN === nRel, s"$t n_rel")
      assert(math.abs(gMrr - mrr) < 1e-9, s"$t mrr")
      if (nRel > 0) {
        assert(math.abs(gR5 - r4d(rel5.toDouble / nRel)) < 1e-9, s"$t recall_5")
        assert(math.abs(gR10 - r4d(rel10.toDouble / nRel)) < 1e-9, s"$t recall_10")
      }
    }
  }

  test("negative-sampling table matches a replay and up-weights rare words") {
    val words = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
    val uni = words.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val nTok = words.length.toDouble
    val weights = uni.map { case (w, c) => w -> r6d(math.sqrt(c * math.sqrt(c.toDouble))) }
    val wTot = dsum(weights.values.toSeq)
    val top = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(20)
    val got = Registry.byName("q_negative_sampling").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.length === top.length)
    got.zip(top).foreach { case ((gw, gc, gpu, gpn, gb), (w, c)) =>
      assert(gw === w && gc === c)
      assert(math.abs(gpu - r6d(c / nTok)) < 1e-12)
      assert(math.abs(gpn - r6d(weights(w) / wTot)) < 1e-12)
      val boost = (weights(w) / wTot) / (c / nTok)
      assert(math.abs(gb - r4d(boost)) < 1e-9)
    }
    // the ¾ power damps with frequency: boost must be non-increasing in
    // count (ties in c give equal boost) — the smoothing's defining law
    got.sliding(2).foreach { case Array((w1, c1, _, _, b1), (w2, c2, _, _, b2)) =>
      if (c1 > c2) assert(b1 <= b2 + 1e-9, s"boost not monotone: $w1=$b1 vs $w2=$b2")
      else assert(math.abs(b1 - b2) < 1e-9, s"tied counts, unequal boost: $w1 vs $w2")
    }
  }
}
