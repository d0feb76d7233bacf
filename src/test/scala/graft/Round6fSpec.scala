package graft

/** Sixth round-6 batch: classifier calibration pinned against a fully
  * independent plain-Scala replay (features → 8-iteration GD →
  * sigmoid scoring → decile binning → ECE). */
class Round6fSpec extends SparkSpec {

  test("calibration matches an independent GD + binning replay; ECE law holds") {
    val stop = Set("the", "a", "of", "and", "is")
    val feats = Tables.documents(spark, sfDir).select("text").collect().map { r =>
      val text = r.getString(0)
      val toks = text.split(" ", -1)
      val nTok = toks.length
      val stopHits = toks.count(stop)
      val x1 = toks.distinct.length.toDouble / nTok
      val x2 = stopHits.toDouble / nTok
      val x3 = (text.length - nTok + 1).toDouble / nTok / 10.0
      val y = if (stopHits >= 2 && x1 >= 0.3) 1.0 else 0.0
      (x1, x2, x3, y)
    }
    val n = feats.length.toDouble
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to 8) {
      def sig(f: (Double, Double, Double, Double)): Double =
        1.0 / (1.0 + math.exp(-(w(0) + w(1) * f._1 + w(2) * f._2 + w(3) * f._3)))
      val xs = Seq[((Double, Double, Double, Double)) => Double](
        _ => 1.0, _._1, _._2, _._3)
      w = Array.tabulate(4)(j =>
        w(j) - dsum(feats.toSeq.map(f => r6d((sig(f) - f._4) * xs(j)(f)))) / n)
    }
    val binned = feats.map { f =>
      val p = r6d(1.0 / (1.0 + math.exp(-(w(0) + w(1) * f._1 + w(2) * f._2 + w(3) * f._3))))
      (math.min(math.floor(p * 10).toLong, 9L), p, f._4)
    }
    val per = binned.groupBy(_._1).map { case (bin, xs) =>
      val conf = dsum(xs.map(x => r6d(x._2)).toSeq) / xs.length
      val acc = dsum(xs.map(_._3).toSeq) / xs.length
      bin -> (xs.length.toLong, conf, acc)
    }
    val got = Registry.byName("q_calibration").fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    per.foreach { case (bin, (nb, conf, acc)) =>
      val (gn, gConf, gAcc, gGap) = got(bin.toString)
      assert(gn === nb, s"bin $bin n")
      assert(math.abs(gConf - r4d(conf)) < 1e-9, s"bin $bin conf")
      assert(math.abs(gAcc - r4d(acc)) < 1e-9, s"bin $bin acc")
      assert(math.abs(gGap - r4d(math.abs(acc - conf))) < 1e-9, s"bin $bin gap")
    }
    // the ALL row: totals + the ECE law Σ (n_b/N)·|acc_b − conf_b|
    val (gn, gConf, gAcc, gEce) = got("ALL")
    assert(gn === feats.length.toLong)
    val ece = dsum(per.values.map { case (nb, conf, acc) =>
      r6d(nb * math.abs(acc - conf)) }.toSeq) / n
    assert(math.abs(gEce - r4d(ece)) < 1e-9, s"ece $gEce vs $ece")
    val confAll = dsum(binned.map(b => r6d(b._2)).toSeq) / n
    val accAll = dsum(binned.map(_._3).toSeq) / n
    assert(math.abs(gConf - r4d(confAll)) < 1e-9, "ALL conf")
    assert(math.abs(gAcc - r4d(accAll)) < 1e-9, "ALL acc")
    assert(got.size === per.size + 1, "row per occupied bin + ALL")
    // ECE is a weighted mean of per-bin gaps: it can never exceed the max gap
    val maxGap = per.values.map { case (_, c, a) => math.abs(a - c) }.max
    assert(gEce <= r4d(maxGap) + 1e-9)
  }

  test("two-proportion z-test matches a plain-Scala 2x2 replay") {
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_type", "value",
        "case when ((unix_micros(date_trunc('hour', ts)) div 3600000000) + user_id % 10) % 2 = 0 then 'On' else 'Off' end as g")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val nn = s.length
      if (nn % 2 == 1) s(nn / 2) else (s(nn / 2 - 1) + s(nn / 2)) / 2.0
    }
    val got = Registry.byName("q_prop_test").fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (et, evs) =>
      val med = r6d(median(evs.map(_._2)))
      val on = evs.filter(_._3 == "On"); val off = evs.filter(_._3 == "Off")
      val n1 = on.size.toDouble; val x1 = on.count(_._2 > med).toDouble
      val n2 = off.size.toDouble; val x2 = off.count(_._2 > med).toDouble
      val p1 = x1 / n1; val p2 = x2 / n2
      val pp = (x1 + x2) / (n1 + n2)
      val z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
      val row = got(et)
      assert(row.getLong(1) === n1.toLong && row.getLong(2) === x1.toLong)
      assert(row.getLong(3) === n2.toLong && row.getLong(4) === x2.toLong)
      assert(math.abs(row.getDouble(5) - r4d(p1)) < 1e-9)
      assert(math.abs(row.getDouble(7) - r4d(z)) < 1e-9, s"$et z")
      // the median threshold keeps the rate non-degenerate (loose band:
      // heavy ties at the median would legitimately depress it)
      assert(x1 > 0 && p1 < 0.95, s"$et p_on degenerate: $p1")
      // p-value sanity against commons-math normal
      val nd = new org.apache.commons.math3.distribution.NormalDistribution()
      val pv = 2.0 * (1.0 - nd.cumulativeProbability(math.abs(z)))
      assert(math.abs(row.getDouble(8) - pv) < 1e-4, s"$et p_value")
    }
  }

  test("CMH stratified test matches a plain-Scala hypergeometric replay") {
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_type", "value", "user_id % 10 as zone",
        "case when ((unix_micros(date_trunc('hour', ts)) div 3600000000) + user_id % 10) % 2 = 0 then 'On' else 'Off' end as g")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getString(3)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val nn = s.length
      if (nn % 2 == 1) s(nn / 2) else (s(nn / 2 - 1) + s(nn / 2)) / 2.0
    }
    val got = Registry.byName("q_cmh").fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (et, evs) =>
      val med = r6d(median(evs.map(_._2)))
      val strata = evs.groupBy(_._3).values.toSeq
      val terms = strata.map { st =>
        val on = st.filter(_._4 == "On"); val off = st.filter(_._4 == "Off")
        val n1 = on.size.toDouble; val a = on.count(_._2 > med).toDouble
        val n2 = off.size.toDouble; val c = off.count(_._2 > med).toDouble
        val n = n1 + n2; val m1 = a + c
        (a, r6d(n1 * m1 / n), r6d(n1 * n2 * m1 * (n - m1) / (n * n * (n - 1))))
      }
      val sumA = terms.map(_._1).sum
      val sumE = dsum(terms.map(_._2))
      val sumV = dsum(terms.map(_._3))
      val dev = math.abs(sumA - sumE) - 0.5
      val chi = dev * dev / sumV
      val row = got(et)
      assert(row.getLong(1) === strata.size.toLong)
      assert(row.getLong(2) === sumA.toLong)
      assert(math.abs(row.getDouble(3) - r4d(sumE)) < 1e-9, s"$et e_a")
      assert(math.abs(row.getDouble(4) - r4d(chi)) < 1e-9, s"$et chi2")
      // chi2(1) p == two-sided normal on sqrt(chi): cross-check with
      // commons-math
      val cd = new org.apache.commons.math3.distribution.ChiSquaredDistribution(1.0)
      val pv = 1.0 - cd.cumulativeProbability(chi)
      assert(math.abs(row.getDouble(5) - pv) < 1e-4, s"$et p ${row.getDouble(5)} vs $pv")
    }
  }

  test("seasonal decomposition matches a replay and the parts re-sum to the series") {
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_type", "unix_micros(date_trunc('day', ts)) div 86400000000 as day", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val got = Registry.byName("q_seasonal_decompose").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double]),
          Option(r.get(6)).map(_.asInstanceOf[Double]))).toMap
    rows.groupBy(_._1).foreach { case (et, evs) =>
      val daily = evs.groupBy(_._2).map { case (d, es) =>
        d -> r6d(dsum(es.map(_._3)) / es.size)
      }.toSeq.sortBy(_._1)
      val byDay = daily.toMap
      // calendar-range window: exactly the 7 days [t-3, t+3] or nothing
      val trend = daily.map { case (day, _) =>
        val win = (day - 3 to day + 3).flatMap(byDay.get)
        if (win.size == 7) Some(dsum(win) / 7) else None
      }
      val seasonal0 = daily.indices.flatMap { i =>
        trend(i).map(t => ((daily(i)._1 + 4) % 7, daily(i)._2 - t))
      }.groupBy(_._1).map { case (dow, ds) =>
        dow -> dsum(ds.map(d => r6d(d._2))) / ds.size
      }
      // statsmodels centering: subtract the mean of the dow means
      val center = dsum(seasonal0.values.map(r6d).toSeq) / seasonal0.size
      val seasonal = seasonal0.map { case (k, v) => k -> (v - center) }
      daily.zipWithIndex.foreach { case ((day, x), i) =>
        val (gx, gt, gs, gr) = got((et, day))
        assert(math.abs(gx - x) < 1e-12, s"$et $day x")
        trend(i) match {
          case Some(t) =>
            val s = seasonal(((day + 4) % 7).toInt)
            assert(math.abs(gt.get - r4d(t)) < 1e-9, s"$et $day trend")
            assert(math.abs(gs.get - r4d(s)) < 1e-9, s"$et $day seasonal")
            assert(math.abs(gr.get - r4d(x - t - s)) < 1e-9, s"$et $day residual")
          case None => assert(gt.isEmpty, s"$et $day trend should be null")
        }
      }
      // the centering makes the seasonal component mean exactly ~0
      // (up to the r6 residue of the centering sum)
      val sbar = seasonal.values.sum / seasonal.size
      assert(math.abs(sbar) < 1e-5, s"$et seasonal mean not centered: $sbar")
    }
  }
}
