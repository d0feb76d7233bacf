package graft

import org.apache.commons.math3.distribution.TDistribution

/** Fourth round-6 batch, pinned against independent plain-Scala
  * computations: edit-distance blocked linkage (Dedup.scala), the
  * switchback design-effect readout (Switchback.scala), Spearman rank
  * correlation and TOST equivalence (Stats.scala), and k-core peeling
  * over the enriched doc-link graph (Graph.scala). */
class Round6dSpec extends SparkSpec {

  // classic O(len²) DP edit distance, written independently of any engine
  private def lev(a: String, b: String): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("edit blocking matches a brute-force blocked levenshtein replay") {
    val names = Tables.part(spark, sfDir).select("p_name").collect()
      .map(_.getString(0))
    val counts = names.groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    val vocab = counts.keys.toSeq.sorted
    val expected = (for {
      a <- vocab; b <- vocab
      if a < b && a.split(" ").last == b.split(" ").last
      if math.abs(a.length - b.length) <= 3
      d = lev(a, b) if d <= 3
    } yield (a, b, d.toLong, counts(a), counts(b))).sortBy(t => (t._1, t._2))
    val got = Registry.byName("q_edit_blocking").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expected)
    assert(expected.nonEmpty, "vocabulary produced no near pairs — vacuous test")
  }

  test("icc/design effect matches a BigDecimal moments replay") {
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_type", "value",
        "concat_ws('_', unix_micros(date_trunc('hour', ts)) div 3600000000, user_id % 10) as cluster")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    val byType = rows.groupBy(_._1)
    val got = Registry.byName("q_icc_design").fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    byType.foreach { case (et, evs) =>
      val clusters = evs.groupBy(_._3).values.toSeq
      val g = clusters.size.toLong
      val n = evs.length.toLong
      val clMoms = clusters.map { c =>
        val m = c.length.toLong
        val s = dsum(c.map(_._2))
        val ss = dsum(c.map(e => e._2 * e._2))
        (m, s, ss)
      }
      val s = dsum(clMoms.map(_._2))
      val ss = dsum(clMoms.map(_._3))
      val sb = dsum(clMoms.map { case (m, cs, _) => r6d(cs * cs / m) })
      val sm2 = clMoms.map(c => c._1 * c._1).sum
      val ssb = sb - s * s / n
      val ssw = ss - sb
      val msb = ssb / (g - 1)
      val msw = ssw / (n - g)
      val m0 = (n - sm2.toDouble / n) / (g - 1)
      val icc = (msb - msw) / (msb + (m0 - 1) * msw)
      val mbar = n.toDouble / g
      val deff = 1 + (mbar - 1) * icc
      val row = got(et)
      assert(row.getLong(1) === n && row.getLong(2) === g)
      assert(math.abs(row.getDouble(3) - r4d(mbar)) < 1e-9, s"$et m_bar")
      assert(math.abs(row.getDouble(4) - r4d(icc)) < 1e-9, s"$et icc")
      assert(math.abs(row.getDouble(5) - r4d(deff)) < 1e-9, s"$et deff")
      assert(math.abs(row.getDouble(6) - r4d(n / deff)) < 1e-9, s"$et n_effective")
      // an hour×zone switchback on heterogeneous traffic must show SOME
      // clustering: deff within a sane band, not NaN/degenerate
      assert(!deff.isNaN && deff > 0.0, s"$et deff degenerate")
    }
    assert(byType.nonEmpty)
  }

  test("spearman matches a sort-based rank correlation replay") {
    val rows = Tables.lineitem(spark, sfDir)
      .selectExpr("l_returnflag", "l_extendedprice",
        "l_extendedprice * (1 - l_discount) * (1 + l_tax)")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    def avgRanks(xs: Seq[Double]): Map[Double, Double] = {
      val sorted = xs.sorted
      sorted.zipWithIndex.groupBy(_._1)
        .map { case (v, ps) => v -> (ps.map(_._2 + 1.0).sum / ps.size) }
    }
    val got = Registry.byName("q_spearman").fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    rows.groupBy(_._1).foreach { case (flag, evs) =>
      val rx = avgRanks(evs.map(_._2))
      val ry = avgRanks(evs.map(_._3))
      val pairs = evs.map(e => (rx(e._2), ry(e._3)))
      val n = pairs.size.toDouble
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val rho = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      val (gn, grho) = got(flag)
      assert(gn === evs.size.toLong)
      assert(math.abs(grho - rho) < 1e-6, s"$flag rho $grho vs $rho")
      // gross and net price are strongly rank-aligned, but discount/tax
      // must break perfect agreement — else the tie machinery is vacuous
      assert(grho > 0.8 && grho < 1.0, s"$flag rho out of band: $grho")
    }
  }

  test("TOST equivalence matches a Welch replay with commons-math one-sided p") {
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_type", "value",
        "case when ((unix_micros(date_trunc('hour', ts)) div 3600000000) + user_id % 10) % 2 = 0 then 'On' else 'Off' end as g")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    val got = Registry.byName("q_tost").fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (et, evs) =>
      val on = evs.filter(_._3 == "On").map(_._2)
      val off = evs.filter(_._3 == "Off").map(_._2)
      val n1 = on.size.toDouble; val n2 = off.size.toDouble
      val s1 = dsum(on); val s2 = dsum(off)
      val ss1 = dsum(on.map(x => x * x)); val ss2 = dsum(off.map(x => x * x))
      val m1 = s1 / n1; val m2 = s2 / n2
      val v1 = (ss1 - s1 * s1 / n1) / (n1 - 1)
      val v2 = (ss2 - s2 * s2 / n2) / (n2 - 1)
      val se = math.sqrt(v1 / n1 + v2 / n2)
      val df = math.pow(v1 / n1 + v2 / n2, 2) /
        (math.pow(v1 / n1, 2) / (n1 - 1) + math.pow(v2 / n2, 2) / (n2 - 1))
      val delta = r6d(math.abs(m2) * 0.05)
      val tLo = (m1 - m2 + delta) / se
      val tHi = (delta - (m1 - m2)) / se
      val td = new TDistribution(df)
      def oneSided(t: Double): Double = 1.0 - td.cumulativeProbability(t)
      val pEquiv = math.max(oneSided(tLo), oneSided(tHi))
      val row = got(et)
      assert(math.abs(row.getDouble(1) - r4d(m1 - m2)) < 1e-9, s"$et diff")
      assert(math.abs(row.getDouble(2) - delta) < 1e-9, s"$et delta")
      assert(math.abs(row.getDouble(3) - r4d(tLo)) < 2e-4, s"$et t_lower")
      assert(math.abs(row.getDouble(4) - r4d(tHi)) < 2e-4, s"$et t_upper")
      // CF truncation tolerance (same honest band as PowerSpec)
      assert(math.abs(row.getDouble(5) - pEquiv) < 1e-4,
        s"$et p_equiv ${row.getDouble(5)} vs $pEquiv")
      assert(row.getBoolean(6) === (row.getDouble(5) < 0.05))
    }
  }

  test("k-core peeling matches a fixpoint replay and isolates the planted clique") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // rebuild the enriched graph: ring ∪ spokes ∪ 5-lowest clique
    val bySource = docs.groupBy(_._2).map { case (s, ds) => s -> ds.map(_._1).sorted }
    val edges = scala.collection.mutable.Set[(Long, Long)]()
    def add(a: Long, b: Long): Unit =
      if (a != b) edges += ((math.min(a, b), math.max(a, b)))
    bySource.values.foreach { ids =>
      val hub = ids.head
      ids.indices.foreach { i =>
        add(ids(i), if (i + 1 < ids.length) ids(i + 1) else hub) // ring
        add(ids(i), hub) // spoke
      }
      val picks = ids.take(5)
      for (i <- picks.indices; j <- i + 1 until picks.length) add(picks(i), picks(j))
    }
    // peel to the true fixpoint
    var cur = edges.toSet
    var done = false
    var roundsUsed = 0
    while (!done) {
      val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (x, xs) => x -> xs.size }
      val alive = deg.filter(_._2 >= 4).keySet
      val next = cur.filter(e => alive(e._1) && alive(e._2))
      done = next == cur
      if (!done) roundsUsed += 1
      cur = next
    }
    assert(roundsUsed <= 6, s"fixpoint needs $roundsUsed rounds — raise kcoreRounds")
    val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (x, xs) => x -> xs.size }
    val core = deg.filter(_._2 >= 4).keySet
    val expected = bySource.map { case (s, ids) =>
      (s, ids.length.toLong, ids.count(core).toLong)
    }.toSeq.sortBy(_._1)
    val got = Registry.byName("q_kcore").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expected)
    // the editorial clique must survive, and the ring tail must peel
    expected.foreach { case (s, nDocs, nCore) =>
      if (nDocs >= 6) {
        assert(nCore >= 5, s"$s: clique peeled")
        assert(nCore < nDocs, s"$s: nothing peeled — cascade untested")
      }
    }
  }
}
