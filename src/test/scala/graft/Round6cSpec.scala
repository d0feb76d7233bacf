package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Third round-6 batch, pinned against independent plain-Scala
  * computations: PQ-compressed ANN (Similarity.scala), the oracle-backed
  * Count-Min frequency sketch (TextAnalysis.scala + functions/CmsAgg),
  * Kaplan–Meier survival (TimeSeries.scala) and stratified IPW
  * (Causal.scala). */
class Round6cSpec extends SparkSpec {

  test("ann_pq matches a plain-Scala product-quantization replay") {
    val M = 8; val dsub = 8; val K = 4
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def sq(x: Array[Float], off: Int, c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dsub) { val d = x(off + i).toDouble - c(i); acc += d * d; i += 1 }
      acc
    }
    val init = Array.tabulate(M, K)((s, j) =>
      emb(j)._2.slice(s * dsub, (s + 1) * dsub).map(_.toDouble))
    def argmin(ds: Array[Double]): Int = {
      var best = 0; var i = 1
      while (i < ds.length) { if (ds(i) < ds(best)) best = i; i += 1 }
      best
    }
    // one Lloyd round on the decimal grid
    val asg0 = emb.map { case (_, v) =>
      Array.tabulate(M)(s => argmin(Array.tabulate(K)(j => sq(v, s * dsub, init(s)(j)))))
    }
    val cb1 = init.map(_.map(_.clone()))
    for (s <- 0 until M; cl <- 0 until K) {
      val members = emb.indices.filter(i => asg0(i)(s) == cl)
      if (members.nonEmpty) {
        for (sd <- 0 until dsub) {
          val tot = members.map(i => bd6(r6d(emb(i)._2(s * dsub + sd).toDouble))).sum
          cb1(s)(cl)(sd) = r6d(tot.toDouble / members.size)
        }
      }
    }
    val codes = emb.map { case (_, v) =>
      Array.tabulate(M)(s => argmin(Array.tabulate(K)(j => sq(v, s * dsub, cb1(s)(j)))))
    }
    val expected = emb.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val lut = Array.tabulate(M, K)((s, j) => r6d(sq(qv, s * dsub, cb1(s)(j))))
      val scored = emb.zipWithIndex.filter(_._1._1 != qid).map { case ((vid, _), i) =>
        var acc = 0.0; var s = 0
        while (s < M) { acc += lut(s)(codes(i)(s)); s += 1 }
        (vid, r6d(acc))
      }
      scored.sortBy { case (vid, adc) => (adc, vid) }.take(3).zipWithIndex
        .map { case ((vid, adc), rk) => (qid, rk + 1, vid, adc) }
    }
    val got = Registry.byName("q_ann_pq").fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("adc")))
    assert(got.toSeq === expected.toSeq)
  }

  test("cms estimates never undercount and match a brute-force grid replay") {
    import graft.functions.CmsAgg
    val toks = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
    val grid = Array.ofDim[Long](CmsAgg.Depth, CmsAgg.Width)
    toks.foreach { w =>
      val u = UTF8String.fromString(w)
      (0 until CmsAgg.Depth).foreach(d => grid(d)(CmsAgg.bucket(u, d)) += 1)
    }
    val exact = toks.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val out = Registry.byName("q_cms").fn(spark, sfDir).collect()
    assert(out.length === 10)
    // top-10 selection matches the exact counts
    val expTop = exact.toSeq.sortBy { case (w, n) => (-n, w) }.take(10)
    assert(out.map(r => (r.getAs[String]("word"), r.getAs[Long]("n_exact"))).toSeq === expTop)
    out.foreach { r =>
      val w = UTF8String.fromString(r.getAs[String]("word"))
      val est = (0 until CmsAgg.Depth).map(d => grid(d)(CmsAgg.bucket(w, d))).min
      assert(r.getAs[Long]("n_cms") === est)
      assert(r.getAs[Long]("n_cms") >= r.getAs[Long]("n_exact"))
      assert(r.getAs[Boolean]("cms_ge_exact"))
    }
  }

  test("survival: KM curve matches a plain-Scala replay and is monotone") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("d")).collect()
      .map(r => (r.getLong(0), r.getString(1), java.time.LocalDate.parse(r.getString(2))))
    val units = ev.groupBy(_._1).map { case (uid, es) =>
      val t0 = es.map(_._3).min
      val tp = es.filter(_._2 == "purchase").map(_._3).minOption
      val tmax = es.map(_._3).max
      val dur = java.time.temporal.ChronoUnit.DAYS.between(t0, tp.getOrElse(tmax))
      (uid % 2, dur, tp.isDefined)
    }.toSeq
    val expected = units.groupBy(_._1).toSeq.flatMap { case (grp, us) =>
      val byDur = us.groupBy(_._2).toSeq.sortBy(_._1)
      var atRisk = us.size.toLong
      var cum = BigDecimal(0)
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
      byDur.foreach { case (dur, ds) =>
        val d = ds.count(_._3).toLong
        if (d > 0) {
          val sKm = if (d == atRisk) 0.0
          else {
            cum += bd6(r6d(math.log(1.0 - d.toDouble / atRisk)))
            r4d(math.exp(cum.toDouble))
          }
          rows += ((grp, dur, atRisk, d, sKm))
        }
        atRisk -= ds.size
      }
      rows
    }.sortBy(r => (r._1, r._2))
    val got = Registry.byName("q_survival").fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("t"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("d_events"), r.getAs[Double]("s_km")))
    assert(got.toSeq === expected)
    // survival curves are monotone non-increasing within each arm
    got.groupBy(_._1).foreach { case (_, rows) =>
      val s = rows.sortBy(_._2).map(_._5)
      assert(s.zip(s.tail).forall { case (a, b) => b <= a })
    }
  }

  test("psi matches a plain-Scala replay; identical halves give ~0 psi") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("day")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val mid = (ev.map(_._3).min + ev.map(_._3).max + 1) / 2
    def pctl(sorted: Array[Double], p: Double): Double = {
      val rank = p * (sorted.length - 1)
      val lo = rank.toInt
      if (lo == sorted.length - 1) sorted(lo)
      else sorted(lo) + (rank - lo) * (sorted(lo + 1) - sorted(lo))
    }
    val expected = ev.groupBy(_._1).toSeq.map { case (et, rows) =>
      val ref = rows.filter(_._3 < mid).map(_._2)
      val cur = rows.filter(_._3 >= mid).map(_._2)
      val sorted = ref.sorted
      val cuts = Seq(0.2, 0.4, 0.6, 0.8).map(p => r6d(pctl(sorted, p)))
      def binOf(v: Double) = cuts.count(v > _)
      val cRef = (0 to 4).map(b => ref.count(binOf(_) == b).toLong)
      val cCur = (0 to 4).map(b => cur.count(binOf(_) == b).toLong)
      val nRef = ref.length.toLong; val nCur = cur.length.toLong
      val terms = (0 to 4).map { b =>
        val p = (cRef(b) + 0.5) / (nRef + 2.5)
        val q = (cCur(b) + 0.5) / (nCur + 2.5)
        bd6(r6d((q - p) * math.log(q / p)))
      }
      (et, nRef, nCur, r4d(terms.sum.toDouble))
    }.sortBy(_._1)
    val got = Registry.byName("q_psi").fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_cur"), r.getAs[Double]("psi")))
    assert(got.toSeq === expected)
    // sanity: psi of a distribution against itself is ~0 (smoothing only)
    expected.foreach { case (_, _, _, psi) => assert(psi >= 0.0 || psi > -0.01) }
  }

  test("ndcg matches a plain-Scala replay and is bounded by 1") {
    val terms = Seq("spark", "join", "vector", "stream")
    val discounts = (1 to 10).map(pos => 1.0 / (math.log(pos + 1.0) / math.log(2.0)))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val expected = terms.map { t =>
      val cand = docs.map { case (id, ws) => (id, ws.count(_ == t).toLong, ws.length.toLong) }
        .filter(_._2 > 0)
        .map { case (id, tf, dl) => (id, tf, r6d(tf.toDouble / dl), math.min(tf, 3L)) }
      def dcgBy[K: Ordering](key: ((Long, Long, Double, Long)) => K): Double = {
        val top = cand.sortBy(c => (key(c), c._1)).take(10)
        val gains = top.zipWithIndex.map { case ((_, _, _, rel), i) =>
          val gain = rel match { case 1 => 1.0; case 2 => 3.0; case _ => 7.0 }
          bd6(r6d(gain * discounts(i)))
        }
        r4d(gains.sum.toDouble)
      }
      val dcg = dcgBy(c => -c._3)
      val idcg = dcgBy(c => -c._4.toDouble)
      (t, cand.length.toLong, dcg, idcg, r4d(dcg / idcg))
    }.sortBy(_._1)
    val got = Registry.byName("q_ndcg").fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("n_docs"), r.getAs[Double]("dcg"),
        r.getAs[Double]("idcg"), r.getAs[Double]("ndcg")))
    assert(got.toSeq === expected)
    got.foreach(r => assert(r._5 > 0.0 && r._5 <= 1.0))
  }

  test("ipw: stratified reweighting matches a plain-Scala replay") {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"), col("user_id"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h")).collect()
      .map(r => (r.getString(0), r.getDouble(1),
        if ((r.getLong(3) + r.getLong(2) % 10) % 2 == 0) 1 else 0))
    val st = rows.groupBy(_._1).map { case (et, rs) =>
      val n = rs.length.toLong
      val n1 = rs.count(_._3 == 1).toLong
      val s1 = rs.filter(_._3 == 1).map(r => bd6(r._2)).sum.toDouble
      val s0 = rs.filter(_._3 == 0).map(r => bd6(r._2)).sum.toDouble
      (et, n, n1, s1, s0)
    }.toSeq
    val expPer = st.map { case (et, n, n1, s1, s0) =>
      (et, n, n1, r6d(n1.toDouble / n), r4d(s1 / n1), r4d(s0 / (n - n1)),
        r4d(s1 / n1 - s0 / (n - n1)))
    }
    val nAll = st.map(_._2).sum
    val n1All = st.map(_._3).sum
    val sw1 = st.map { case (_, n, n1, s1, _) => bd6(r6d(s1 / r6d(n1.toDouble / n))) }.sum.toDouble
    val sw0 = st.map { case (_, n, n1, _, s0) => bd6(r6d(s0 / (1.0 - r6d(n1.toDouble / n)))) }.sum.toDouble
    val expAll = ("ALL", nAll, n1All, r6d(n1All.toDouble / nAll),
      r4d(sw1 / nAll), r4d(sw0 / nAll), r4d(r4d(sw1 / nAll) - r4d(sw0 / nAll)))
    val expected = (expPer :+ expAll).sortBy(_._1)
    val got = Registry.byName("q_ipw").fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("stratum"), r.getAs[Long]("n"), r.getAs[Long]("n_treated"),
        r.getAs[Double]("e_hat"), r.getAs[Double]("mu1"), r.getAs[Double]("mu0"),
        r.getAs[Double]("ate")))
    assert(got.toSeq === expected)
  }
}
