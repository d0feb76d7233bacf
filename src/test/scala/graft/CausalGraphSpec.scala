package graft

import org.apache.spark.sql.functions._

/** Round-5 operators pinned against independent plain-Scala
  * computations: DiD / covariate-OLS (Causal.scala), day-of-week
  * seasonality (TimeSeries.scala), TF-IDF / entropy (Corpus.scala)
  * and PageRank (Graph.scala). */
class CausalGraphSpec extends SparkSpec {

  /** The switchback assignment, replicated from collected rows. */
  private def isOn(ts: java.sql.Timestamp, userId: Long): Boolean = {
    val hour = java.lang.Math.floorDiv(ts.getTime * 1000L, 3600000000L)
    (hour + userId % 10) % 2 == 0
  }

  test("DiD matches an independent four-cell computation") {
    val out = Registry.byName("q_did").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val rows = Tables.events(spark, sfDir)
      .select("event_type", "ts", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val days = rows.map { case (_, ts, _, _) =>
      java.lang.Math.floorDiv(ts.getTime * 1000L, 86400000000L) }
    val mid = (days.min + days.max + 1) / 2
    val byType = rows.groupBy(_._1)
    assert(out.nonEmpty && out.keySet == byType.keySet)
    byType.foreach { case (et, evs) =>
      def cellMean(on: Boolean, post: Boolean): Double = {
        val vs = evs.filter { case (_, ts, uid, _) =>
          isOn(ts, uid) == on &&
            (java.lang.Math.floorDiv(ts.getTime * 1000L, 86400000000L) >= mid) == post
        }.map(_._4)
        vs.sum / vs.size
      }
      val did = (cellMean(on = true, post = true) - cellMean(on = true, post = false)) -
        (cellMean(on = false, post = true) - cellMean(on = false, post = false))
      assert(math.abs(out(et).getAs[Double]("did") - did) < 1e-4,
        s"$et: ${out(et).getAs[Double]("did")} vs $did")
      // t-stat is did/se of the same row (within the two roundings)
      val r = out(et)
      assert(math.abs(r.getAs[Double]("t_stat") -
        r.getAs[Double]("did") / r.getAs[Double]("se")) < 1e-3)
    }
  }

  test("covariate OLS matches an independent normal-equations solve") {
    val out = Registry.byName("q_ols_multi").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val rows = Tables.events(spark, sfDir)
      .select("event_type", "ts", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (et, evs) =>
      val x = evs.map { case (_, ts, uid, v) =>
        (1.0, if (isOn(ts, uid)) 1.0 else 0.0, (uid % 10).toDouble, v) }
      val n = x.size.toDouble
      // accumulate XtX / Xty
      val m = Array.ofDim[Double](3, 3); val b = new Array[Double](3)
      x.foreach { case (c0, c1, c2, y) =>
        val v = Array(c0, c1, c2)
        for (i <- 0 until 3; j <- 0 until 3) m(i)(j) += v(i) * v(j)
        for (i <- 0 until 3) b(i) += v(i) * y
      }
      // Cramer
      def det(a: Array[Array[Double]]): Double =
        a(0)(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
          a(0)(1) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
          a(0)(2) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))
      val d0 = det(m)
      def repl(k: Int): Array[Array[Double]] = {
        val c = m.map(_.clone); for (i <- 0 until 3) c(i)(k) = b(i); c
      }
      val beta = (0 until 3).map(k => det(repl(k)) / d0)
      val r = out(et)
      assert(math.abs(r.getAs[Double]("beta0") - beta(0)) < 1e-4, s"$et beta0")
      assert(math.abs(r.getAs[Double]("beta_treat") - beta(1)) < 1e-4, s"$et beta1")
      assert(math.abs(r.getAs[Double]("beta_x") - beta(2)) < 1e-4, s"$et beta2")
      assert(r.getAs[Long]("n") === x.size.toLong)
    }
  }

  test("seasonality indexes weight-average to 1 per event_type") {
    val out = Registry.byName("q_seasonality").fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("event_type")).foreach { case (et, rows) =>
      assert(rows.map(_.getAs[Long]("dow")).toSet.subsetOf((0L to 6L).toSet))
      val w = rows.map(_.getAs[Long]("n_days").toDouble)
      val idx = rows.map(_.getAs[Double]("seasonal_index"))
      val dm = rows.map(_.getAs[Double]("dow_mean"))
      // Σ n·mean / Σ n = overall mean ⇒ the n-weighted index mean is 1
      val avgIdx = idx.zip(w).map { case (i, wt) => i * wt }.sum / w.sum
      assert(math.abs(avgIdx - 1.0) < 1e-3, s"$et: $avgIdx")
      assert(dm.forall(_ > 0.0))
    }
  }

  test("tfidf ranks are per-doc descending and scores check out") {
    val out = Registry.byName("q_tfidf").fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    val nDocs = Tables.documents(spark, sfDir).count()
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Double]("score")) ===
        byRank.map(_.getAs[Double]("score")).sorted.reverse)
      byRank.foreach { r =>
        val expected = r6d(r.getAs[Long]("tf") *
          (math.log((1.0 + nDocs) / (1 + r.getAs[Long]("df"))) + 1.0))
        assert(math.abs(r.getAs[Double]("score") - expected) < 1e-9)
      }
    }
  }

  test("entropy is non-negative and KL(corpus source) is Gibbs-bounded") {
    val out = Registry.byName("q_entropy").fn(spark, sfDir).collect()
    assert(out.size >= 2)
    out.foreach { r =>
      assert(r.getAs[Double]("entropy") >= 0.0)
      // KL ≥ 0 up to the per-term 1e-6 rounding budget
      assert(r.getAs[Double]("kl_corpus") >= -0.01,
        s"${r.getAs[String]("source")}: KL ${r.getAs[Double]("kl_corpus")}")
      assert(r.getAs[Long]("n_tokens") > 0)
    }
  }

  test("unpivot melts exactly 3 metric rows per group, values preserved") {
    val out = Registry.byName("q_unpivot").fn(spark, sfDir).collect()
    val byType = out.groupBy(_.getAs[String]("event_type"))
    assert(byType.nonEmpty)
    byType.foreach { case (et, rows) =>
      assert(rows.map(_.getAs[String]("metric")).sorted.toSeq ===
        Seq("max_value", "n_events", "sum_value"), s"$et")
    }
    // n_events round-trips the plain count
    val counts = Tables.events(spark, sfDir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.filter(_.getAs[String]("metric") == "n_events").foreach { r =>
      assert(r.getAs[Double]("value") ===
        counts(r.getAs[String]("event_type")).toDouble)
    }
  }

  test("grouping sets emit exactly the requested marginals, consistently") {
    val out = Registry.byName("q_grouping_sets").fn(spark, sfDir).collect()
    val detail = out.filter(r => r.getAs[Long]("g_status") == 0 && r.getAs[Long]("g_priority") == 0)
    val byPrio = out.filter(r => r.getAs[Long]("g_status") == 1 && r.getAs[Long]("g_priority") == 0)
    val grand = out.filter(r => r.getAs[Long]("g_status") == 1 && r.getAs[Long]("g_priority") == 1)
    assert(out.length === detail.length + byPrio.length + grand.length,
      "only the three requested sets may appear")
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n") === detail.map(_.getAs[Long]("n")).sum)
    // every priority marginal equals the sum of its detail rows
    byPrio.foreach { p =>
      val prio = p.getAs[String]("priority")
      assert(p.getAs[Long]("n") ===
        detail.filter(_.getAs[String]("priority") == prio).map(_.getAs[Long]("n")).sum)
    }
  }

  test("bpe pairs are 2-char, ranked, and match a direct recount") {
    val rows = Registry.byName("q_bpe_pairs").fn(spark, sfDir).collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getAs[String]("pair").length == 2))
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.toSeq === cnts.sorted.reverse.toSeq)
    // independent recount of the top pair
    val words = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.length >= 2)
    val top = rows.head.getAs[String]("pair")
    val expected = words.map(w => w.sliding(2).count(_ == top)).sum
    assert(rows.head.getAs[Long]("cnt") === expected.toLong)
  }

  test("pmi collocations respect min support and the pmi formula") {
    val rows = Registry.byName("q_pmi").fn(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getAs[Long]("c12") >= 5))
    val toks = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).split(" "))
    val uni = toks.groupBy(identity).map { case (w, ws) => w -> ws.length }
    val n = toks.length.toDouble
    rows.foreach { r =>
      val expect = r6d(math.log(
        r.getAs[Long]("c12").toDouble * n /
          (uni(r.getAs[String]("w1")).toDouble * uni(r.getAs[String]("w2")).toDouble)))
      assert(math.abs(r.getAs[Double]("pmi") - expect) < 1e-9,
        s"${r.getAs[String]("w1")} ${r.getAs[String]("w2")}")
    }
  }

  test("weighted sample matches an independent Efraimidis-Spirakis replay") {
    val docs = Tables.documents(spark, sfDir)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.toSeq.map { case (_, id, w) =>
        val u = (lcg(id, 77L) + 1.0) / 2147483649.0
        (src, id, r6d(-math.log(u) / w)) // ranked on the 1e-6 grid
      }.sortBy { case (_, id, k) => (k, id) }.take(5)
    }.toSet
    val got = Registry.byName("q_weighted_sample").fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("ekey"))).toSet
    assert(got === expected)
  }

  test("dp aggregate noise is Laplace-bounded and deterministic") {
    val a = Registry.byName("q_dp_agg").fn(spark, sfDir).collect()
    val b = Registry.byName("q_dp_agg").fn(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq, "must be deterministic")
    a.foreach { r =>
      val nNoise = r.getAs[Double]("dp_n") - r.getAs[Long]("true_n")
      val sNoise = r.getAs[Double]("dp_sum") - r.getAs[Double]("true_sum_r")
      // |Laplace(b)| < b·ln(2^31) ≈ 21.5b with u bounded away from 0/1
      assert(math.abs(nNoise) < 22.0, s"count noise $nNoise")
      assert(math.abs(sNoise) < 4400.0, s"sum noise $sNoise")
      assert(nNoise != 0.0 || sNoise != 0.0, "noise must actually be applied")
    }
  }

  test("dp release: each seed draws its own noise inside the Laplace envelope") {
    val base = operators.Approx.dpAggregateWith(spark, sfDir, seed = 0L).collect()
    val alt = operators.Approx.dpAggregateWith(spark, sfDir, seed = 12345L).collect()
    // identical true values...
    assert(base.map(r => (r.getString(0), r.getAs[Long]("true_n"))).toSeq ===
      alt.map(r => (r.getString(0), r.getAs[Long]("true_n"))).toSeq)
    // ...but a different noise draw for at least one group
    val changed = base.zip(alt).count { case (a, b) =>
      a.getAs[Double]("dp_n") != b.getAs[Double]("dp_n") ||
        a.getAs[Double]("dp_sum") != b.getAs[Double]("dp_sum")
    }
    assert(changed > 0, "a different seed must draw different noise")
    // every seed's draw stays inside the inverse-CDF envelope
    Seq(base, alt).foreach(_.foreach { r =>
      assert(math.abs(r.getAs[Double]("dp_n") - r.getAs[Long]("true_n")) < 22.0)
      assert(math.abs(r.getAs[Double]("dp_sum") - r.getAs[Double]("true_sum_r")) < 4400.0)
    })
    // release mode publishes ONLY the noisy columns — no true values
    assert(operators.Approx.dpRelease(spark, sfDir, seed = 7L).columns.toSeq ===
      Seq("event_type", "dp_n", "dp_sum"))
    // the WHOLE long seed domain is valid: extreme/negative seeds fold
    // into [0, 2^31) before entering the LCG, so the draw never goes
    // NULL (ln of a negative) and never overflows — the documented
    // "arbitrary secret seed" production path
    Seq(Long.MinValue, -1000000000000L, -1L, Long.MaxValue).foreach { s =>
      val rel = operators.Approx.dpAggregateWith(spark, sfDir, seed = s).collect()
      rel.foreach { r =>
        assert(!r.isNullAt(r.fieldIndex("dp_n")), s"seed $s drew NULL noise")
        assert(math.abs(r.getAs[Double]("dp_n") - r.getAs[Long]("true_n")) < 22.0, s"seed $s")
      }
    }
  }

  test("zipf slope matches an independent replay and sits near -1") {
    val docs = Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val out = Registry.byName("q_zipf").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val counts = ds.flatMap(_._2.split(" ")).groupBy(identity)
        .map { case (w, ws) => w -> ws.length }.toSeq
      val top = counts.sortBy { case (w, c) => (-c, w) }.take(100)
      val pts = top.zipWithIndex.map { case ((_, c), i) =>
        (math.log((i + 1).toDouble), math.log(c.toDouble)) }
      val n = pts.size.toDouble
      def sumR6(f: ((Double, Double)) => Double): Double =
        pts.map(p => BigDecimal(r6d(f(p)))).sum.toDouble
      val (sx, sy) = (sumR6(_._1), sumR6(_._2))
      val sxy = sumR6(p => p._1 * p._2); val sxx = sumR6(p => p._1 * p._1)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val r = out(src)
      assert(r.getAs[Long]("n_terms") === pts.size.toLong)
      val got = r.getAs[Double]("zipf_slope")
      assert(math.abs(got - r4d(slope)) < 1e-12, s"$src: $got vs $slope")
      assert(got < 0.0, s"$src slope must be negative, got $got")
    }
  }

  test("embed centroids match an independent replay (cohesion exact)") {
    val rows = Tables.embeddings(spark, sfDir)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val out = Registry.byName("q_embed_centroids").fn(spark, sfDir).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    rows.groupBy(_._1).foreach { case (label, vs) =>
      val dims = vs.head._2.length
      val n = vs.length
      val cent = (0 until dims).map { i =>
        val s = vs.map(v => BigDecimal(r6d(v._2(i).toDouble))).sum
        r6d(s.toDouble / n)
      }.toArray
      val cNrm = math.sqrt(cent.foldLeft(0.0)((a, x) => a + x * x))
      val cohesion = {
        val coss = vs.map { case (_, v) =>
          var dot = 0.0; var nv = 0.0
          for (i <- 0 until dims) {
            dot += v(i).toDouble * cent(i); nv += v(i).toDouble * v(i).toDouble
          }
          BigDecimal(r6d(dot / (math.sqrt(nv) * cNrm)))
        }
        r4d(coss.sum.toDouble / n)
      }
      val r = out(label)
      assert(r.getAs[Long]("n_vecs") === n.toLong)
      assert(math.abs(r.getAs[Double]("centroid_norm") - r6d(cNrm)) < 1e-9, s"label $label norm")
      assert(r.getAs[Double]("cohesion") === cohesion, s"label $label cohesion")
      assert(r.getAs[Double]("cohesion") > 0.0 && r.getAs[Double]("cohesion") <= 1.0)
    }
  }

  test("pagerank matches an independent BigDecimal replay exactly") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // rebuild the ring+spoke edge set
    val edges = docs.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      val ids = ds.map(_._1).sorted.toSeq
      val hub = ids.head
      val ring = ids.zip(ids.tail :+ hub).filter { case (a, b) => a != b }
      val spokes = ids.filter(_ != hub).map(_ -> hub)
      (ring ++ spokes).distinct
    }
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val n = docs.length
    var pr: Map[Long, Double] = docs.map(d => d._1 -> r6d(1.0 / n)).toMap
    for (_ <- 1 to 5) {
      val sums = edges
        .map { case (s, dst) => dst -> BigDecimal(r6d(pr(s) / outDeg(s))) }
        .groupBy(_._1).map { case (dst, cs) => dst -> cs.map(_._2).sum.toDouble }
      pr = docs.map { d =>
        d._1 -> r6d(0.15 / n + 0.85 * sums.getOrElse(d._1, 0.0)) }.toMap
    }
    val expectedTop = pr.toSeq.sortBy { case (id, p) => (-p, id) }.take(20)
    val got = Registry.byName("q_pagerank").fn(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("pr")))
    assert(got.toSeq === expectedTop, s"got ${got.toSeq}\nexp $expectedTop")
    // hubs dominate: every source hub outranks its spokes
    val hubs = docs.groupBy(_._2).map { case (_, ds) => ds.map(_._1).min }.toSet
    assert(expectedTop.take(5).forall { case (id, _) => hubs.contains(id) })
  }

  test("pagerank deep iterations: checkpoint bounds the plan, 5-iteration readout unchanged") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    // 12 iterations: the localCheckpoint at iteration 10 must truncate
    // lineage, so the FINAL plan unrolls only iterations 11-12 — a
    // 12-deep unrolled chain would carry ~24 joins
    val deep = operators.Graph.pagerankIters(spark, sfDir, 12)
    val joins = deep.queryExecution.optimizedPlan.collect { case j: LJoin => j }.size
    assert(joins <= 8, s"expected checkpoint-truncated plan, found $joins joins")
    val rows = deep.collect()
    CacheScope.releaseAll()
    assert(rows.length === 20)
    assert(rows.forall(r => r.getAs[Double]("pr") > 0.0 &&
      !r.getAs[Double]("pr").isNaN))
    // ranks keep converging: iteration 12 is a valid distribution
    // (damped mass conservation holds loosely on the r6 grid)
    val total = rows.map(_.getAs[Double]("pr")).sum
    assert(total > 0.0 && total < 1.0 + 1e-3)
    // the parameterized 5-iteration path IS q_pagerank's (oracle-pinned)
    val five = operators.Graph.pagerankIters(spark, sfDir, 5).collect()
    CacheScope.releaseAll()
    val named = Registry.byName("q_pagerank").fn(spark, sfDir).collect()
    CacheScope.releaseAll()
    assert(five.map(_.toString).toSeq === named.map(_.toString).toSeq)
  }
}
