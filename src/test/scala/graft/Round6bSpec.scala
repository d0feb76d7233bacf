package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Second round-6 batch, pinned against independent plain-Scala
  * computations: SemDeDup cluster-bounded semantic dedup
  * (Similarity.scala), DSIR hashed-bigram importance weights
  * (Corpus.scala), quantile treatment effects + Bayesian A/B readout
  * (Switchback.scala) and capped multi-seed BFS (Graph.scala). */
class Round6bSpec extends SparkSpec {

  test("semdedup: planted copies are dropped, cluster accounting is consistent") {
    val out = Registry.byName("q_semdedup").fn(spark, sfDir).collect()
    val emb = Tables.embeddings(spark, sfDir)
    val nEmb = emb.count()
    val nPlanted = emb.filter(col("vec_id") % 10 === 0).count()
    assert(out.map(_.getAs[Long]("n_members")).sum === nEmb + nPlanted)
    // every planted copy shares its original's cluster (identical
    // embedding => identical argmax) at cosine 1.0 => must be dropped
    assert(out.map(_.getAs[Long]("n_dropped")).sum >= nPlanted)
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup_pairs") >= r.getAs[Long]("n_dropped"))
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_members"))
    }
  }

  test("dsir importance weights match a plain-Scala hashed-bigram replay") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val feats = docs.flatMap { case (id, lang, text) =>
      val t = text.split(" ", -1)
      if (t.length >= 2)
        (1 until t.length).map(i => (id, lang,
          graft.functions.HashFunctions.polyHash(
            UTF8String.fromString(t(i - 1) + " " + t(i))) % 256))
      else Seq.empty
    }
    val nRaw = feats.length.toLong
    val nTgt = feats.count(_._2 == "en").toLong
    val lw: Map[Long, Double] = feats.groupBy(_._3).map { case (b, fs) =>
      val cRaw = fs.length.toLong
      val cTgt = fs.count(_._2 == "en").toLong
      b -> r6d(math.log((cTgt + 0.5) / (nTgt + 128.0)) -
        math.log((cRaw + 0.5) / (nRaw + 128.0)))
    }
    val perDoc = feats.groupBy(f => (f._1, f._2)).map { case ((id, lang), fs) =>
      (id, lang, fs.length.toLong, r4d(fs.map(f => bd6(lw(f._3))).sum.toDouble))
    }.toSeq
    val expected = perDoc.sortBy { case (id, _, _, w) => (-w, id) }.take(20)
      .map { case (id, lang, nf, w) => (id, lang, nf, w) }
    val got = Registry.byName("q_dsir").fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_feats"), r.getAs[Double]("logw"))).toSeq
    assert(got === expected)
    // the target tilt is real: English docs dominate the top of the list
    assert(got.count(_._2 == "en") >= 15)
  }

  /** The switchback assignment replicated for events read through
    * [[Tables.events]] (UTC session timezone). */
  private def onOffScala(tsMicros: Long, userId: Long): String = {
    val hourIdx = Math.floorDiv(tsMicros, 3600000000L)
    if (((hourIdx + userId % 10) % 2 + 2) % 2 == 0) "On" else "Off"
  }

  test("qte quantiles match a sorted-array interpolation replay") {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def quant(vs: Array[Double], p: Double): Double = {
      val s = vs.sorted
      val h = (s.length - 1) * p
      val lo = h.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val out = Registry.byName("q_qte").fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    rows.groupBy(_._1).foreach { case (et, es) =>
      val on = es.filter(e => onOffScala(e._2, e._3) == "On").map(_._4)
      val off = es.filter(e => onOffScala(e._2, e._3) == "Off").map(_._4)
      val r = out(et)
      assert(r.getAs[Long]("n_on") === on.length.toLong, et)
      assert(r.getAs[Long]("n_off") === off.length.toLong, et)
      Seq(0.25 -> "25", 0.5 -> "50", 0.75 -> "75").foreach { case (p, tag) =>
        val qOn = r4d(quant(on, p)); val qOff = r4d(quant(off, p))
        assert(r.getAs[Double](s"q${tag}_on") === qOn, s"$et q$tag on")
        assert(r.getAs[Double](s"q${tag}_off") === qOff, s"$et q$tag off")
        assert(r.getAs[Double](s"qte$tag") === r4d(qOn - qOff), s"$et qte$tag")
      }
    }
  }

  test("bayes_ab: probabilities are proper and the loss identity holds") {
    val out = Registry.byName("q_bayes_ab").fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val p = r.getAs[Double]("p_beats")
      val d = r.getAs[Double]("diff")
      val lOn = r.getAs[Double]("exp_loss_on")
      val lOff = r.getAs[Double]("exp_loss_off")
      assert(p > 0.0 && p < 1.0)
      // expected losses are nonnegative (allow the 1e-6 rounding grid)
      assert(lOn >= -1e-6 && lOff >= -1e-6)
      // E[max(-D,0)] - E[max(D,0)] = -E[D]: the identity survives the
      // r6 rounding of each loss and the r4 rounding of diff
      assert(math.abs((lOn - lOff) + d) < 2e-4, r.toString)
      // direction: a positive observed lift means treatment more likely wins
      if (d > 0) assert(p > 0.5) else if (d < 0) assert(p < 0.5)
    }
  }

  test("rag chunking: full coverage, correct overlap, fingerprints replay") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val out = Registry.byName("q_rag_chunk").fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("tok_len"),
        r.getAs[Long]("chunk_chars"), r.getAs[Long]("fp")))
      .groupBy(_._1)
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val n = toks.length
      val expChunks = if (n <= 64) 1L else (n - 64 + 47) / 48 + 1L
      val chunks = out(id).sortBy(_._2)
      assert(chunks.length.toLong === expChunks, s"doc $id")
      chunks.foreach { case (_, idx, start, len, chars, fp) =>
        assert(start === idx * 48)
        assert(len === math.min(64L, n - start))
        val ctext = toks.slice(start.toInt, (start + len).toInt).mkString(" ")
        assert(chars === ctext.length.toLong)
        assert(fp === graft.functions.HashFunctions.polyHash(
          UTF8String.fromString(ctext)))
      }
      // coverage: last chunk reaches the final token; stride < size
      // means no token between chunks is ever skipped
      val last = chunks.last
      assert(last._3 + last._4 === n.toLong, s"doc $id tail covered")
    }
  }

  test("chunk dedup: cross-doc duplicate chunks match a fingerprint replay") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val chunkFps = docs.flatMap { case (id, src, text) =>
      val toks = text.split(" ", -1)
      val n = toks.length
      val nChunks = if (n <= 64) 1L else (n - 64 + 47) / 48 + 1L
      (0L until nChunks).map { idx =>
        val start = (idx * 48).toInt
        val len = math.min(64, n - start)
        val fp = graft.functions.HashFunctions.polyHash(
          UTF8String.fromString(toks.slice(start, start + len).mkString(" ")))
        (id, src, fp)
      }
    }
    val docsPerFp = chunkFps.groupBy(_._3).map { case (fp, cs) =>
      fp -> cs.map(_._1).distinct.size
    }
    val expected = chunkFps.groupBy(_._2).map { case (src, cs) =>
      val dup = cs.count(c => docsPerFp(c._3) > 1).toLong
      src -> (cs.length.toLong, dup, r4d(dup.toDouble / cs.length))
    }
    val out = Registry.byName("q_chunk_dedup").fn(spark, sfDir).collect()
    assert(out.length === expected.size)
    out.foreach { r =>
      val (n, dup, ratio) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_chunks") === n)
      assert(r.getAs[Long]("n_dup_chunks") === dup)
      assert(r.getAs[Double]("dup_ratio") === ratio)
    }
  }

  test("hte: segment effects are degenerate-cell-safe and moment-consistent") {
    val out = Registry.byName("q_hte").fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    // segment cells partition the event table exactly
    val total = Tables.events(spark, sfDir).count()
    assert(out.map(r => r.getAs[Long]("n_on") + r.getAs[Long]("n_off")).sum === total)
    out.foreach { r =>
      val nOn = r.getAs[Long]("n_on"); val nOff = r.getAs[Long]("n_off")
      if (nOn > 1 && nOff > 1) {
        assert(!r.isNullAt(r.fieldIndex("cate")), r.toString)
        assert(r.getAs[Double]("se") > 0.0, r.toString)
      }
    }
  }

  test("gst: cumulative z and OBF boundaries match a replay, alpha spent late") {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val d0 = rows.map(e => Math.floorDiv(e._2, 86400000000L)).min
    val out = Registry.byName("q_gst").fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("week")) -> r).toMap
    rows.groupBy(_._1).foreach { case (et, es) =>
      (1L to 4L).foreach { k =>
        val upTo = es.filter(e =>
          Math.floorDiv(Math.floorDiv(e._2, 86400000000L) - d0, 7L) + 1 <= k)
        val on = upTo.filter(e => onOffScala(e._2, e._3) == "On").map(_._4)
        val off = upTo.filter(e => onOffScala(e._2, e._3) == "Off").map(_._4)
        val r = out((et, k))
        assert(r.getAs[Long]("n_cum_on") === on.length.toLong, s"$et w$k")
        assert(r.getAs[Long]("n_cum_off") === off.length.toLong, s"$et w$k")
        def mv(xs: Array[Double]): (Double, Double) = {
          val n = xs.length
          val s = xs.map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          val ss = xs.map(x => BigDecimal(x * x).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          (s / n, (ss - s * s / n) / (n - 1) / n)
        }
        val (m1, vm1) = mv(on); val (m2, vm2) = mv(off)
        val z = r4d((m1 - m2) / math.sqrt(vm1 + vm2))
        val bound = r4d(2.024 * math.sqrt(4.0 / k))
        assert(r.getAs[Double]("z") === z, s"$et w$k")
        assert(r.getAs[Double]("obf_bound") === bound, s"$et w$k")
        assert(r.getAs[Boolean]("reject") === (math.abs(z) > bound), s"$et w$k")
      }
    }
    // the OBF curve spends alpha late: boundaries strictly decrease
    val bounds = (1L to 4L).map(k => out(("click", k)).getAs[Double]("obf_bound"))
    assert(bounds === bounds.sorted.reverse && bounds.distinct.size === 4)
  }

  test("khop histogram matches a brute-force bounded BFS") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // ring + spoke edges, exactly as Graph.rawEdges
    val edges = docs.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      val ids = ds.map(_._1).sorted
      val hub = ids.head
      val ring = ids.zip(ids.tail :+ hub).filter { case (a, b) => a != b }
      val spoke = ids.filter(_ != hub).map(id => (id, hub))
      ring ++ spoke
    }.distinct
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var hop: Map[Long, Int] = docs.filter(_._1 % 7 == 0).map(_._1 -> 0).toMap
    for (k <- 1 to 6) {
      val next = hop.toSeq.filter(_._2 == k - 1)
        .flatMap { case (id, _) => adj.getOrElse(id, Seq.empty).map(_ -> k) }
      next.foreach { case (id, h) =>
        if (!hop.contains(id) || hop(id) > h) hop += id -> h
      }
    }
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      val hs = ds.map(d => hop.get(d._1))
      src -> ((0 to 6).map(k => hs.count(_.contains(k)).toLong),
        hs.count(_.isEmpty).toLong, ds.length.toLong)
    }
    val out = Registry.byName("q_khop").fn(spark, sfDir).collect()
    assert(out.length === expected.size)
    out.foreach { r =>
      val (hist, unreached, nDocs) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nDocs)
      (0 to 6).foreach(k => assert(r.getAs[Long](s"h$k") === hist(k),
        s"${r.getAs[String]("source")} h$k"))
      assert(r.getAs[Long]("unreached") === unreached)
    }
  }
}
