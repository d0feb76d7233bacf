package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Event, EventStream}

/** Structured Streaming twins vs their batch equivalents. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // offset from epoch: a row whose event time equals the initial
  // watermark (0) would be discarded as late
  private def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)

  test("tumbling window stream equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = (0 until 120).map { i =>
      Event(i.toLong, ts(i.toLong), i % 3L, if (i % 2 == 0) "click" else "view", i * 1.0)
    }
    val q = EventStream.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(events)
    // push watermark far enough to close all 1h windows
    input.addData(Event(999L, ts(600L), 0L, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tumbling_out")
      .select("window_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    val batch = input.toDS() // not usable for batch; recompute directly
    val batchDf = events.toDF()
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    assert(batchDf.subsetOf(streamed)) // streamed also has the late probe row's window
  }

  test("streaming switchback metrics emit finalized On/Off windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sbMetricsStream(input.toDF())
      .writeStream.format("memory").queryName("sb_stream_out")
      .outputMode(OutputMode.Append()).start()
    val events = (0 until 240).map { i =>
      Event(i.toLong, ts(i.toLong), i % 5L, "click", i * 1.0)
    }
    input.addData(events)
    input.addData(Event(999L, ts(2000L), 0L, "click", 0.0)) // advance watermark
    q.processAllAvailable(); q.stop()
    val out = spark.table("sb_stream_out").collect()
    assert(out.nonEmpty)
    val groups = out.map(_.getAs[String]("on_off")).toSet
    assert(groups.subsetOf(Set("On", "Off")) && groups.nonEmpty)
  }

  test("streaming windowed quantiles equal the batch sketch (batch-chop invariant)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = (0 until 180).map { i =>
      Event(i.toLong, ts(i.toLong), i % 3L, "click", math.exp(i % 50 / 10.0))
    }
    val q = EventStream.windowedQuantiles(input.toDF())
      .writeStream.format("memory").queryName("quant_out")
      .outputMode(OutputMode.Append()).start()
    // feed in three uneven chunks: state must merge partial sketches
    input.addData(events.take(50))
    input.addData(events.slice(50, 70))
    input.addData(events.drop(70))
    input.addData(Event(999L, ts(600L), 0L, "click", 0.0)) // advance watermark
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("quant_out")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val batch = events.toDF()
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        graft.functions.QuantileSketch.quantileSketch($"value", Seq(0.5, 0.95)).as("qs"))
      .select($"window.start", $"n", $"qs".getItem(0), $"qs".getItem(1))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    // batch result EXACTLY equals the streamed one (the sketch merge is
    // order/chop-invariant), modulo the watermark probe's extra window
    assert(batch.subsetOf(streamed))
  }

  test("streaming heavy hitters equal the batch twin (batch-chop invariant)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // skewed type mix so ranks are unambiguous
    val types = Array("click", "click", "click", "view", "view", "purchase")
    val events = (0 until 180).map { i =>
      Event(i.toLong, ts(i.toLong), i % 3L, types(i % types.length), 1.0)
    }
    val q = EventStream.windowedHeavyHitters(input.toDF())
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(events.take(37))
    input.addData(events.slice(37, 120))
    input.addData(events.drop(120))
    input.addData(Event(999L, ts(600L), 0L, "click", 0.0)) // advance watermark
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hh_out")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1),
        r.getString(2), r.getLong(3))).toSet
    val batch = events.toDF()
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"))
      .agg(graft.functions.TopKAgg.topkItems($"event_type", 3).as("top"))
      .select($"window.start".as("window_start"),
        org.apache.spark.sql.functions.posexplode($"top"))
      .select($"window_start", ($"pos" + 1).as("rank"),
        $"col.item".as("event_type"), $"col.cnt".as("cnt"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1),
        r.getString(2), r.getLong(3))).toSet
    assert(batch.subsetOf(streamed), s"batch=$batch streamed=$streamed")
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.clickAttribution(input.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Event(1, ts(0), 1, "click", 0.0),      // within the hour → attributed
      Event(2, ts(100), 1, "click", 0.0),    // 100 min before → outside window
      Event(3, ts(130), 1, "purchase", 9.0), // joins click 2 only (30 min gap)
      Event(4, ts(10), 2, "click", 0.0))     // other user → never joins
    input.addData(Event(99, ts(2000), 3, "click", 0.0)) // advance watermarks
    q.processAllAvailable(); q.stop()
    val rows = spark.table("attr_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((3L, 2L)), s"got $rows")
  }

  test("stratified sample is deterministic and respects rates") {
    val a = graft.operators.Approx.stratifiedSample(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = graft.operators.Approx.stratifiedSample(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b) // hash-based: rerun identical
    val totals = Tables.events(spark, sfDir)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 10% classes sampled well below 100% classes
    assert(a("click").toDouble / totals("click") < 0.25)
    assert(a("purchase") === totals("purchase")) // rate 1.0 keeps all
  }

  test("stateful sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    // user 1: burst, 40-min silence, burst → first session closes
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "view", 2.0))
    input.addData(
      Event(3, ts(50), 1, "click", 3.0),
      Event(4, ts(55), 1, "view", 4.0))
    // advance watermark well past everything
    input.addData(Event(99, ts(1000), 2, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions_out").as[graft.streaming.ClosedSession].collect()
    val u1 = closed.filter(_.user_id == 1)
    assert(u1.exists(s => s.n_events == 2 && s.sum_value == 3.0),
      s"expected first session of user 1 closed, got ${closed.mkString(", ")}")
  }

  test("streaming SRM guard equals the batch chi-square per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // skew the assignment deliberately: users 0-4 only → zones 0-4
    val events = (0 until 200).map { i =>
      Event(i.toLong, ts(i / 4L), i % 5L, "click", 1.0)
    }
    val q = EventStream.srmGuard(input.toDF())
      .writeStream.format("memory").queryName("srm_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(events)
    input.addData(Event(999L, ts(2000L), 0L, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("srm_out")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getAs[Long]("n"),
        r.getAs[Long]("n_on"), r.getAs[Double]("chisq"))).toSet
    assert(streamed.nonEmpty)
    // recompute per-window chi-square in plain Scala
    val batch = events.groupBy(e => e.ts.getTime / 3600000L * 3600000L).map { case (w, es) =>
      val n = es.size.toDouble
      val nOn = es.count { e =>
        val hour = java.lang.Math.floorDiv(e.ts.getTime * 1000L, 3600000000L)
        (hour + e.user_id % 10) % 2 == 0
      }.toDouble
      val chisq = (nOn - n / 2) * (nOn - n / 2) / (n / 2) +
        ((n - nOn) - n / 2) * ((n - nOn) - n / 2) / (n / 2)
      (w, n.toLong, nOn.toLong, chisq)
    }.toSet
    assert(batch.subsetOf(streamed), s"missing: ${(batch -- streamed).take(3)}")
  }

  test("streaming mSPRT monitor: daily peeks, chop-robust, p_avp non-increasing") {
    implicit val sqlCtx = spark.sqlContext
    // 3 days × 48 events/day with a planted On-vs-Off effect
    val dayMin = 1440L
    val events = (0 until 144).map { i =>
      val t = ts(i * 30L) // every 30 min across 3 days
      val us = t.getTime * 1000L
      val hour = java.lang.Math.floorDiv(us, 3600000000L)
      val uid = i % 10L
      val on = (hour + uid % 10) % 2 == 0
      Event(i.toLong, t, uid, "click", (if (on) 12.0 else 10.0) + (i % 7) * 0.5)
    }
    def run(chunks: Seq[Seq[Event]], name: String): Seq[graft.streaming.MsprtReadout] = {
      val input = MemoryStream[Event]
      val q = EventStream.msprtMonitor(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(dayMin * 5), 0L, "click", 0.0)) // watermark past day 3
      q.processAllAvailable(); q.stop()
      spark.table(name).as[graft.streaming.MsprtReadout].collect().toSeq
        .sortBy(_.day.getTime)
    }
    val oneShot = run(Seq(events), "msprt_a")
    val chopped = run(Seq(events.take(30), events.slice(30, 31), events.drop(31)), "msprt_b")
    assert(oneShot.nonEmpty, "no finalized days emitted")
    assert(oneShot.map(_.day.getTime) === chopped.map(_.day.getTime))
    oneShot.zip(chopped).foreach { case (a, b) =>
      assert(a.n1 === b.n1 && a.n2 === b.n2)
      assert(a.delta === b.delta) // long-accumulated: bit-identical
      assert(math.abs(a.log_lambda - b.log_lambda) < 1e-9)
      assert(math.abs(a.p_avp - b.p_avp) < 1e-9)
    }
    // anytime-valid p is a running min and the planted effect drives it down
    oneShot.sliding(2).foreach { case Seq(x, y) => assert(y.p_avp <= x.p_avp); case _ => }
    // agrees with the batch mSPRT math on the same cumulative moments
    val last = oneShot.last
    val all = events.filter(e => oneShot.map(_.day.getTime).max + 86400000L > e.ts.getTime)
    val (onV, offV) = all.partition { e =>
      val hour = java.lang.Math.floorDiv(e.ts.getTime * 1000L, 3600000000L)
      (hour + e.user_id % 10) % 2 == 0
    }
    val n1 = onV.size.toDouble; val n2 = offV.size.toDouble
    val s1 = onV.map(_.value).sum; val s2 = offV.map(_.value).sum
    val delta = s1 / n1 - s2 / n2
    assert(math.abs(last.delta - delta) < 1e-9, s"delta ${last.delta} vs $delta")
  }

  test("streaming DP release is chop-invariant and bounded-noise") {
    implicit val sqlCtx = spark.sqlContext
    val events = (0 until 200).map { i =>
      Event(i.toLong, ts(i * 20L), i % 7L, if (i % 2 == 0) "click" else "view", 10.0 + i % 5)
    }
    def run(chunks: Seq[Seq[Event]], name: String, seed: Long = 0L): Set[(Long, String, Double, Double)] = {
      val input = MemoryStream[Event]
      val q = EventStream.dpReleaseStream(input.toDF(), seed)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(20000L), 0L, "click", 0.0)) // finalize all days
      q.processAllAvailable(); q.stop()
      spark.table(name).collect().map(r => (r.getTimestamp(0).getTime,
        r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    }
    val one = run(Seq(events), "dp_rel_a")
    val chopped = run(events.grouped(37).toSeq, "dp_rel_b")
    assert(one === chopped, "DP release must not depend on micro-batch chop")
    // a different run seed stays chop-invariant but draws different noise
    val seeded = run(Seq(events), "dp_rel_c", seed = 9L)
    val seededChop = run(events.grouped(37).toSeq, "dp_rel_d", seed = 9L)
    assert(seeded === seededChop, "seeded release must stay chop-invariant")
    assert(seeded !== one, "a different seed must draw different noise")
    // noise bounded by the Laplace inverse-CDF envelope (u away from 0/1)
    val trueAgg = events.groupBy(e => (e.ts.getTime / 86400000L, e.event_type))
      .map { case ((_, et), es) => et -> es.size }.toSeq
    assert(one.nonEmpty && one.forall { case (_, _, dpN, dpSum) =>
      dpN > -25.0 && dpSum > -4500.0 })
    assert(trueAgg.nonEmpty)
  }

  test("streaming weighted reservoir sample is chop-invariant and matches the batch law") {
    implicit val sqlCtx = spark.sqlContext
    val events = (0 until 240).map { i =>
      Event(i.toLong, ts(i * 7L), i % 7L,
        if (i % 3 == 0) "click" else "view", (i % 23).toDouble)
    }
    def run(chunks: Seq[Seq[Event]], name: String): Set[(Long, String, Int, Long)] = {
      val input = MemoryStream[Event]
      val q = EventStream.sampleReservoir(input.toDF(), k = 3)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(20000L), 0L, "click", 0.0)) // finalize all
      q.processAllAvailable(); q.stop()
      spark.table(name).collect().map(r => (r.getTimestamp(0).getTime,
        r.getString(1), r.getInt(2), r.getLong(3))).toSet
    }
    val one = run(Seq(events), "res_a")
    val chopped = run(events.grouped(41).toSeq, "res_b")
    assert(one === chopped, "reservoir must not depend on micro-batch chop")
    assert(one.nonEmpty)
    // every emitted pick matches a plain-Scala replay of the batch law
    // (same LCG salt-77 draw, same Efraimidis-Spirakis key, same
    // (ekey, id) tie-break) over its finalized window
    val expected = (events :+ Event(999L, ts(20000L), 0L, "click", 0.0))
      .groupBy(e => (e.ts.getTime / 3600000L * 3600000L, e.event_type))
      .flatMap { case ((ws, et), es) =>
        es.map { e =>
          val u = (lcg(e.event_id, 77L) + 1.0) / 2147483649.0
          val raw = -math.log(u) / (math.max(e.value, 0.0) + 1.0)
          // same 1e-6 pre-selection rounding as the operator
          (e.event_id, r6d(raw))
        }.sortBy { case (id, k) => (k, id) }.take(3).zipWithIndex
          .map { case ((id, _), i) => (ws, et, i + 1, id) }
      }.toSet
    assert(one.subsetOf(expected),
      s"picks diverge from the batch law: ${one.diff(expected)}")
  }

  test("streaming PSI drift monitor is chop-invariant and flags a shifted day") {
    implicit val sqlCtx = spark.sqlContext
    val cuts = Seq(5.0, 10.0, 15.0, 20.0)
    val ref = Seq(0.2, 0.2, 0.2, 0.2, 0.2)
    // day 1 draws values 0..24 uniformly (in-distribution vs ref);
    // day 2 is shifted hard right (everything lands in the top bin)
    val events = (0 until 200).map { i =>
      val day = i / 100
      val v = if (day == 0) (i % 25).toDouble else 22.0 + (i % 3)
      Event(i.toLong, ts(day * 1440L + (i % 100) * 10L), i % 7L, "click", v)
    }
    def run(chunks: Seq[Seq[Event]], name: String): Set[(Long, String, Long, Double, Boolean)] = {
      val input = MemoryStream[Event]
      val q = EventStream.psiMonitor(input.toDF(), cuts, ref)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(10000L), 0L, "click", 0.0)) // finalize all days
      q.processAllAvailable(); q.stop()
      spark.table(name).collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3), r.getBoolean(4))).toSet
    }
    val one = run(Seq(events), "psi_a")
    val chopped = run(events.grouped(29).toSeq, "psi_b")
    assert(one === chopped, "PSI monitor must not depend on micro-batch chop")
    // plain-Scala replay of the PSI law per finalized day
    // the far-future probe's own window never finalizes, so the law
    // replays over the real two days only
    val expected = events
      .groupBy(e => e.ts.getTime / 86400000L).map { case (day, es) =>
        val n = es.size.toLong
        val counts = (0 to 4).map(b => es.count(e => cuts.count(e.value > _) == b).toLong)
        val psi = r4d((0 to 4).map { b =>
          val q = (counts(b) + 0.5) / (n + 2.5)
          r6d((q - ref(b)) * math.log(q / ref(b)))
        }.sum)
        (day * 86400000L, "click", n, psi, psi >= 0.2)
      }.toSet
    assert(one === expected, s"diverges from the batch law: ${one.diff(expected)}")
    // the shifted day trips the drift flag; the in-distribution day doesn't
    val byDay = one.toSeq.sortBy(_._1)
    assert(!byDay.head._5, "in-distribution day must not flag")
    assert(byDay(1)._5, "shifted day must flag drift")
  }

  test("streaming mSPRT monitor drops events for already-finalized days") {
    implicit val sqlCtx = spark.sqlContext
    // same planted-effect layout as the chop spec: 3 days × 48 events
    val events = (0 until 144).map { i =>
      val t = ts(i * 30L)
      val us = t.getTime * 1000L
      val hour = java.lang.Math.floorDiv(us, 3600000000L)
      val uid = i % 10L
      val on = (hour + uid % 10) % 2 == 0
      Event(i.toLong, t, uid, "click", (if (on) 12.0 else 10.0) + (i % 7) * 0.5)
    }
    def run(chunks: Seq[Seq[Event]], name: String): Seq[graft.streaming.MsprtReadout] = {
      val input = MemoryStream[Event]
      val q = EventStream.msprtMonitor(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(1440L * 5), 0L, "click", 0.0)) // push watermark past day 3
      q.processAllAvailable(); q.stop()
      spark.table(name).as[graft.streaming.MsprtReadout].collect().toSeq
        .sortBy(r => (r.day.getTime, r.n1))
    }
    // chunk 1 reaches into day 3 (max ts 49.5h → watermark 47.5h), so
    // day 1 (ends 24h) finalizes and emits before the late event lands
    val head = events.take(100)
    val late = Event(888L, ts(60L), 3L, "click", 99.0) // deep inside day 1
    val tail = events.drop(100)
    val withLate = run(Seq(head, Seq(late), tail), "msprt_late_a")
    val withoutLate = run(Seq(head, tail), "msprt_late_b")
    // the late event must be invisible: no duplicate day rows, no moment
    // drift in any later readout — byte-identical output streams
    assert(withLate.map(_.day.getTime).distinct.size === withLate.size,
      "a finalized day re-emitted after a late event")
    assert(withLate === withoutLate)
  }

  test("streaming GST monitor: weekly interims, OBF boundary law, chop-invariant") {
    implicit val sqlCtx = spark.sqlContext
    // 3 calendar weeks × 84 events/week with a planted On-vs-Off effect
    val weekMin = 7L * 1440L
    val events = (0 until 252).map { i =>
      val t = ts(i * 120L) // every 2h across 3 weeks
      val us = t.getTime * 1000L
      val hour = java.lang.Math.floorDiv(us, 3600000000L)
      val uid = i % 10L
      val on = (hour + uid % 10) % 2 == 0
      Event(i.toLong, t, uid, "click", (if (on) 14.0 else 10.0) + (i % 5) * 0.25)
    }
    def run(chunks: Seq[Seq[Event]], name: String): Seq[graft.streaming.GstReadout] = {
      val input = MemoryStream[Event]
      val q = EventStream.gstMonitor(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(weekMin * 5), 0L, "click", 0.0)) // wm past week 3
      q.processAllAvailable(); q.stop()
      spark.table(name).as[graft.streaming.GstReadout].collect().toSeq
        .sortBy(_.week_start.getTime)
    }
    val oneShot = run(Seq(events), "gst_a")
    val chopped = run(Seq(events.take(50), events.slice(50, 53), events.drop(53)), "gst_b")
    assert(oneShot.nonEmpty, "no finalized weeks emitted")
    assert(oneShot.map(_.week_start.getTime) === chopped.map(_.week_start.getTime))
    oneShot.zip(chopped).foreach { case (a, b) =>
      assert(a.k === b.k && a.n1 === b.n1 && a.n2 === b.n2)
      assert(math.abs(a.z - b.z) < 1e-9)
      assert(a.obf_bound === b.obf_bound && a.reject === b.reject)
    }
    // interim index increments; the OBF curve decreases as 2.024*sqrt(4/k)
    assert(oneShot.map(_.k) === (1L to oneShot.length).toSeq)
    oneShot.foreach(r =>
      assert(math.abs(r.obf_bound - 2.024 * math.sqrt(4.0 / r.k)) < 1e-12))
    // cumulative moments agree with a direct computation at the last interim
    val last = oneShot.last
    val weekUs = 7L * 86400000000L
    val horizon = last.week_start.getTime * 1000L + weekUs
    val seen = events.filter(_.ts.getTime * 1000L < horizon)
    val (onV, offV) = seen.partition { e =>
      val hour = java.lang.Math.floorDiv(e.ts.getTime * 1000L, 3600000000L)
      (hour + e.user_id % 10) % 2 == 0
    }
    assert(last.n1 === onV.size.toLong && last.n2 === offV.size.toLong)
    val n1 = onV.size.toDouble; val n2 = offV.size.toDouble
    val s1 = onV.map(_.value).sum; val s2 = offV.map(_.value).sum
    val v1 = (onV.map(e => e.value * e.value).sum - s1 * s1 / n1) / (n1 - 1) / n1
    val v2 = (offV.map(e => e.value * e.value).sum - s2 * s2 / n2) / (n2 - 1) / n2
    val z = (s1 / n1 - s2 / n2) / math.sqrt(v1 + v2)
    assert(math.abs(last.z - z) < 1e-6, s"z ${last.z} vs $z")
    // the planted effect is large: the monitor must have rejected by week 2
    assert(oneShot.exists(_.reject), "planted effect never crossed the boundary")
  }

  test("streaming CUSUM monitor: daily readouts, chop-invariant, flags a level shift") {
    implicit val sqlCtx = spark.sqlContext
    // 6 days at mean 10, then a persistent +3 level shift for 4 days
    val events = (0 until 240).map { i =>
      val day = i / 24
      val base = if (day < 6) 10.0 else 13.0
      Event(i.toLong, ts(i * 60L), i % 7L, "click", base + (i % 5 - 2) * 0.5)
    }
    val refMean = 10.0; val h = 4.0
    def run(chunks: Seq[Seq[Event]], name: String): Seq[graft.streaming.CusumReadout] = {
      val input = MemoryStream[Event]
      val q = EventStream.cusumMonitor(input.toDS(), refMean, h)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(20L * 1440L), 0L, "click", refMean)) // wm past day 10
      q.processAllAvailable(); q.stop()
      spark.table(name).as[graft.streaming.CusumReadout].collect().toSeq
        .sortBy(_.day.getTime)
    }
    val oneShot = run(Seq(events), "cusum_a")
    val chopped = run(Seq(events.take(37), events.slice(37, 41), events.drop(41)), "cusum_b")
    assert(oneShot.size >= 10, s"expected >=10 finalized days, got ${oneShot.size}")
    assert(oneShot.map(r => (r.day.getTime, r.n, r.daily_mean, r.cusum, r.alarm)) ===
      chopped.map(r => (r.day.getTime, r.n, r.daily_mean, r.cusum, r.alarm)))
    // replay: cusum is the running sum of (daily mean − ref), in day order
    val byDay = events.groupBy(e => e.ts.getTime / 86400000L).toSeq.sortBy(_._1)
      .map { case (_, es) => es.map(_.value).sum / es.size }
    var cum = 0.0
    oneShot.zip(byDay).foreach { case (r, m) =>
      cum += m - refMean
      assert(math.abs(r.daily_mean - m) < 1e-9)
      assert(math.abs(r.cusum - cum) < 1e-9)
      assert(r.alarm === (math.abs(cum) > h))
    }
    // pre-shift days hover near zero: no alarm; the shift accumulates
    // +3/day and must alarm within two post-shift days
    assert(!oneShot.take(6).exists(_.alarm), "false alarm before the shift")
    assert(oneShot.drop(7).exists(_.alarm), "level shift never alarmed")
  }

  test("streaming conversion guard is chop-invariant and flags a one-arm regression") {
    implicit val sqlCtx = spark.sqlContext
    // 4 hours of balanced conversions, then 4 hours where the On arm's
    // values collapse below the threshold (a conversion regression)
    val events = (0 until 480).map { i =>
      val t = ts(i.toLong)
      val hour = java.lang.Math.floorDiv(t.getTime * 1000L, 3600000000L)
      val uid = i % 10L
      val on = (hour + uid) % 2 == 0
      val broken = i >= 240 && on
      // (i/2)%2 decorrelates conversion from the parity-based arm:
      // both arms convert ~50% in the healthy phase
      val v = if (broken) 1.0 else if ((i / 2) % 2 == 0) 10.0 else 2.0
      Event(i.toLong, t, uid, "click", v)
    }
    def run(chunks: Seq[Seq[Event]], name: String): Seq[(Long, Long, Long, Long, Long, Double, Boolean)] = {
      val input = MemoryStream[Event]
      val q = EventStream.convGuard(input.toDF(), threshold = 5.0)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(2000L), 0L, "click", 0.0))
      q.processAllAvailable(); q.stop()
      spark.table(name).collect().map(r => (r.getTimestamp(0).getTime,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6), r.getBoolean(7))).toSeq.sortBy(_._1)
    }
    val oneShot = run(Seq(events), "conv_a")
    val chopped = run(Seq(events.take(101), events.slice(101, 103), events.drop(103)), "conv_b")
    assert(oneShot.size >= 8, s"expected >=8 finalized windows, got ${oneShot.size}")
    assert(oneShot === chopped, "conversion guard not chop-invariant")
    val (healthy, broken) = oneShot.partition(_._1 < ts(240).getTime)
    assert(!healthy.exists(_._7), "false alarm during the balanced phase")
    assert(broken.exists(_._7), "one-arm conversion collapse never alarmed")
    // replay one broken window's z by hand
    val w = broken.find(_._7).get
    val p1 = w._3.toDouble / w._2; val p2 = w._5.toDouble / w._4
    val pp = (w._3 + w._5).toDouble / (w._2 + w._4)
    val z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1.0 / w._2 + 1.0 / w._4))
    assert(math.abs(w._6 - r4d(z)) < 1e-9)
  }

  test("streaming MAD monitor is chop-invariant and flags only the shifted day") {
    implicit val sqlCtx = spark.sqlContext
    // 8 days near mean 10; day 6 (index 5) carries a +5 level shift
    val events = (0 until 192).map { i =>
      val day = i / 24
      val base = if (day == 5) 15.0 else 10.0
      Event(i.toLong, ts(i * 60L), i % 7L, "click", base + (i % 5 - 2) * 0.1)
    }
    def run(chunks: Seq[Seq[Event]], name: String): Seq[(Long, String, Long, Double, Double, Boolean)] = {
      val input = MemoryStream[Event]
      val q = EventStream.madMonitor(input.toDF(), refMed = 10.0, refMad = 0.5)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach(c => { input.addData(c); q.processAllAvailable() })
      input.addData(Event(999L, ts(15L * 1440L), 0L, "click", 10.0))
      q.processAllAvailable(); q.stop()
      spark.table(name).collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
        .toSeq.sortBy(_._1)
    }
    val oneShot = run(Seq(events), "mad_a")
    val chopped = run(Seq(events.take(29), events.slice(29, 30), events.drop(30)), "mad_b")
    assert(oneShot.size >= 8, s"expected >=8 finalized days, got ${oneShot.size}")
    assert(oneShot === chopped, "MAD monitor not chop-invariant")
    // exactly the shifted day flags: rz ≈ 0.6745·5/0.5 ≈ 6.7 there,
    // ≈ ±0.3 elsewhere
    val flagged = oneShot.filter(_._6)
    assert(flagged.size === 1, s"expected exactly 1 anomaly, got ${flagged.size}")
    assert(math.abs(flagged.head._5) > 5.0, "shifted day's rz too small")
  }
}
