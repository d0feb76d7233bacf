package graft

import org.apache.spark.sql.functions._

/** Round-7 batch 1: multi-bin calibration path (ADVICE r6 — the sf
  * fixtures collapse into one decile, leaving bin ordering, per-bin
  * conf/acc and the ECE weighting untested against anything). */
class Round7Spec extends SparkSpec {

  test("calibrationFrom exercises multiple decile bins: ordering, per-bin conf/acc, ECE weighting") {
    import spark.implicits._
    // scores sigmoid(5·x1) span 7 distinct deciles; y mixes 0/1 within bins
    val rows = Seq(
      (-0.40, 0.0), (-0.40, 1.0), (-0.20, 0.0), (-0.20, 0.0),
      (-0.10, 1.0), (-0.10, 0.0), (0.00, 1.0), (0.00, 0.0),
      (0.05, 1.0), (0.10, 1.0), (0.10, 0.0), (0.20, 1.0),
      (0.20, 1.0), (0.40, 1.0), (0.40, 0.0), (0.40, 1.0))
    val w = Array(0.0, 5.0, 0.0, 0.0)
    val features = rows.toDF("x1", "y")
      .withColumn("x2", lit(0.0)).withColumn("x3", lit(0.0))
    val got = operators.Corpus.calibrationFrom(features, w).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap

    // independent plain-Scala replay
    val binned = rows.map { case (x1, y) =>
      val p = r6d(1.0 / (1.0 + math.exp(-5.0 * x1)))
      (math.min(math.floor(p * 10).toLong, 9L), p, y)
    }
    val per = binned.groupBy(_._1).map { case (bin, xs) =>
      bin -> (xs.length.toLong, dsum(xs.map(_._2)) / xs.length, dsum(xs.map(_._3)) / xs.length)
    }
    assert(per.size >= 3, s"fixture must span >=3 deciles, got ${per.keySet}")
    assert(got.size === per.size + 1) // bins + ALL
    per.foreach { case (bin, (nb, conf, acc)) =>
      val (gn, gConf, gAcc, gGap) = got(bin.toString)
      assert(gn === nb, s"bin $bin n")
      assert(math.abs(gConf - r4d(conf)) < 1e-9, s"bin $bin conf")
      assert(math.abs(gAcc - r4d(acc)) < 1e-9, s"bin $bin acc")
      assert(math.abs(gGap - r4d(math.abs(acc - conf))) < 1e-9, s"bin $bin gap")
    }
    val (gn, _, _, gEce) = got("ALL")
    assert(gn === rows.length.toLong)
    val ece = dsum(per.values.map { case (nb, conf, acc) =>
      r6d(nb * math.abs(acc - conf))
    }.toSeq) / rows.length
    assert(math.abs(gEce - r4d(ece)) < 1e-9, "ECE weighting across bins")
    // string bin ordering: '0'..'9' then 'ALL' — the driver-sorted order
    val orderedBins = operators.Corpus.calibrationFrom(features, w)
      .collect().map(_.getString(0)).toSeq
    assert(orderedBins === orderedBins.sorted, "bin column sorts as emitted")
    assert(orderedBins.last === "ALL")
  }

  test("streaming replay harness: finalized tumbling windows equal the batch twin") {
    val streamed = Registry.byName("q_stream_tumbling").fn(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    val batch = Tables.events(spark, sfDir)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        functions.Compat.sumMoney(col("value")).as("sum_value"))
      .select(col("window.start"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
  }

  test("bpe training loop equals a sequential single-machine replay") {
    // reference implementation: greedy BPE on (symbol-seq -> count)
    val counts = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) =>
        w.toCharArray.map(_.toString).toVector -> xs.length.toLong
      }
    var vocab: Map[Vector[String], Long] = counts
    val expect = (1 to 8).map { k =>
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
        }
      }
      val ((l, r), c) = pairCounts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      def merge(syms: Vector[String]): Vector[String] =
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
          else acc :+ x
        }
      vocab = vocab.toSeq.map { case (s, n) => merge(s) -> n }
        .groupMapReduce(_._1)(_._2)(_ + _)
      (k, l, r, l + r, c)
    }
    val got = Registry.byName("q_bpe_train").fn(spark, sfDir).collect()
      .map(rw => (rw.getInt(0), rw.getString(1), rw.getString(2),
        rw.getString(3), rw.getLong(4))).toSeq
    assert(got === expect)
  }

  test("bpe encode: segmentation round-trips to the word and leaves no trained pair unfused") {
    val merges = Registry.byName("q_bpe_train").fn(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    val rows = Registry.byName("q_bpe_encode").fn(spark, sfDir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (word, nTok, seg) = (r.getString(0), r.getInt(2), r.getString(3))
      val toks = seg.split(" ", -1).toSeq
      assert(toks.length === nTok, s"n_tokens mismatch for '$word'")
      assert(toks.mkString("") === word, s"segmentation must round-trip '$word'")
      // merges only fuse, never split, and every fused symbol is a new
      // name — so a trained pair surviving adjacent means the replace
      // chain missed an occurrence
      toks.iterator.zip(toks.iterator.drop(1)).foreach { p =>
        assert(!merges.contains(p), s"unfused trained pair $p in '$word'")
      }
    }
  }

  test("bpeEncodeWith applies a pre-trained merge table scan-locally (no exchange added)") {
    import spark.implicits._
    val vocab = Seq(("aaab", 7L), ("ba", 2L), ("c", 1L)).toDF("word", "cnt")
    val out = operators.Corpus.bpeEncodeWith(Seq(("a", "a"), ("aa", "b")), vocab)
    // greedy non-overlapping fusion: aaab -> (a,a)-> "aa a b" -> (aa,b) no
    // adjacent aa+b (aa, a, b), stays; ba untouched; c single symbol
    val got = out.collect().map(r => r.getString(0) -> (r.getInt(2), r.getString(3))).toMap
    assert(got("aaab") === ((3, "aa a b")))
    assert(got("ba") === ((2, "b a")))
    assert(got("c") === ((1, "c")))
    // the encode chain is one projection: no shuffle beyond the input
    val exchanges = out.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"encode added a shuffle: $exchanges")
  }

  test("ivf-pq retrieves every planted exact twin (recall floor >= full-scan PQ path)") {
    // plant exact duplicates (the q_semdedup seeding) and search FROM
    // each twin: its original shares cluster and codes, so a correct
    // composed index must place it in the top-3 — an exact-twin recall
    // of 1.0, which trivially bounds the full-scan PQ path from below
    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val planted = base.unionAll(base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val res = operators.Similarity.ivfPqSearch(planted, col("vec_id") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val twins = base.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0))
    assert(twins.nonEmpty)
    twins.foreach { orig =>
      val top = res.getOrElse(orig + 1000000L, Array.empty).map(_._2).toSet
      assert(top.contains(orig), s"twin of $orig missed its original: $top")
    }
  }

  test("reliable checkpoint mode: CC + pagerank results identical, generations retired from disk") {
    def ccRun(): Map[Long, Long] = {
      val out = Registry.byName("q_dedup_clusters").fn(spark, sfDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      CacheScope.releaseAll()
      out
    }
    def prRun(): Seq[(Int, Long, Double)] = {
      val out = Registry.byName("q_pagerank").fn(spark, sfDir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      CacheScope.releaseAll()
      out
    }
    val ccLocal = ccRun()
    val prLocal = prRun()
    withStage("graft-ckpt") { dir =>
      CacheScope.withConf(spark, "spark.graft.checkpointDir" -> dir) {
        assert(ccRun() === ccLocal, "CC identical under reliable checkpointing")
        assert(prRun() === prLocal, "pagerank identical under reliable checkpointing")
      }
      // retirement must have deleted every generation's files — at most
      // empty rdd-*/app dirs may remain
      val leftover = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(dir)).filter(_.getName.startsWith("part-"))
      }
      assert(leftover.isEmpty, s"checkpoint data files not retired: $leftover")
    }
  }

  test("eventsRange pushes the raw int64 ts bound to the parquet scan") {
    val df = Tables.eventsRange(spark, sfDir, 1706054400000000L, 1706659200000000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts,1706054400000000)"),
      s"ts bound not pushed to the events scan:\n$plan")
    // semantic check vs the post-conversion filter on the plain loader
    val expect = Tables.events(spark, sfDir)
      .filter(col("ts") >= org.apache.spark.sql.functions.expr("timestamp_micros(1706054400000000)") &&
        col("ts") < org.apache.spark.sql.functions.expr("timestamp_micros(1706659200000000)"))
      .count()
    assert(df.count() === expect)
  }

  test("file-source replay (real readStream, no driver feed) equals the MemoryStream replay") {
    val viaFiles = try streaming.Replay.replayViaFiles(spark, sfDir)(ds =>
      streaming.EventStream.tumblingCounts(ds.toDF()))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
      finally CacheScope.releaseAll() // deletes the staged feed
    val viaMemory = streaming.Replay.replay(spark, sfDir)(ds =>
      streaming.EventStream.tumblingCounts(ds.toDF()))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(viaFiles === viaMemory)
    assert(viaFiles.nonEmpty)
  }

  test("exactly-once parquet sink survives a stop/restart without duplicating windows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val events = (0 until 600).map { i =>
      streaming.Event(i.toLong, ts(i.toLong), i % 5L,
        if (i % 2 == 0) "click" else "view", (i % 13).toDouble)
    }
    withStage("graft_sink_") { root =>
      val input = MemoryStream[streaming.Event]
      def startQuery() = streaming.EventStream.exactlyOnceParquetSink(
        streaming.EventStream.tumblingCounts(input.toDF()),
        s"$root/out", s"$root/cp")

      val q1 = startQuery()
      input.addData(events.take(200)); q1.processAllAvailable()
      input.addData(events.slice(200, 400)); q1.processAllAvailable()
      q1.stop() // crash/redeploy: the NEXT query resumes from the checkpoint
      val q2 = startQuery()
      input.addData(events.drop(400))
      input.addData(streaming.Event(9999L, ts(100000L), 0L, "sentinel", 0.0)) // finalize all
      q2.processAllAvailable(); q2.stop()

      val landed = spark.read.parquet(s"$root/out")
        .select("window_start", "event_type", "n", "sum_value")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSeq
      // no window lands twice, whatever batches were replayed on restart
      assert(landed.size === landed.toSet.size, "duplicate finalized windows")
      val batch = events.toDF()
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), functions.Compat.sumMoney($"value").as("sum_value"))
        .select($"window.start", $"event_type", $"n", $"sum_value")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(landed.toSet === batch, "landed dataset must equal the batch twin")
    }
  }

  test("streaming replay harness: double-delivered batches dedup to the unique event set") {
    val ids = Registry.byName("q_stream_dedup").fn(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size === ids.size, "no event emitted twice")
    val expected = Tables.events(spark, sfDir).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.toSet === expected)
  }
}
