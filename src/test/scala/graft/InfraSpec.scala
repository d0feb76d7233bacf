package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, Filter, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** SQL extension registration, source/sink round-trips, pipeline. */
class InfraSpec extends SparkSpec {

  test("GraftExtensions expose native functions to SQL") {
    graft.plans.GraftExtensions.register(spark)
    locally {
      val r = spark.sql(
        """SELECT pip(0.5D, 0.5D, array(0D,1D,1D,0D), array(0D,0D,1D,1D)) AS inside,
          |  vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
          |          array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS dot,
          |  vec_norm(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS nrm,
          |  minhash_sketch(array('a','b','c'))[16] AS n_shingles,
          |  size(shingle_hashes(array('a','b','c'))) AS n_hashes
          |""".stripMargin).head()
      assert(r.getBoolean(0))
      assert(r.getDouble(1) === 11.0)
      assert(r.getDouble(2) === 5.0)
      assert(r.getLong(3) === 2L) // shingles: "a b", "b c"
      assert(r.getInt(4) === 2)
    }
    locally {
      val q = spark.sql(
        "SELECT quantile_sketch(x, 0.5, 1.0) AS q FROM VALUES (1.0), (2.0), (300.0) AS t(x)")
        .head().getSeq[Double](0)
      assert(math.abs(q(0) - 2.0) <= 0.03)   // median within 1%
      assert(math.abs(q(1) - 300.0) <= 3.1)  // max within 1%
    }
    locally { // the mergeable aggregates + sqdist kernel
      val r = spark.sql(
        """SELECT vec_sqdist(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
          |                  array(4D, 6D)) AS sq""".stripMargin)
        .head().getDouble(0)
      assert(r === 25.0)
      val hh = spark.sql(
        """SELECT topk_items(w, 2) AS top FROM VALUES
          |  ('a'),('a'),('a'),('b'),('b'),('c') AS t(w)""".stripMargin)
        .selectExpr("inline(top)").collect().map(x => (x.getString(0), x.getLong(1)))
      assert(hh.toSeq === Seq(("a", 3L), ("b", 2L)))
      val bk = spark.sql(
        """SELECT bottom_k(k, id, 2) AS picks FROM VALUES
          |  (3.0, 30L), (1.0, 10L), (2.0, 20L), (1.0, 5L) AS t(k, id)""".stripMargin)
        .selectExpr("inline(picks)").collect().map(x => (x.getDouble(0), x.getLong(1)))
      assert(bk.toSeq === Seq((1.0, 5L), (1.0, 10L)))
      val cm = spark.sql(
        """SELECT cms_sketch(w) AS g FROM VALUES ('a'),('a'),('b') AS t(w)""")
        .head().getSeq[Long](0)
      assert(cm.sum === 3L * graft.functions.CmsAgg.Depth) // each row counts every item once
    }
  }

  test("bucketedRangeJoin equals brute-force non-equi join off bucket alignment") {
    import spark.implicits._
    // facts every 11 minutes; intervals deliberately NOT aligned to the
    // 17-minute bucket width, with sub-bucket, multi-bucket, and
    // boundary-touching spans
    val facts = (0 until 500).map(i => (i.toLong, s"2024-03-01 00:00:00".substring(0, 0) +
      java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusMinutes(11L * i).toString.replace('T', ' ')))
      .toDF("fact_id", "ts_s").select(col("fact_id"), col("ts_s").cast("timestamp").as("ts"))
    val ivals = Seq(
      (1, "2024-03-01 00:05:00", "2024-03-01 00:12:00"),   // sub-bucket
      (2, "2024-03-01 03:00:00", "2024-03-01 07:30:00"),   // multi-bucket
      (3, "2024-03-02 12:34:00", "2024-03-02 12:34:01"),   // 1-second
      (4, "2024-03-03 23:00:00", "2024-03-04 02:00:00"),   // day boundary
    ).toDF("ival_id", "s", "e")
      .select(col("ival_id"), col("s").cast("timestamp").as("start_ts"),
        col("e").cast("timestamp").as("end_ts"))
    val got = graft.functions.Joins
      .bucketedRangeJoin(facts, ivals, col("ts"), col("start_ts"), col("end_ts"),
        bucketMicros = 17L * 60 * 1000000)
      .select("fact_id", "ival_id").collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val want = facts.crossJoin(ivals)
      .filter(col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .select("fact_id", "ival_id").collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(want.nonEmpty && got.toSeq === want.toSeq)
  }

  test("partitioned write round-trips and prunes") {
    withStage("graft_part") { dir =>
      val df = Tables.orders(spark, sfDir)
      Sources.writePartitioned(df, dir, Seq("o_orderstatus"))
      val back = Sources.readParquet(spark, dir)
      assert(back.count() === df.count())
      // partition filter must prune to the one directory
      val plan = back.filter(col("o_orderstatus") === "F")
        .queryExecution.executedPlan.toString
      assert(back.filter(col("o_orderstatus") === "F").count() ===
        df.filter(col("o_orderstatus") === "F").count())
      assert(plan.contains("PartitionFilters") || !plan.contains("o_orderstatus = F"))
    }
  }

  test("csv round-trip with explicit schema") {
    withStage("graft_csv") { dir =>
      Tables.nation(spark, sfDir).write.mode("overwrite")
        .option("header", "true").csv(dir)
      val back = Sources.readCsv(spark, dir,
        "n_nationkey INT, n_name STRING, n_regionkey INT")
      assert(back.count() === 25)
      assert(back.schema.fieldNames.toSeq === Seq("n_nationkey", "n_name", "n_regionkey"))
    }
  }

  test("orc round-trip preserves rows and pushes predicates") {
    withStage("graft_orc") { dir =>
      Sources.writeOrc(Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name", "c_acctbal"), dir)
      val back = Sources.readOrc(spark, dir,
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
      assert(back.count() === Tables.customer(spark, sfDir).count())
      val filtered = back.filter(col("c_acctbal") > 5000)
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("c_acctbal"), s"no ORC pushdown in:\n$plan")
      assert(filtered.count() ===
        Tables.customer(spark, sfDir).filter(col("c_acctbal") > 5000).count())
    }
  }

  test("bloom semi-join: filters the fact side, result exactly the plain semi-join") {
    val fact = Tables.orders(spark, sfDir)
    val dim = Tables.customer(spark, sfDir).filter(col("c_acctbal") > 9000)
    val pre = fact.filter(graft.functions.Bloom.mightContain(
      dim, "c_custkey", col("o_custkey"), 100000L, 0.01))
    val preN = pre.count()
    val factN = fact.count()
    assert(preN < factN, s"bloom did not filter: $preN of $factN")
    val viaBloom = graft.functions.Bloom
      .bloomSemiJoin(fact, dim, "o_custkey", "c_custkey", 100000L)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val plain = fact.join(dim, fact("o_custkey") === dim("c_custkey"), "left_semi")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(viaBloom === plain)
    assert(plain.size <= preN, "bloom must have no false negatives")
  }

  test("bucketed tables join with zero shuffles") {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    Sources.writeBucketed(orders, "graft_orders_bkt", "o_custkey", 8)
    Sources.writeBucketed(cust, "graft_cust_bkt", "o_custkey", 8)
    CacheScope.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("graft_orders_bkt")
        .join(spark.table("graft_cust_bkt"), "o_custkey")
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(2000)}")
    }
  }

  test("RectPipRule rewrites literal-rectangle pip to pushed-down ranges") {
    import graft.functions.PointInPolygon
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.RectPipRule
    try {
      val df = Tables.events(spark, sfDir)
        .select(col("event_id"), col("value").as("x"))
        .filter(PointInPolygon(col("x"), lit(5.0),
          typedLit(Seq(2.0, 8.0, 8.0, 2.0)), typedLit(Seq(0.0, 0.0, 10.0, 10.0))))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("PipExpr"), "rule should eliminate the pip expression")
      assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(value,2.0)"),
        s"range must reach the parquet scan:\n$plan")
      // identical result with the interpreted expression (rule off)
      spark.experimental.extraOptimizations = prev
      val noRule = Tables.events(spark, sfDir)
        .select(col("event_id"), col("value").as("x"))
        .filter(PointInPolygon(col("x"), lit(5.0),
          typedLit(Seq(2.0, 8.0, 8.0, 2.0)), typedLit(Seq(0.0, 0.0, 10.0, 10.0))))
      assert(df.count() === noRule.count())
    } finally spark.experimental.extraOptimizations = prev
  }

  test("approx stats stay within sketch error bounds of exact") {
    val rows = operators.Approx.approxStats(spark, sfDir).collect()
    rows.foreach { r =>
      val (approxU, exactU) = (r.getAs[Long]("approx_users"), r.getAs[Long]("exact_users"))
      assert(math.abs(approxU - exactU) <= math.max(3, exactU * 0.1),
        s"HLL too far off: $approxU vs $exactU")
      assert(math.abs(r.getAs[Double]("approx_p50") - r.getAs[Double]("exact_p50")) < 2.0)
      // the emitted self-certification flags agree with the envelope
      assert(r.getAs[Boolean]("hll_within_bound"), "hll_within_bound must hold")
      assert(r.getAs[Boolean]("gk_within_bound"), "gk_within_bound must hold")
    }
  }

  test("quantile sketch: bounded relative error, exact merge determinism") {
    import graft.functions.QuantileSketch.quantileSketch
    import spark.implicits._
    // error bound vs exact percentiles on real data
    val rows = operators.Approx.quantileSketchStats(spark, sfDir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      Seq(("sk_p50", "exact_p50"), ("sk_p90", "exact_p90"), ("sk_p99", "exact_p99"))
        .foreach { case (sk, ex) =>
          val (s, e) = (r.getAs[Double](sk), r.getAs[Double](ex))
          // α=1% bucket bound + slack for the exact side's interpolation
          assert(math.abs(s - e) <= 0.025 * math.abs(e) + 0.5,
            s"${r.getString(0)}.$sk: $s vs $e")
        }
      // the emitted self-certification flag agrees with the envelope
      assert(r.getAs[Boolean]("within_bound"), "within_bound must hold")
    }
    // determinism: the SAME sketch (bit-identical) under any partitioning
    val vals = (1 to 5000).map(i => (i % 7, math.exp(i % 400 / 40.0) - 3.0))
    def sketchOf(parts: Int): Map[Int, Seq[Double]] =
      vals.toDF("g", "x").repartition(parts)
        .groupBy("g").agg(quantileSketch(col("x"), Seq(0.1, 0.5, 0.9, 0.99)).as("q"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(sketchOf(1) === sketchOf(17)) // exact equality, not tolerance
    // negative values and zeros are ranked correctly
    val simple = Seq(-100.0, -10.0, 0.0, 0.0, 10.0, 100.0, 1000.0)
      .toDF("x").agg(quantileSketch(col("x"), Seq(0.0, 0.5, 1.0)).as("q"))
      .head().getSeq[Double](0)
    assert(math.abs(simple(0) + 100.0) <= 1.0)   // min ≈ -100
    assert(simple(1) === 0.0)                    // median is an exact zero
    assert(math.abs(simple(2) - 1000.0) <= 10.0) // max ≈ 1000
  }

  test("streaming dedup drops redelivered events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{Event, EventStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val ts = (min: Long) => new java.sql.Timestamp((1440 + min) * 60000L)
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 2.0))
    input.addData(Event(1, ts(0), 1, "click", 1.0)) // redelivery
    input.addData(Event(3, ts(500), 2, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids === Array(1L, 2L, 3L))
  }

  test("native TopKPerGroup matches the window formulation incl. ties") {
    import spark.implicits._
    // crafted ties at the k-boundary: value 5.0 appears 3× in group a
    val df = Seq(
      ("a", 1L, 9.0), ("a", 2L, 5.0), ("a", 3L, 5.0), ("a", 4L, 5.0), ("a", 5L, 1.0),
      ("b", 6L, 2.0), ("b", 7L, 2.0),
    ).toDF("g", "id", "v")
    val native = graft.plans.TopK.topKPerGroup(df, Seq("g"), "v", "id", 2)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // window reference: order by v desc, id asc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id"))
    val ref = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(native === ref)
    assert(native === Set(("a", 1L), ("a", 2L), ("b", 6L), ("b", 7L)))
    // physical plan: two TopKExec passes (partial + final), no Sort
    val plan = graft.plans.TopK.topKPerGroup(df, Seq("g"), "v", "id", 2)
      .queryExecution.executedPlan.toString
    assert("TopK \\[".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("Sort "), s"native top-k must not sort:\n$plan")
  }

  test("salted join matches the plain join") {
    val l = Tables.orders(spark, sfDir)
    val s = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = l.join(s, Seq("o_custkey")).count()
    val salted = graft.functions.Skew.saltedJoin(l, s, "o_custkey", 8).count()
    assert(salted === plain)
  }

  test("switchback pipeline stages compose and emit sane stats") {
    val out = operators.SwitchbackPipeline.run(spark, sfDir).collect()
    assert(out.length === 2) // two configured tests
    out.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0) // n_on, n_off
      val p = r.getAs[Double]("p_value")
      assert(p >= 0.0 && p <= 1.0)
    }
  }

  test("parameterized pipeline rerun: params drive plan and results") {
    import operators.SwitchbackPipeline.{SwitchbackParams, runWith, rerunParams}
    val out = runWith(spark, sfDir, rerunParams).collect()
    assert(out.map(_.getString(0)).toSeq === rerunParams.map(_.testName).sorted)
    // a stricter keep threshold must not ADMIT more orders
    val loose = rerunParams.map(p => p.copy(keepThreshold = 100))
    val tight = rerunParams.map(p => p.copy(keepThreshold = 50))
    val nLoose = runWith(spark, sfDir, loose).collect().map(r => r.getLong(1) + r.getLong(2)).sum
    val nTight = runWith(spark, sfDir, tight).collect().map(r => r.getLong(1) + r.getLong(2)).sum
    assert(nTight < nLoose)
    // KPI rates flow through: doubling the revenue rate ~doubles rev/order
    val doubled = rerunParams.map(p => p.copy(revenueRate = p.revenueRate * 2, unitFee = 0.0))
    val base = rerunParams.map(p => p.copy(unitFee = 0.0))
    val revD = runWith(spark, sfDir, doubled).collect().map(_.getAs[Double]("revenue_per_order_on")).sum
    val revB = runWith(spark, sfDir, base).collect().map(_.getAs[Double]("revenue_per_order_on")).sum
    assert(math.abs(revD - 2 * revB) < 0.1)
  }

  test("portable polynomial hash matches the DuckDB-computed reference value") {
    import graft.functions.HashFunctions
    import org.apache.spark.unsafe.types.UTF8String
    // pinned against `list_reduce(list_prepend(7::BIGINT, list_transform(
    //   range(1, len('ab cd')+1), i -> ascii(substring('ab cd', i, 1))::BIGINT)),
    //   (h, c) -> (h * 1000003 + c) % 2147483647)` run in DuckDB 1.0.0
    assert(HashFunctions.polyHash(UTF8String.fromString("ab cd")) === 80823761L)
    // seeded variant used by SimHash: stays inside [0, P)
    val p2 = HashFunctions.polyHashWith(UTF8String.fromString("ab cd"), 11L, 1000033L)
    assert(p2 >= 0L && p2 < HashFunctions.P)
    // shingle hashes are the poly hashes of "a b" and "b c"
    val hs = HashFunctions.shingleHashArray(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array(UTF8String.fromString("a"), UTF8String.fromString("b"), UTF8String.fromString("c"))))
    assert(hs.toLongArray().toSeq === Seq(
      HashFunctions.polyHash(UTF8String.fromString("a b")),
      HashFunctions.polyHash(UTF8String.fromString("b c"))))
    // the Mersenne-fold fast path equals the textbook byte-at-a-time
    // `% P` Horner fold (what polyHashSql replays) for every length
    // parity, seed variant, and the non-ASCII fallback
    def naive(str: String, seed: Long, mul: Long): Long = {
      var h = seed
      str.foreach(c => h = (h * mul + c.toLong) % HashFunctions.P)
      h
    }
    val rnd = new scala.util.Random(1234)
    val samples = (0 until 200).map { i =>
      val len = rnd.nextInt(24)
      new String((0 until len).map { _ =>
        if (i % 11 == 10) (rnd.nextInt(0x2000) + 32).toChar // non-ASCII mix
        else (rnd.nextInt(95) + 32).toChar
      }.toArray)
    } ++ Seq("", "x", "ab", "abc")
    samples.foreach { str =>
      assert(HashFunctions.polyHash(UTF8String.fromString(str)) ===
        naive(str, 7L, 1000003L), s"polyHash('$str')")
      assert(HashFunctions.polyHashWith(UTF8String.fromString(str), 11L, 1000033L) ===
        naive(str, 11L, 1000033L), s"polyHashWith('$str')")
    }
    // the segment-continuation shingle fold equals hash-of-concat
    samples.sliding(2).foreach {
      case Seq(a, b) =>
        assert(HashFunctions.polyHashShingle(
          UTF8String.fromString(a), UTF8String.fromString(b)) ===
          naive(s"$a $b", 7L, 1000003L), s"shingle('$a','$b')")
      case _ => ()
    }
  }

  test("plan audit: bloom probe scan-side, merge join shape, retention/funnel single-pass") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    // q_bloom_semi: the might_contain probe must sit BELOW the exact
    // join (scan-side) — that placement is the whole point of the
    // operator: shuffle ∝ survivors, not ∝ the fact table
    locally {
      val plan = Registry.byName("q_bloom_semi").fn(spark, sfDir)
        .queryExecution.optimizedPlan
      val probes = plan.collect {
        case f: LFilter if f.condition.collectFirst {
          case _: BloomFilterMightContain => () }.isDefined => f
      }
      assert(probes.nonEmpty, "bloom probe filter missing from the plan")
      probes.foreach { f =>
        assert(f.child.collect { case j: LJoin => j }.isEmpty,
          s"bloom probe must be below the join, found above:\n$f")
      }
    }
    // q_merge_upsert: ONE full-outer join on the key; the one-row
    // max-key frame enters via broadcast, never a cartesian product
    locally {
      val exec = Registry.byName("q_merge_upsert").fn(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(exec.contains("FullOuter"), s"full-outer merge join missing:\n${exec.take(1500)}")
      assert(!exec.contains("CartesianProduct"),
        "one-row max-key frame must broadcast, not cartesian")
    }
    // q_retention / q_funnel: pure aggregation funnels — NO per-row
    // sequence scan (Window) and a bounded number of fact passes
    locally {
      val ret = Registry.byName("q_retention").fn(spark, sfDir).queryExecution
      assert(ret.optimizedPlan.collectLeaves().size <= 2,
        "retention must read events at most twice (weeks + cohorts)")
      assert(!ret.executedPlan.toString.contains("Window"),
        "retention must not window-scan raw events")
      val fun = Registry.byName("q_funnel").fn(spark, sfDir).queryExecution
      assert(fun.optimizedPlan.collectLeaves().size === 1,
        "funnel must read events exactly once")
      assert(!fun.executedPlan.toString.contains("Window"),
        "funnel must not window-scan raw events")
    }
  }

  test("plan audit round 5: expand reshaping, pagerank cache reuse, wkt dim-side parse") {
    // q_grouping_sets / q_unpivot: exactly one Expand, one fact scan —
    // the map-side expansion shape (|sets|× group cardinality, never
    // |sets|× the data)
    Seq("q_grouping_sets", "q_unpivot").foreach { n =>
      val qe = Registry.byName(n).fn(spark, sfDir).queryExecution
      val plan = qe.executedPlan.toString
      assert(occurrences(plan, "Expand") >= 1, s"$n: Expand missing")
      assert(qe.optimizedPlan.collectLeaves().size === 1, s"$n must scan the fact once")
    }
    // q_pagerank: the edge table is built ONCE and served from cache —
    // every Lloyd-style iteration reads an InMemoryTableScan, and the
    // final readout is TakeOrdered (never a global sort of the nodes)
    locally {
      val plan = Registry.byName("q_pagerank").fn(spark, sfDir)
        .queryExecution.executedPlan.toString
      val cacheReads = occurrences(plan, "InMemoryTableScan")
      assert(cacheReads >= 5, s"expected >=5 cached edge reads, got $cacheReads")
      assert(plan.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
      CacheScope.releaseAll()
    }
    // q_geo_wkt: the WKT parse must stay on the zone (dimension) side —
    // the events scan reads only its own columns, no regexp over facts
    locally {
      val qe = Registry.byName("q_geo_wkt").fn(spark, sfDir).queryExecution
      val scans = qe.executedPlan.toString
      assert(scans.contains("BroadcastExchange"), "zone dim must broadcast")
    }
  }

  test("plan audit round 6: weighted sample selects through TopK, never a window sort") {
    // `source` is low-cardinality, so a row_number window would
    // concentrate a near-global sort on a handful of partitions; the
    // native TopKPerGroup plan (bounded heaps, pre-shuffle partial
    // pruning) is the 100 TB shape — assert it's actually in the plan
    val qe = Registry.byName("q_weighted_sample").fn(spark, sfDir).queryExecution
    val exec = qe.executedPlan.toString
    assert(exec.contains("TopK"), s"native TopK plan missing:\n${exec.take(1500)}")
    assert(!exec.contains("Window"), "per-group selection must not be a window sort")
  }

  test("plan audit round 6b: chunking scan-local, khop cache reuse, no cartesian anywhere") {
    // q_rag_chunk: pure scan-local fan-out — the only Exchange allowed
    // is the final deterministic-dump sort; no aggregation, no join
    locally {
      val qe = Registry.byName("q_rag_chunk").fn(spark, sfDir).queryExecution
      assert(qe.optimizedPlan.collectLeaves().size === 1, "chunking must scan docs once")
      val exec = qe.executedPlan.toString
      assert(!exec.contains("Window") && !exec.contains("HashAggregate"),
        "chunk fan-out must be a pure projection/explode")
    }
    // q_khop: the edge list is built once and the (lazy) tail rounds
    // read it from cache; the mid-loop checkpoint bounds the unrolled
    // lineage, so the final plan holds the tail rounds only — a
    // handful of leaves, never 2^k copies of the seed subtree
    locally {
      val qe = Registry.byName("q_khop").fn(spark, sfDir).queryExecution
      val plan = qe.executedPlan.toString
      val cacheReads = occurrences(plan, "InMemoryTableScan")
      assert(cacheReads >= 3, s"expected >=3 cached edge reads, got $cacheReads")
      // tail segment = 3 lazy rounds over the round-3 checkpoint →
      // ≤ 2³ checkpoint-leaf copies + per-round edge/doc leaves
      // (measured 16); unbounded unrolling would be 64+ seed copies
      assert(qe.optimizedPlan.collectLeaves().size <= 20,
        "khop lineage must be checkpoint-bounded")
      CacheScope.releaseAll()
    }
    // the pair joins of the round-6b batch are all equi-joins — a
    // CartesianProduct in any of them would be the quadratic trap
    Seq("q_semdedup", "q_dsir", "q_chunk_dedup", "q_hte").foreach { n =>
      val exec = Registry.byName(n).fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!exec.contains("CartesianProduct"), s"$n plans a cartesian product")
      CacheScope.releaseAll()
    }
  }

  test("plan audit round 6d/6e: blocked joins equi-keyed, mrr TopK, spearman/shard single-scan") {
    // q_edit_blocking (blocked self-join) and q_kcore (6 peeling
    // rounds of endpoint joins): every join is keyed — a cartesian in
    // the blocked pair space would be the quadratic trap at vocab scale
    Seq("q_edit_blocking", "q_kcore").foreach { n =>
      val exec = Registry.byName(n).fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!exec.contains("CartesianProduct"), s"$n plans a cartesian product")
      CacheScope.releaseAll()
    }
    // q_mrr: the per-term top-10 must come through the native TopK
    // plan (bounded heaps), not a per-term sort of all scored docs
    locally {
      val exec = Registry.byName("q_mrr").fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(exec.contains("TopK"), s"native TopK plan missing:\n${exec.take(1200)}")
    }
    // q_spearman: the fact table must be scanned ONCE — the pair table
    // is persisted, and both rank tables + the join-back read the cache
    locally {
      val qe = Registry.byName("q_spearman").fn(spark, sfDir).queryExecution
      val exec = qe.executedPlan.toString
      // all three branches (two rank tables + join-back) must read the
      // persisted pair table; the parquet scan lives only inside the
      // (single) cached relation, so runtime touches lineitem once
      val cacheReads = occurrences(exec, "InMemoryTableScan")
      assert(cacheReads >= 3, s"expected >=3 cached pair-table reads, got $cacheReads")
      CacheScope.releaseAll()
    }
    // q_shard_assign: assignment is scan-local — one documents leaf,
    // no Window, no join beyond the one-row totals broadcast
    locally {
      val qe = Registry.byName("q_shard_assign").fn(spark, sfDir).queryExecution
      assert(qe.optimizedPlan.collectLeaves().size <= 2,
        "shard assign must read documents + the one-row totals only")
      assert(!qe.executedPlan.toString.contains("Window"),
        "shard assignment must not sort/window anything")
    }
  }

  test("CacheScope releases only what the calling thread registered") {
    import java.util.concurrent.atomic.AtomicReference
    clearCaches()
    val df = spark.range(10).toDF("id").persist()
    try {
      df.count()
      CacheScope.track(df)
      // another runner's release on another thread: no error, and it
      // cannot reach this thread's registrations
      val other = new AtomicReference[Throwable]()
      val t = new Thread(() =>
        try CacheScope.releaseAll()
        catch { case e: Throwable => other.set(e) })
      t.start(); t.join()
      assert(other.get() === null, s"foreign releaseAll failed: ${other.get()}")
      assert(df.storageLevel.useMemory, "a foreign thread must not free this thread's cache")
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      // the registering thread's own release frees it
      CacheScope.releaseAll()
      assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally df.unpersist(blocking = true)
  }

  test("CacheScope.releaseAll runs every action, then rethrows the first failure") {
    clearCaches()
    val a = spark.range(10).toDF("id").persist()
    val b = spark.range(20).toDF("id").persist()
    try {
      a.count(); b.count()
      CacheScope.track(a)
      CacheScope.defer(() => throw new IllegalStateException("first"))
      CacheScope.defer(() => throw new IllegalArgumentException("second"))
      CacheScope.track(b)
      val e = intercept[IllegalStateException](CacheScope.releaseAll())
      assert(e.getMessage === "first")
      assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
      // both caches freed although a release action between them threw
      assert(a.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      assert(b.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      val live = spark.sparkContext.getPersistentRDDs
      assert(live.isEmpty, s"leaked: ${live.values.mkString("; ")}")
      // the failed release still emptied the registry
      CacheScope.releaseAll()
    } finally { a.unpersist(blocking = true); b.unpersist(blocking = true) }
  }

  test("an iterative operator that fails mid-loop leaves no cache and no conf behind") {
    clearCaches()
    val confBefore = spark.conf.getAll
    // a 64-node path: connected components needs several rounds, and
    // its third round's checkpoint job fails in its tasks
    val edges = spark.range(0, 63).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val inject = new FailWhen({
      case c: CollectMetrics if c.name.startsWith("cc_round_2_") => c.child })
    spark.experimental.extraStrategies = Seq(inject)
    try {
      val e = intercept[Exception](operators.Dedup.connectedComponents(edges).collect())
      assert(inject.fired, s"the loop ended before its third round: $e")
    } finally spark.experimental.extraStrategies = Nil
    CacheScope.releaseAll()
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.isEmpty, s"leaked: ${live.values.mkString("; ")}")
    assert(spark.conf.getAll === confBefore)
    // the session still runs the operator
    assert(operators.Dedup.connectedComponents(edges)
      .select("component").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
    CacheScope.releaseAll()
  }

  test("minhash dedup whose candidate job fails leaves no cache and no conf behind") {
    def pairs() = try operators.Dedup.dedupMinhash(spark, sfDir).collect().toSeq
      finally CacheScope.releaseAll()
    val confBefore = spark.conf.getAll
    val expected = pairs()
    clearCaches()
    // the candidate filter (buckets with two or more members) sits inside
    // both cached subplans, so the one job that fills them fails
    val inject = new FailWhen({
      case f: Filter if f.condition.references.exists(_.name == "ds") => f.child })
    spark.experimental.extraStrategies = Seq(inject)
    try {
      intercept[Exception](operators.Dedup.dedupMinhash(spark, sfDir).collect())
      assert(inject.fired, "the injected failure was never planned")
    } finally spark.experimental.extraStrategies = Nil
    CacheScope.releaseAll()
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.isEmpty, s"leaked: ${live.values.mkString("; ")}")
    assert(spark.sharedState.cacheManager.isEmpty, "a cached plan is still registered")
    // the operator's cached-plan opt-out included
    assert(spark.conf.getAll === confBefore)
    assert(pairs() === expected, "the session no longer runs the operator")
  }

  test("profile.conf alternatives expand to the variants the profiler interleaves") {
    val (fixed, variants) = graft.tools.Profile.parseConf(
      "spark.sql.adaptive.enabled=true,a.k=0|64,b.k=x=1|y")
    assert(fixed === Seq("spark.sql.adaptive.enabled" -> "true"))
    assert(variants === Seq(
      Seq("a.k" -> "0", "b.k" -> "x=1"), Seq("a.k" -> "0", "b.k" -> "y"),
      Seq("a.k" -> "64", "b.k" -> "x=1"), Seq("a.k" -> "64", "b.k" -> "y")))
    // no alternatives: one variant that overrides nothing
    assert(graft.tools.Profile.parseConf("")._2 === Seq(Seq.empty))
    intercept[IllegalArgumentException](graft.tools.Profile.parseConf("novalue"))
  }
}

/** Plans each node `hit` picks — one whose output is its child's, which
  * `hit` returns (an observation, a filter) — as an operator whose tasks
  * throw, so every job that runs it fails. */
private class FailWhen(hit: PartialFunction[LogicalPlan, LogicalPlan]) extends SparkStrategy {
  @volatile var fired = false
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = hit.lift(plan) match {
    case Some(child) =>
      fired = true
      Seq(FailingExec(planLater(child)))
    case None => Nil
  }
}

private case class FailingExec(child: SparkPlan) extends UnaryExecNode {
  override def output = child.output
  override protected def doExecute() = child.execute().mapPartitions[InternalRow](
    _ => throw new IllegalStateException("injected task failure"))
  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)
}
