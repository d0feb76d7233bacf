package graft

import org.apache.spark.sql.functions._

/** Smoke + semantic checks for the relational/switchback/time-series
  * operator blocks at sf0.001. */
class OperatorsSpec extends SparkSpec {

  test("every registered operator returns rows", SlowTest) {
    Registry.ops.foreach { op =>
      val n = op.fn(spark, sfDir).count()
      assert(n > 0, s"${op.name} returned no rows")
      CacheScope.releaseAll() // scoped operator caches die with the run
    }
  }

  test("scoped caches are fully released after operator runs") {
    // The cache-hygiene invariant: operators may persist/localCheckpoint
    // internally, but after the runner forces the result and calls
    // CacheScope.releaseAll(), NO cached or checkpoint blocks survive.
    // dedupMinhash (persisted cand) + dedupClusters (persisted/
    // checkpointed CC generations) are the two offenders this guards.
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    operators.Dedup.dedupMinhash(spark, sfDir).count()
    operators.Dedup.dedupClusters(spark, sfDir).count()
    CacheScope.releaseAll()
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.isEmpty,
      s"leaked cached RDDs after release: ${live.values.map(_.toString).mkString("; ")}")
  }

  test("dedupMinhash leaves the session conf as it found it") {
    CacheScope.releaseAll()
    val before = spark.conf.getAll
    try {
      operators.Dedup.dedupMinhash(spark, sfDir)
      val after = spark.conf.getAll
      val diff = (before.toSet diff after.toSet) ++ (after.toSet diff before.toSet)
      assert(diff.isEmpty, s"conf changed by dedupMinhash: $diff")
    } finally CacheScope.releaseAll()
  }

  test("dedupMinhash's candidate cache keeps its shuffle partitions") {
    // The operator opts its caches out of AQE final-stage coalescing:
    // the candidate cache keeps spark.sql.shuffle.partitions slices,
    // where the same frame persisted under the session conf coalesces.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def candParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation if r.output.map(_.name).contains("sz_a") =>
          r.cacheBuilder.cachedColumnBuffers.getNumPartitions
      }.head
    CacheScope.releaseAll()
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val optedOut = try candParts(operators.Dedup.dedupMinhash(spark, sfDir))
      finally CacheScope.releaseAll()
    val d = operators.Dedup
    val plain = d.bandCandidates(d.bandBuckets(d.corpus(spark, sfDir))).persist()
    val coalesced = try { plain.count(); candParts(plain) }
      finally plain.unpersist(blocking = true)
    assert(optedOut === shufflePartitions)
    assert(coalesced < shufflePartitions,
      "under the session conf the same cache must coalesce (else this spec shows nothing)")
  }

  test("oracle-backed ops with exchanges, windows or loops are partitioning-invariant") {
    // Default-tier subset of the slow full-registry sweep below: the
    // same determinism claim on the ops whose results a shuffle width
    // could plausibly reach.
    val names = Seq("q_agg_groupby", "q_sb_metrics", "q_mwu", "q_topn_per_group",
      "q_sessionize", "q_dedup_minhash", "q_dedup_clusters", "q_pagerank",
      "q_kcore", "q_quality_classifier")
    val ops = names.map(Registry.byName)
    ops.foreach(op => assert(op.oracle.isDefined, s"${op.name} has no oracle"))
    val hashes = Seq("1", "7").map { parts =>
      CacheScope.withConf(spark, "spark.sql.shuffle.partitions" -> parts) {
        ops.map { op =>
          try Verify.contentHash(op.fn(spark, sfDir)) finally CacheScope.releaseAll()
        }
      }
    }
    names.zip(hashes(0).zip(hashes(1))).foreach { case (n, (h1, h7)) =>
      assert(h1 === h7, s"$n differs between 1 and 7 shuffle partitions")
    }
  }

  test("every oracle-backed query is partitioning-invariant", SlowTest) {
    // The repo's core determinism claim: results do not depend on how
    // data is partitioned (decimal-exact sums, order-invariant
    // aggregates). Run the full oracle-backed surface under two shuffle
    // widths and require byte-identical row sets.
    val results = Seq("3", "7").map { parts =>
      CacheScope.withConf(spark, "spark.sql.shuffle.partitions" -> parts) {
        Registry.ops.filter(_.oracle.isDefined).map { op =>
          val rows = op.fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
          CacheScope.releaseAll()
          op.name -> rows
        }.toMap
      }
    }
    results(0).keys.foreach { name =>
      assert(results(0)(name) === results(1)(name),
        s"$name differs between 3 and 7 shuffle partitions")
    }
  }

  test("registry names are unique and oracle columns align", SlowTest) {
    val names = Registry.ops.map(_.name)
    assert(names.distinct.size === names.size)
    // every oracle-backed op: spark result column set appears in the SQL text
    Registry.ops.filter(_.oracle.isDefined).foreach { op =>
      val cols = try op.fn(spark, sfDir).columns finally CacheScope.releaseAll()
      cols.foreach { c =>
        assert(op.oracle.get.toLowerCase.contains(c.toLowerCase),
          s"${op.name}: column $c missing from oracle SQL")
      }
    }
  }

  test("aggGroupBy sums are decimal-exact under repartitioning") {
    val a = operators.Relational.aggGroupBy(spark, sfDir)
      .select("sum_base_price").collect().map(_.getDouble(0)).toSeq
    // same query against a deliberately re-partitioned scan must be identical
    val l = Tables.lineitem(spark, sfDir).repartition(17)
    val b = l.filter(col("l_shipdate") <= lit("2000-12-31").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .cast("double").as("sum_base_price"))
      .orderBy("l_returnflag", "l_linestatus")
      .select("sum_base_price").collect().map(_.getDouble(0)).toSeq
    assert(a === b)
  }

  test("topN emits at most 3 rows per group, ranked") {
    val rows = operators.Relational.topNPerGroup(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getInt(1)).sorted === rs.map(_.getInt(1)))
    }
  }

  test("switchback assignment is a 50/50-ish split and deterministic") {
    val df = operators.Switchback.sbAssign(spark, sfDir)
    val counts = df.groupBy("on_off").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("On", "Off"))
    val ratio = counts("On").toDouble / (counts("On") + counts("Off"))
    assert(ratio > 0.4 && ratio < 0.6)
    assert(df.collect().toSeq === df.collect().toSeq) // re-run identical
  }

  test("sessionize: session count matches a hand-built scenario") {
    import spark.implicits._
    // user 1: two sessions (40-min gap); user 2: one session
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val ev = Seq(
      (1L, ts(0L), 1L, "click", 1.0, "{}"),
      (2L, ts(10L * 60 * 1000), 1L, "view", 1.0, "{}"),
      (3L, ts(50L * 60 * 1000), 1L, "click", 1.0, "{}"),
      (4L, ts(0L), 2L, "view", 1.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.createOrReplaceTempView("graft_test_events")
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val out = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy("user_id").agg(sum("new_session").as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 1L))
  }

  test("as-of join matches latest prior click") {
    val rows = operators.TimeSeries.asofJoin(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(2)).foreach { r =>
      assert(r.getLong(3) >= 0, "gap must be non-negative") // gap_us
    }
  }
}
