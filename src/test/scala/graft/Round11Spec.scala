package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Maintenance
import graft.operators.Maintenance._
import graft.operators.SqlSurface

/** Round-11 gates.
  *
  * 1. Adversarial layout-invariance for manifest pruning × z layouts:
  *    the SAME logical table is staged and z-rewritten under many
  *    different physical layouts (file counts, stagings, bit widths,
  *    targets), with rows planted at quantile cut values, NULL-keyed
  *    rows, and an all-NULL batch file — and every catalog-read answer
  *    must be IDENTICAL to the raw-frame answer on every layout. This
  *    is the spec the r10 q_sql_zorder flake demanded: either layout
  *    cannot change an answer, or the mis-prune reproduces here with
  *    the layout dumped.
  *
  * 2. The ADVICE fixes: DATE-typed partition-equality DELETE routes to
  *    the metadata drop (literal rendered through Spark's cast, not
  *    the Catalyst-internal epoch-day int); explicitly other-catalog
  *    statements delegate out of the graft parser; malformed OPTIMIZE
  *    clauses on non-snapshot tables delegate instead of dying here.
  */
class Round11Spec extends SparkSpec {

  // ───── 1. layout invariance ─────────────────────────────────────────

  /** Adversarial base frame: heavy duplicate keys (ties AT every
    * possible quantile cut), NULL keys on both axes, and a payload
    * whose sum detects any lost/duplicated row. */
  private def adversarialRows: DataFrame =
    spark.range(4000).select(
      when(col("id") % 19 === 0, lit(null)).otherwise(col("id") % 97).as("x"),
      when(col("id") % 23 === 0, lit(null)).otherwise((col("id") * 7) % 89).as("y"),
      col("id").as("payload"))

  /** An entire batch of NULL-keyed rows — lands as its own all-NULL
    * data file whose min/max stats are NULL (the shape a careless
    * pruner drops or a careless stats writer crashes on). */
  private def allNullRows: DataFrame =
    spark.range(4000, 4200).select(
      lit(null).cast("long").as("x"), lit(null).cast("long").as("y"),
      col("id").as("payload"))

  private def expectedAnswers: Seq[Seq[Row]] = answers(
    adversarialRows.unionByName(allNullRows))

  /** The probe battery, shaped like q_sql_zorder's read plus the
    * pruner's other translation arms: 2D range, equality at a heavily
    * tied value, IS NULL, OR of ranges, IN list. */
  private def answers(t: DataFrame): Seq[Seq[Row]] = Seq(
    t.filter(col("x").between(20, 64) && col("y").between(0, 44))
      .groupBy("x").agg(count(lit(1)).as("n"), sum("payload").as("p"))
      .orderBy("x").collect().toSeq,
    t.filter(col("x") === 48)
      .agg(count(lit(1)).as("n"), sum("payload").as("p")).collect().toSeq,
    t.filter(col("x").isNull)
      .agg(count(lit(1)).as("n"), sum("payload").as("p")).collect().toSeq,
    t.filter(col("x") > 80 || col("y") < 8)
      .agg(count(lit(1)).as("n"), sum("payload").as("p")).collect().toSeq,
    t.filter(col("x").isin(3, 48, 96))
      .groupBy("x").agg(count(lit(1)).as("n")).orderBy("x").collect().toSeq)

  test("z layouts never change an answer: 20 adversarial layouts, exact equality", SlowTest) {
    val expected = expectedAnswers
    val variants: Seq[(Int, Option[String], Int, Long)] =
      for {
        (stageN, stageCluster) <- Seq(
          (1, None), (3, Some("x")), (8, Some("y")), (5, None), (2, Some("x")))
        (bits, target) <- Seq((8, 16384L), (4, 4096L), (2, 65536L), (6, 8192L))
      } yield (stageN, stageCluster, bits, target)
    assert(variants.size == 20)
    variants.zipWithIndex.foreach { case ((stageN, cluster, bits, target), i) =>
      withStage(f"graft_r11_inv$i%02d_") { p =>
        val t = s"$p/t"
        snapshotWrite(adversarialRows, t, nFiles = stageN,
          statsCols = Seq("x", "y"), clusterBy = cluster)
        snapshotAppend(allNullRows, t, nFiles = 1, statsCols = Seq("x", "y"))
        Maintenance.compactSnapshotZorder(spark, t, Seq("x", "y"), target, bits)
        val got = SqlSurface.withCatalog(spark, p) { cat =>
          answers(spark.table(s"$cat.t"))
        }
        val layout = snapshotManifest(spark, t).orderBy("file").collect()
          .map(_.toString).mkString("\n  ")
        assert(got == expected,
          s"layout variant $i (stageN=$stageN cluster=$cluster bits=$bits " +
            s"target=$target) changed an answer\nlayout:\n  $layout")
      }
    }
  }

  test("an all-NULL z table and an empty-after-filter read stay sane") {
    withStage("graft_r11_null_") { p =>
      val t = s"$p/t"
      snapshotWrite(allNullRows, t, nFiles = 2, statsCols = Seq("x", "y"))
      // z-ordering a table whose z columns are entirely NULL: single
      // degenerate bucket, but no crash and no row loss
      Maintenance.compactSnapshotZorder(spark, t, Seq("x", "y"), 16384L, 8)
      assert(readSnapshot(spark, t).count() == 200)
      SqlSurface.withCatalog(spark, p) { cat =>
        assert(spark.sql(s"SELECT * FROM $cat.t WHERE x = 5").count() == 0)
        assert(spark.sql(s"SELECT * FROM $cat.t WHERE x IS NULL").count() == 200)
      }
    }
  }

  // ───── 2. ADVICE fixes ──────────────────────────────────────────────

  test("DATE-typed partition-equality DELETE routes to the metadata drop") {
    withStage("graft_r11_datepart_") { p =>
      val t = s"$p/t"
      def day(d: String): DataFrame =
        spark.range(100).select(to_date(lit(d)).as("d"), col("id").as("v"))
      snapshotOverwritePartition(day("2024-01-01"), t, "d", "2024-01-01",
        nFiles = 1)
      snapshotOverwritePartition(day("2024-01-02"), t, "d", "2024-01-02",
        nFiles = 1)
      assert(readSnapshot(spark, t).count() == 200)
      SqlSurface.withCatalog(spark, p) { cat =>
        // the literal is a DATE — rendered via the internal Catalyst
        // value this would be '19723'-style epoch days, match nothing,
        // and silently delete zero rows
        spark.sql(s"DELETE FROM $cat.t WHERE d = DATE '2024-01-01'")
      }
      val left = readSnapshot(spark, t)
      assert(left.count() == 100,
        s"DATE partition DELETE must actually drop the partition")
      assert(left.select("d").distinct().collect().map(_.get(0).toString)
        .toSeq == Seq("2024-01-02"))
    }
  }

  test("explicitly other-catalog statements delegate out of the graft parser") {
    withStage("graft_r11_delegate_") { p =>
      import spark.implicits._
      snapshotWrite(Seq((1L, "a")).toDF("k", "s"), s"$p/t", nFiles = 1)
      SqlSurface.withCatalog(spark, p) { cat =>
        val prev = spark.catalog.currentCatalog()
        spark.catalog.setCurrentCatalog(cat)
        try {
          // bare name under USE <snapshot-cat>: ours, resolves
          assert(spark.sql(s"DESCRIBE HISTORY t").count() == 1)
          // explicitly session-catalog-qualified: NOT ours — must fall
          // through to Spark's parser (which has no DESCRIBE HISTORY)
          // instead of being rewritten to <cat>.spark_catalog.db.t
          // delegation evidence: Spark's own parser reads `DESCRIBE
          // HISTORY <x>` as DESCRIBE TABLE of a table named HISTORY
          // and fails at analysis on `HISTORY` — NOT graft's
          // "no committed versions"/"not a registered snapshot
          // catalog" execution errors on a rewritten <cat>.….t ident
          def assertDelegated(e: Exception): Unit = assert(
            (e.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException]
              || e.getMessage.contains("HISTORY")) &&
              !e.getMessage.contains("snapshot"),
            s"expected delegation to Spark's parser, got: $e")
          assertDelegated(intercept[Exception] {
            spark.sql("DESCRIBE HISTORY spark_catalog.db.t")
          })
          // a registered NON-snapshot catalog name is not ours either
          CacheScope.withConf(spark, "spark.sql.catalog.jdbc_like" ->
            "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog") {
            assertDelegated(intercept[Exception] {
              spark.sql("DESCRIBE HISTORY jdbc_like.db.t")
            })
          }
        } finally spark.catalog.setCurrentCatalog(prev)
      }
    }
  }

  // ───── 3. CREATE TABLE without data ─────────────────────────────────

  test("CREATE TABLE without data: empty reads, stats contract inherited by inserts") {
    withStage("graft_r11_create_") { p =>
      SqlSurface.withCatalog(spark, p) { cat =>
        spark.sql(s"CREATE TABLE $cat.t (k BIGINT, s STRING, v DOUBLE) " +
          "TBLPROPERTIES ('statsCols' = 'k')")
        // exists at v1; reads empty in the declared shape
        assert(snapshotVersions(spark, s"$p/t") == Seq(1L))
        val empty = spark.sql(s"SELECT * FROM $cat.t")
        assert(empty.columns.toSeq == Seq("k", "s", "v"))
        assert(empty.count() == 0)
        // empty manifest already carries the typed stats contract
        assert(tableStatsCols(spark, s"$p/t") == Seq("k"))
        // first INSERT inherits the contract: per-file k stats land
        spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
        val mf = snapshotManifest(spark, s"$p/t")
        assert(mf.columns.contains("min_k") && mf.columns.contains("max_k"))
        assert(mf.agg(min("min_k"), max("max_k")).head() == Row(1L, 2L))
        spark.sql(s"INSERT INTO $cat.t VALUES (3, 'c', 3.0)")
        assert(spark.sql(s"SELECT SUM(k) FROM $cat.t").head.getLong(0) == 6L)
        // CREATE over an existing table still refuses
        val e = intercept[Exception] {
          spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
        }
        assert(e.getMessage.toLowerCase.contains("exist"))
        // a second empty creator racing on v1 conflicts, never shadows
        val e2 = intercept[RuntimeException] {
          Maintenance.snapshotCreateEmpty(spark, s"$p/t2",
            spark.sql(s"SELECT * FROM $cat.t").schema) // fine: t2 fresh
          Maintenance.snapshotCreateEmpty(spark, s"$p/t2",
            spark.sql(s"SELECT * FROM $cat.t").schema)
        }
        assert(e2.getMessage.contains("already has versions") ||
          e2.getMessage.contains("lost the race"))
      }
    }
  }

  // ───── 4. time-based retention ──────────────────────────────────────

  test("VACUUM RETAIN n HOURS expires aged-out versions, CDC base error fires") {
    withStage("graft_r11_retain_") { p =>
      import spark.implicits._
      val t = s"$p/t"
      snapshotWrite((1L to 10L).toDF("k"), t, nFiles = 1,
        statsCols = Seq("k"))
      Thread.sleep(150)
      snapshotAppend((11L to 20L).toDF("k"), t, nFiles = 1,
        statsCols = Seq("k"))
      Thread.sleep(150)
      snapshotAppend((21L to 30L).toDF("k"), t, nFiles = 1,
        statsCols = Seq("k"))
      // retain 1 hour: nothing is old enough — no-op
      val (e0, _) = vacuumSnapshotsRetain(spark, t, retainMs = 3600L * 1000L)
      assert(e0 == 0L && snapshotVersions(spark, t) == Seq(1L, 2L, 3L))
      // retain ~0: v1 and v2 age out, the head always survives
      Thread.sleep(150)
      val (e1, _) = vacuumSnapshotsRetain(spark, t, retainMs = 100L)
      assert(e1 == 2L, s"expected v1+v2 expired, got $e1")
      assert(snapshotVersions(spark, t) == Seq(3L))
      assert(readSnapshot(spark, t).count() == 30)
      // a CDC consumer that lagged past retention gets the loud error
      val e = intercept[IllegalArgumentException] {
        snapshotChanges(spark, t, fromV = 1L, toV = 3L)
      }
      assert(e.getMessage.contains("must both exist") ||
        e.getMessage.contains("expired"))
      // the SQL verb drives the same mechanics
      SqlSurface.withCatalog(spark, p) { cat =>
        snapshotAppend((31L to 40L).toDF("k"), t, nFiles = 1,
          statsCols = Seq("k"))
        Thread.sleep(150)
        val r = spark.sql(s"VACUUM $cat.t RETAIN 0 HOURS").head
        assert(r.getLong(0) == 1L) // v3 aged out, v4 kept
        assert(snapshotVersions(spark, t) == Seq(4L))
      }
    }
  }

  // ───── 5. optimistic commit retry ───────────────────────────────────

  test("appends rebase across a concurrent commit; rewrites still conflict") {
    withStage("graft_r11_retry_") { p =>
      import spark.implicits._
      val t = s"$p/t"
      snapshotWrite((1L to 10L).toDF("k"), t, nFiles = 1, statsCols = Seq("k"))
      // deterministic interleave: two appenders race from one barrier;
      // whatever the winner order, BOTH must land (the loser rebases)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val tasks = Seq((11L, 20L), (21L, 30L)).map { case (lo, hi) =>
        val ft = new java.util.concurrent.FutureTask(
          new java.util.concurrent.Callable[Long] {
            override def call(): Long = {
              barrier.await()
              snapshotAppend((lo to hi).toDF("k"), t, nFiles = 1,
                statsCols = Seq("k"))
            }
          })
        new Thread(ft).start(); ft
      }
      val landedAt = tasks.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(landedAt.sorted == Seq(2L, 3L),
        s"both appends must land as v2 and v3, got $landedAt")
      assert(readSnapshot(spark, t).count() == 30)
      assert(readSnapshot(spark, t).agg(sum("k")).head.getLong(0) ==
        (1L to 30L).sum)
      // a REWRITE pinned to a superseded base must still throw: its
      // content derives from the stale version (rebase would be wrong)
      val headV = snapshotVersions(spark, t).last
      snapshotAppend((31L to 40L).toDF("k"), t, nFiles = 1,
        statsCols = Seq("k"))
      val e = intercept[IllegalStateException] {
        snapshotDelete(spark, t, "k", 1L, 5L, nFiles = 1,
          asOf = Some(headV))
      }
      assert(e.getMessage.contains("lost the race"))
      assert(readSnapshot(spark, t).count() == 40)
    }
  }

  test("merge row identity is stable: cardinality check + update selection agree") {
    withStage("graft_r11_mergeid_") { p =>
      import spark.implicits._
      val t = s"$p/t"
      snapshotWrite((1L to 200L).map(k => (k, k * 1.0)).toDF("k", "v"),
        t, nFiles = 4, statsCols = Seq("k"), clusterBy = Some("k"))
      SqlSurface.withCatalog(spark, p) { cat =>
        (1L to 50L).map(k => (k * 2, -1.0)).toDF("k", "nv")
          .createOrReplaceTempView("r11chg")
        try {
          spark.sql(s"MERGE INTO $cat.t USING r11chg ON $cat.t.k = r11chg.k " +
            "WHEN MATCHED THEN UPDATE SET v = r11chg.nv " +
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (r11chg.k, r11chg.nv)")
          assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE v = -1.0")
            .head.getLong(0) == 50L)
          assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head.getLong(0) == 200L)
          // a duplicate-key source still trips the cardinality check
          val e = intercept[IllegalStateException] {
            spark.sql(s"MERGE INTO $cat.t USING " +
              "(SELECT * FROM r11chg UNION ALL SELECT * FROM r11chg) d " +
              s"ON $cat.t.k = d.k WHEN MATCHED THEN UPDATE SET v = d.nv")
          }
          assert(e.getMessage.contains("cardinality"))
        } finally spark.catalog.dropTempView("r11chg"): Unit
      }
    }
  }

  test("whole-table OPTIMIZE (plain and ZORDER) keeps evolution-added column values") {
    for (zorder <- Seq(false, true)) withStage("graft_r11_optevo_") { p =>
      import spark.implicits._
      val t = s"$p/t"
      // many pre-evolution files, ONE evolved file: a plain
      // (non-mergeSchema) multi-footer read could adopt a
      // pre-evolution footer and the rewrite would null the column
      snapshotWrite((1L to 80L).map(k => (k, k * 2)).toDF("k", "v"),
        t, nFiles = 8, statsCols = Seq("k"), clusterBy = Some("k"))
      snapshotAppend((81L to 100L).map(k => (k, k * 2, s"e$k"))
        .toDF("k", "v", "extra"), t, nFiles = 1, statsCols = Seq("k"))
      SqlSurface.withCatalog(spark, p) { cat =>
        if (zorder) spark.sql(s"OPTIMIZE $cat.t ZORDER BY (k, v)")
        else spark.sql(s"OPTIMIZE $cat.t")
      }
      val after = readSnapshot(spark, t, mergeSchema = true)
      assert(after.columns.contains("extra"),
        s"zorder=$zorder: evolved column dropped by the rewrite")
      assert(after.filter(col("extra").isNotNull).count() == 20,
        s"zorder=$zorder: evolved column values lost in the rewrite")
      assert(after.count() == 100)
    }
  }

  test("sorted_rank: binary search equals the literal-array fold on ties and NULLs") {
    import graft.functions.SortedRank
    val cuts = Seq(1.0, 3.0, 3.0, 7.5).distinct.sorted // as the zorder path builds them
    // plain-Scala oracle: #{cut < v}
    def foldRank(v: Double): Int = cuts.count(_ < v)
    for (v <- Seq(0.0, 1.0, 2.0, 3.0, 5.0, 7.5, 9.0, -1.0))
      assert(SortedRank.rank(cuts.toArray, v) == foldRank(v), s"v=$v")
    // as a Column over a frame with NULLs: NULL ranks 0 (first bucket)
    import spark.implicits._
    val df = Seq[Option[Double]](Some(0.5), Some(3.0), Some(8.0), None)
      .toDF("v")
    val got = df.select(SortedRank.sortedRank(col("v"), cuts).as("r"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 1, 3, 0))
    // empty-cuts guard is the caller's (zorder passes lit(0)); a
    // mis-sorted cut list refuses loudly
    intercept[IllegalArgumentException] {
      SortedRank.sortedRank(col("v"), Seq(2.0, 1.0))
    }
  }

  // ───── 6. orchestration semantics (the reference DAG's run shape) ───

  test("runChain: retries, notification policy, and downstream skip match the DAG") {
    import graft.operators.Orchestration
    import graft.operators.Orchestration.Notice
    val notices = scala.collection.mutable.Buffer.empty[Notice]
    // a task that fails EVERY attempt: retries exhaust, downstream
    // never runs, exactly one failure email (email_on_retry = False
    // suppresses the retry mails, the reference default)
    val r1 = Orchestration.runChain(spark, Seq(
      "a" -> (() => spark.range(3).toDF("x")),
      "b" -> (() => throw new IllegalStateException("hard down")),
      "c" -> (() => spark.range(1).toDF("x"))),
      retries = 2, notify = notices.append(_))
      .orderBy("position").collect()
    assert(r1.map(r => (r.getAs[String]("task_id"), r.getAs[Int]("attempts"),
      r.getAs[String]("status"))).toSeq == Seq(
      ("a", 1, "success"), ("b", 3, "failed"), ("c", 0, "upstream_failed")))
    assert(notices.map(_.kind).toSeq == Seq("failure_email"),
      s"expected exactly one failure mail, got $notices")
    assert(notices.head.task_id == "b" &&
      notices.head.message.contains("3 attempts"))

    // email_on_retry = true surfaces each retry; transient failure
    // recovers and the chain still sends the trailing success mail
    notices.clear()
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    val r2 = Orchestration.runChain(spark, Seq(
      "q" -> (() => {
        if (flaky.incrementAndGet() < 3)
          throw new IllegalStateException("transient")
        spark.range(5).toDF("x")
      })), retries = 2, emailOnRetry = true, notify = notices.append(_))
      .collect()
    assert(r2.head.getAs[Int]("attempts") == 3 &&
      r2.head.getAs[String]("status") == "success" &&
      r2.head.getAs[Long]("n_rows") == 5L)
    assert(notices.map(_.kind).toSeq ==
      Seq("retry_email", "retry_email", "success_email"))

    // a failed chain never sends the success mail even with
    // email_on_failure = false (nothing is silently green)
    notices.clear()
    Orchestration.runChain(spark, Seq(
      "z" -> (() => throw new IllegalStateException("down"))),
      retries = 0, emailOnFailure = false, notify = notices.append(_))
    assert(notices.isEmpty)
  }

  test("malformed OPTIMIZE clauses: ours throw, other tables delegate") {
    withStage("graft_r11_optclause_") { p =>
      import spark.implicits._
      snapshotWrite(Seq((1L, "a")).toDF("k", "s"), s"$p/t", nFiles = 1)
      SqlSurface.withCatalog(spark, p) { cat =>
        // on OUR table: the clause error surfaces, with the graft text
        val e = intercept[IllegalArgumentException] {
          spark.sql(s"OPTIMIZE $cat.t WHERE k = 3")
        }
        assert(e.getMessage.contains("unrecognized OPTIMIZE clause"))
      }
      // on a non-snapshot table (current catalog is the session one):
      // Delta-style OPTIMIZE variants must reach the DELEGATE parser,
      // not die on graft's clause validation
      val e2 = intercept[Exception] {
        spark.sql("OPTIMIZE sometable WHERE x = 3")
      }
      assert(!e2.getMessage.contains("unrecognized OPTIMIZE clause"),
        s"must delegate, got graft's own error: $e2")
    }
  }
}
