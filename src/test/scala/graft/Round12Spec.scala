package graft

import org.apache.spark.sql.functions._
import graft.operators.{Invariants, Maintenance, SqlSurface, SnapshotTornWrite}

/** Round-12 gates.
  *
  * 1. The deterministic staging layout (the r11 verdict's task 3: the
  *    last sampled layout stage — `repartitionByRange` in the snapshot
  *    staging writes — replaced by exact-percentile cuts + murmur
  *    routing): content exactness, run-to-run layout identity, and
  *    range disjointness, for long AND string cluster keys, NULL keys,
  *    constant keys, and empty frames.
  * 2. The commit-time torn-write guard (task 2): a row-dropping write
  *    is structurally un-committable — [[SnapshotTornWrite]] fires and
  *    no version is published.
  * 3. The in-query content invariants (task 1): a forced divergence
  *    throws a stage-naming error carrying manifest/per-file/env
  *    diagnostics — including end-to-end, when a durable data file is
  *    tampered behind the manifest's back.
  * 4. ADVICE fixes: MERGE as the fill step of an empty CREATE TABLE
  *    (the CREATE-then-fill chain no longer crashes on the missing
  *    `_metadata` column); NULL z-columns keep the documented NULL
  *    contract.
  * 5. `SELECT * EXCEPT(...)` — the reference's one remaining syntax
  *    nicety — parses natively (survey §2 inventory note).
  */
class Round12Spec extends SparkSpec {

  // ───── 1. deterministic staging layout ──────────────────────────────

  test("staging layout: long key — content exact, identical across runs, " +
      "file key ranges disjoint") {
    withStage("r12_shaper_long") { p =>
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "user_id", "value")
      Maintenance.snapshotWrite(ev, s"$p/a", nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      Maintenance.snapshotWrite(ev, s"$p/b", nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      Invariants.assertSameContent("spec/staging-long", ev,
        Maintenance.readSnapshot(spark, s"$p/a"), "")
      // layout identity: the (n_rows, min, max) multiset is the layout
      // modulo the batch uuid in file names
      def shape(path: String): Seq[String] =
        Maintenance.snapshotManifest(spark, path)
          .select("n_rows", "min_event_id", "max_event_id")
          .collect().map(_.toString).sorted.toIndexedSeq
      assert(shape(s"$p/a") == shape(s"$p/b"),
        "two stagings of the same frame produced different layouts")
      // disjointness: files cover strictly increasing key ranges
      val ranges = Maintenance.snapshotManifest(spark, s"$p/a")
        .select("min_event_id", "max_event_id").collect()
        .filter(r => !r.isNullAt(0))
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toIndexedSeq
      assert(ranges.size > 1, s"expected a multi-file layout, got $ranges")
      ranges.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 < b._1,
          s"file ranges overlap: $a vs $b (of $ranges)")
        case _ => ()
      }
    }
  }

  test("staging layout: string key with a long COMMON PREFIX — content " +
      "exact, identical across runs, ranges disjoint (prefix-skip proxy)") {
    import spark.implicits._
    withStage("r12_shaper_str") { p =>
      // the adversarial shape: every key shares "doc_00…" — a naive
      // fixed-prefix embedding collapses to one bucket; the prefix-skip
      // proxy must still spread the layout
      val docs = (0 until 4000)
        .map(i => (f"doc_$i%06d", i % 7, i.toLong)).toDF("doc_id", "lang", "n")
      Maintenance.snapshotWrite(docs, s"$p/a", nFiles = 6,
        statsCols = Seq("doc_id"), clusterBy = Some("doc_id"))
      Maintenance.snapshotWrite(docs, s"$p/b", nFiles = 6,
        statsCols = Seq("doc_id"), clusterBy = Some("doc_id"))
      Invariants.assertSameContent("spec/staging-str", docs,
        Maintenance.readSnapshot(spark, s"$p/a"), "")
      def shape(path: String): Seq[String] =
        Maintenance.snapshotManifest(spark, path)
          .select("n_rows", "min_doc_id", "max_doc_id")
          .collect().map(_.toString).sorted.toIndexedSeq
      assert(shape(s"$p/a") == shape(s"$p/b"))
      val ranges = Maintenance.snapshotManifest(spark, s"$p/a")
        .select("min_doc_id", "max_doc_id").collect()
        .filter(r => !r.isNullAt(0))
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toIndexedSeq
      assert(ranges.size > 1, s"expected a multi-file layout, got $ranges")
      ranges.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 < b._1,
          s"string file ranges overlap: $a vs $b")
        case _ => ()
      }
    }
  }

  test("staging layout: NULL keys, constant key, and empty frame commit " +
      "and read back exactly") {
    import spark.implicits._
    withStage("r12_shaper_edge") { p =>
      val withNulls = Seq[(java.lang.Long, String)](
        (1L, "a"), (null, "n1"), (2L, "b"), (null, "n2"), (3L, "c"),
        (null, "n3"), (7L, "d"))
        .toDF("k", "s")
      Maintenance.snapshotWrite(withNulls, s"$p/nulls", nFiles = 3,
        statsCols = Seq("k"), clusterBy = Some("k"))
      Invariants.assertSameContent("spec/nulls", withNulls,
        Maintenance.readSnapshot(spark, s"$p/nulls"), "")
      val const = Seq((5L, "x"), (5L, "y"), (5L, "z")).toDF("k", "s")
      Maintenance.snapshotWrite(const, s"$p/const", nFiles = 4,
        statsCols = Seq("k"), clusterBy = Some("k"))
      Invariants.assertSameContent("spec/const", const,
        Maintenance.readSnapshot(spark, s"$p/const"), "")
      val empty = const.filter(lit(false))
      Maintenance.snapshotWrite(empty, s"$p/empty", nFiles = 2,
        statsCols = Seq("k"), clusterBy = Some("k"))
      assert(Maintenance.readSnapshot(spark, s"$p/empty").count() == 0L)
    }
  }

  // ───── 2. torn-write guard ──────────────────────────────────────────

  test("a row-dropping write is un-committable: SnapshotTornWrite, " +
      "no version published") {
    withStage("r12_torn") { p =>
      val ev = Tables.events(spark, sfDir).select("event_id", "value")
      val e = intercept[SnapshotTornWrite] {
        Maintenance.commitSnapshot(ev, s"$p/t", nFiles = 4,
          _.frame, Nil, None, Some(0L),
          // a fault injection: the shape contract is row-preserving,
          // this one silently drops half the rows — exactly what a
          // shuffle pathology would do
          shape = Some(d => d.filter(col("event_id") % 2 === 0)))
      }
      assert(e.getMessage.contains("torn write"), e.getMessage)
      assert(Maintenance.snapshotVersions(spark, s"$p/t").isEmpty,
        "a torn write must not publish a version")
    }
  }

  // ───── 3. content invariants fire loudly ────────────────────────────

  test("assertSameContent: forced divergence names the stage and carries " +
      "manifest + per-file + env diagnostics") {
    withStage("r12_diverge") { p =>
      val ev = Tables.events(spark, sfDir).select("event_id", "value")
      Maintenance.snapshotWrite(ev, s"$p/t", nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val tampered = ev.filter(col("event_id") =!= 42)
      val e = intercept[Invariants.ContentDivergence] {
        Invariants.assertSameContent("spec/forced-fault", ev, tampered,
          Invariants.snapshotDiagnostics(spark, s"$p/t"))
      }
      val m = e.getMessage
      assert(m.contains("spec/forced-fault"), m.take(300))
      assert(m.contains("bucket"), m.take(300))
      assert(m.contains("head manifest"), m.take(2000))
      assert(m.contains("env: master="), m.takeRight(500))
      assert(m.contains("last zorder layout"), m.takeRight(1000))
    }
  }

  test("a data file tampered behind the manifest's back throws the guard, " +
      "never a silent wrong answer") {
    withStage("r12_tamper") { p =>
      val ev = Tables.events(spark, sfDir).select("event_id", "value")
      Maintenance.snapshotWrite(ev, s"$p/t", nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val files = Maintenance.snapshotManifest(spark, s"$p/t")
        .filter(col("n_rows") > 0).select("file")
        .collect().map(_.getString(0)).sorted
      val victim = new java.io.File(s"$p/t/data/${files.head}")
      // rewrite the victim with its own first half — a durable-layer
      // corruption no commit protocol can prevent, only detect
      val half = spark.read.parquet(victim.getAbsolutePath)
      val keep = half.limit((half.count() / 2).toInt)
      val tmpd = new java.io.File(s"$p/tamper_stage")
      keep.coalesce(1).write.parquet(tmpd.getAbsolutePath)
      val part = new java.io.File(parquetFiles(tmpd.getAbsolutePath).head)
      java.nio.file.Files.copy(part.toPath, victim.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // drop the local FS's checksum sidecar: a checksummed store would
      // catch THIS tamper itself — the guard exists for the corruptions
      // the storage layer can't see
      new java.io.File(victim.getParentFile, s".${victim.getName}.crc")
        .delete(): Unit
      val e = intercept[Invariants.ContentDivergence] {
        Invariants.assertSameContent("spec/tampered-table", ev,
          Maintenance.readSnapshot(spark, s"$p/t"),
          Invariants.snapshotDiagnostics(spark, s"$p/t"))
      }
      assert(e.getMessage.contains("spec/tampered-table"))
      // the per-file readback in the diagnostics exposes the short file
      assert(e.getMessage.contains("actual per-file rows"), e.getMessage)
    }
  }

  // ───── 4. ADVICE fixes ──────────────────────────────────────────────

  test("CREATE TABLE (empty) then MERGE as the fill step — the " +
      "CREATE-then-fill chain accepts MERGE, not only INSERT") {
    import spark.implicits._
    withStage("r12_mergefill") { p =>
      SqlSurface.withCatalog(spark, p) { cat =>
        spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
          "TBLPROPERTIES ('statsCols' = 'k')")
        val view = "r12_mergefill_src"
        Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)).toDF("k", "v")
          .createOrReplaceTempView(view)
        try {
          spark.sql(s"MERGE INTO $cat.t t USING $view s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET v = s.v " +
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
          assert(spark.sql(s"SELECT * FROM $cat.t ORDER BY k").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
            Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
          // second merge exercises the now-nonempty matched path too
          spark.sql(s"MERGE INTO $cat.t t USING $view s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET v = s.v + 1.0")
          assert(spark.sql(s"SELECT * FROM $cat.t ORDER BY k").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
            Seq((1L, 2.5), (2L, 3.5), (3L, 4.5)))
        } finally spark.catalog.dropTempView(view): Unit
      }
    }
  }

  test("z-order with a NULL-heavy column keeps content exact and the " +
      "documented NULL-to-first-bucket contract") {
    import spark.implicits._
    withStage("r12_znull") { p =>
      val rows = (1 to 4000).map { i =>
        (i.toLong, if (i % 2 == 0) null else java.lang.Long.valueOf(i % 97),
          (i % 53).toLong)
      }
      val df = rows.toDF("id", "y", "x")
      Maintenance.snapshotWrite(df, s"$p/t", nFiles = 4,
        statsCols = Seq("x"), clusterBy = Some("x"))
      Maintenance.compactSnapshotZorder(spark, s"$p/t", Seq("x", "y"),
        targetBytes = 8L << 10, bits = 4)
      Invariants.assertSameContent("spec/z-null", df,
        Maintenance.readSnapshot(spark, s"$p/t"),
        Invariants.snapshotDiagnostics(spark, s"$p/t"))
      // the NULL contract: NULL y ranks into y-bucket 0 (per COLUMN —
      // the z value still spreads such rows by their x bucket), and the
      // percentile state excludes NULLs, so a range read on y remains
      // exact over the NULL-heavy layout (NULL stats prune correctly:
      // a range predicate never selects NULL rows)
      val got = Maintenance.readSnapshotRange(spark, s"$p/t", "y", 10L, 40L)
        .agg(count(lit(1)), sum("id")).head()
      val want = df.filter(col("y").between(10, 40))
        .agg(count(lit(1)), sum("id")).head()
      assert(got == want, s"y-range read over NULL-heavy z layout: " +
        s"got $got want $want")
    }
  }

  // ───── 5. SELECT * EXCEPT ───────────────────────────────────────────

  test("SELECT * EXCEPT(...) — the reference's column-exclusion " +
      "projection parses natively") {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("r12_li")
    try {
      val out = spark.sql("SELECT * EXCEPT (l_tax, l_shipdate) FROM r12_li")
      val expect = Tables.lineitem(spark, sfDir)
        .drop("l_tax", "l_shipdate").columns.toSeq
      assert(out.columns.toSeq == expect)
    } finally spark.catalog.dropTempView("r12_li"): Unit
  }
}
