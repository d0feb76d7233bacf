package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Round-9 guarantees: the coded-corpus ANN lifecycle — ingest-side
  * encode into a per-cluster partitioned layout, the daily append
  * increment, and a serve path that never touches the corpus
  * embeddings. */
class Round9Spec extends SparkSpec {

  /** Train the gate-shaped index (k=8 IVF / M=8×K=4 PQ, id-sliced
    * init) on `emb` and persist it under `path`. */
  private def buildIndex(path: String,
      emb: org.apache.spark.sql.DataFrame): Similarity.IvfPqIndex = {
    val first8 = Similarity.firstVectors(emb, 8)
    val trained = Similarity.IvfPqIndex(
      Similarity.trainIvf(emb, k = 8, iters = 2, Some(first8.map(_._2))),
      Similarity.trainPq(emb, M = 8, dsub = 8, K = 4,
        Some(first8.filter(_._1 < 4).map(_._2))))
    Similarity.writeIvfPqIndex(spark, path, trained)
    Similarity.readIvfPqIndex(spark, path)
  }

  test("coded-corpus serve scans only index artifacts and retrieves planted twins") {
    val stage = java.nio.file.Files.createTempDirectory("graft_coded_").toFile
    try {
      val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      val index = buildIndex(stage.getAbsolutePath, base)
      Similarity.writeCodedCorpus(spark, stage.getAbsolutePath, index, base)
      // queries are exact twins of every 10th corpus vector, supplied as
      // a LOCAL frame: the serve plan's only file scans must then be the
      // index artifacts — the corpus embeddings are structurally
      // unavailable to it (searchCoded takes no corpus argument)
      val twinRows = base.filter(col("vec_id") % 10 === 0).collect()
        .map(r => Row(r.getLong(0) + 1000000L, r.get(1)))
      assert(twinRows.nonEmpty)
      val twins = spark.createDataFrame(
        spark.sparkContext.parallelize(twinRows.toIndexedSeq), base.schema)
      val served = Similarity.searchCoded(spark, stage.getAbsolutePath, twins)
      val scans = served.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq(r.relation.toString)
          }
      }.flatten
      assert(scans.nonEmpty)
      assert(scans.forall(_.contains(stage.getName)),
        s"serve plan scans files outside the index: $scans")
      // the coded table is partitioned by cluster, so `cluster` must be
      // a PARTITION column of its relation — the layout under which a
      // 2-of-k probe reads 2/k of a 100 TB corpus's files (logical
      // plan, not executedPlan: AQE hides the physical scans behind an
      // AdaptiveSparkPlanExec leaf)
      val codedParts = served.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation
      }.collect {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
            if fs.location.rootPaths.exists(_.toString.endsWith("/coded")) =>
          fs.partitionSchema.fieldNames.toSeq
      }.flatten
      assert(codedParts.contains("cluster"),
        s"coded table is not partitioned by cluster: $codedParts")
      // exact-twin recall 1.0: each twin shares its original's cluster
      // and codes, so the original must rank in its top-3
      val byQ = served.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1)
      twinRows.foreach { tr =>
        val q = tr.getLong(0)
        val top = byQ.getOrElse(q, Array.empty).map(_._2).toSet
        assert(top.contains(q - 1000000L), s"twin $q missed its original: $top")
      }
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  test("appendCodedCorpus makes a new batch searchable without rewriting the corpus") {
    val stage = java.nio.file.Files.createTempDirectory("graft_coded_app_").toFile
    try {
      val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      val index = buildIndex(stage.getAbsolutePath, base)
      // day 0: the corpus WITHOUT the %10 slice; its twins find nothing
      Similarity.writeCodedCorpus(spark, stage.getAbsolutePath, index,
        base.filter(col("vec_id") % 10 =!= 0))
      val files0 = parquetFiles(s"${stage.getPath}/coded")
      val twinRows = base.filter(col("vec_id") % 10 === 0).collect()
        .map(r => Row(r.getLong(0) + 1000000L, r.get(1)))
      val twins = spark.createDataFrame(
        spark.sparkContext.parallelize(twinRows.toIndexedSeq), base.schema)
      def hits(): Map[Long, Set[Long]] =
        Similarity.searchCoded(spark, stage.getAbsolutePath, twins)
          .collect().map(r => (r.getLong(0), r.getLong(2)))
          .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
      val before = hits()
      twinRows.foreach { tr =>
        val q = tr.getLong(0)
        assert(!before.getOrElse(q, Set.empty).contains(q - 1000000L),
          s"original of $q visible before its batch was appended")
      }
      // day 1: append ONLY the missing slice — O(batch), frozen artifacts
      Similarity.appendCodedCorpus(spark, stage.getAbsolutePath, index,
        base.filter(col("vec_id") % 10 === 0))
      val after = hits()
      twinRows.foreach { tr =>
        val q = tr.getLong(0)
        assert(after.getOrElse(q, Set.empty).contains(q - 1000000L),
          s"twin $q missed its appended original: ${after.get(q)}")
      }
      // append, not rewrite: every day-0 file is still on disk
      val files1 = parquetFiles(s"${stage.getPath}/coded")
      assert(files0.subsetOf(files1),
        s"append rewrote day-0 files: ${files0 -- files1}")
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  /** Data files the plan will actually read (explicit file-list reads
    * surface each file as a root path). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles.toSeq
          case _ => Seq.empty
        }
    }.flatten

  test("prunedRead is exact and reads a strict subset of the skip-indexed files") {
    import operators.Maintenance
    val stage = java.nio.file.Files.createTempDirectory("graft_skipidx_").toFile
    try {
      val ev = Tables.events(spark, sfDir)
      Maintenance.writeSkipIndexed(ev, stage.getAbsolutePath,
        statsCols = Seq("event_id", "user_id"), nFiles = 16, clusterBy = "event_id")
      val nData = parquetFiles(s"${stage.getPath}/data").size
      assert(nData == 16, s"expected 16 staged files, got $nData")
      val pruned = Maintenance.prunedRead(spark, stage.getAbsolutePath,
        "event_id", 100L, 299L)
      // cost: the 200-id range lives in a prefix of the event_id-ranged
      // layout — most files never enter the scan
      val scanned = scannedFiles(pruned)
      assert(scanned.nonEmpty && scanned.size < nData,
        s"no file-level pruning: ${scanned.size} of $nData files scanned")
      // exactness: identical to the unpruned filter over the same data
      val expected = Maintenance.readSnapshot(spark, stage.getAbsolutePath)
        .filter(col("event_id").between(100, 299))
        .collect().map(_.toString).sorted.toSeq
      val got = pruned.collect().map(_.toString).sorted.toSeq
      assert(got == expected)
      // a range beyond every file's stats scans nothing and returns none
      val empty = Maintenance.prunedRead(spark, stage.getAbsolutePath,
        "event_id", 1000000000L, 2000000000L)
      assert(empty.count() == 0L)
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  test("z-order layout prunes on BOTH columns; single-key layout only on its sort key") {
    import operators.Maintenance
    val stage = java.nio.file.Files.createTempDirectory("graft_zorder_").toFile
    try {
      // the full 64×64 key plane, one row per cell — locality is then a
      // pure property of the layout, not the data distribution
      val grid = spark.range(64L * 64L)
        .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
      Maintenance.writeZordered(grid, s"${stage.getAbsolutePath}/z",
        "x", "y", bits = 6, nFiles = 16)
      Maintenance.writeSkipIndexed(grid, s"${stage.getAbsolutePath}/linear",
        statsCols = Seq("x", "y"), nFiles = 16, clusterBy = "x")
      // y-only range predicate: an eighth of the plane
      def overlapping(path: String): Int =
        Maintenance.snapshotManifest(spark, path)
          .filter(col("min_y") <= 7 && col("max_y") >= 0)
          .count().toInt
      val zFiles = overlapping(s"${stage.getAbsolutePath}/z")
      val linFiles = overlapping(s"${stage.getAbsolutePath}/linear")
      // x-sorted files each span every y value — nothing prunable
      assert(linFiles == 16, s"x-clustered layout unexpectedly pruned y: $linFiles")
      // z-order: y<=7 is the bottom 1/8 band; its cells live in at most
      // half the z range, so at least half the 16 files prune away
      assert(zFiles <= 8, s"z layout pruned too little on y: $zFiles of 16")
      // and both layouts answer the query exactly
      for (p <- Seq("z", "linear")) {
        val n = Maintenance.prunedRead(spark, s"${stage.getAbsolutePath}/$p",
          "y", 0L, 7L).count()
        assert(n == 64L * 8L, s"layout $p: expected 512 rows, got $n")
      }
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  test("nfc_norm kernel: compose, strip, collapse, trim — edge cases, via the SQL surface") {
    import spark.implicits._
    val cases = Seq(
      ("e\u0301", "\u00e9"), // combining acute composes under NFC
      ("", ""),
      ("   \t\n ", ""), // all-whitespace trims to empty
      ("\u0001\u0002", ""), // control-only strips to empty
      ("a\u0000b", "ab"), // control mid-word: stripped, NO space inserted
      ("a \u0001 b", "a b"), // control inside a whitespace run
      ("a\u00a0b", "a\u00a0b"), // NBSP is pass-through, NOT whitespace (the RE2 \\s contract)
      ("x  \t y", "x y"), // runs collapse to one space
      ("\ud834\udd1e  clef", "\ud834\udd1e clef"), // non-BMP survives the codepoint walk
    )
    val got = cases.map(_._1).toDF("s")
      .selectExpr("nfc_norm(s) AS n").as[String].collect().toSeq
    assert(got == cases.map(_._2),
      got.zip(cases).filter { case (g, (_, e)) => g != e }.toString)
  }

  test("df-cut ngram: boilerplate-only overlap scores zero; planted twins survive") {
    import spark.implicits._
    // 60 docs, cut = max(2, 60/50) = 2. Every doc ends with the same
    // 7-token boilerplate (df = 60 — cut); doc i and doc i+30 share a
    // unique 5-token prefix (df = 2 — kept), i+30 with one extra token.
    val uniq = (0 until 30).map(i => s"alpha$i beta$i gamma$i delta$i epsilon$i")
    val boiler = "terms of service apply to all users"
    val docs = ((0 until 30).map(i => (i.toLong, s"${uniq(i)} $boiler")) ++
      (0 until 30).map(i => ((i + 30).toLong, s"${uniq(i)} zeta$i $boiler")))
      .toDF("doc_id", "text")
    val pairs = operators.Dedup.ngramDfcutPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // rare sets: prefix bigrams (4 shared) + the df=1 seam bigrams →
    // jaccard 4/7 per twin; any non-twin pair overlaps ONLY in cut
    // boilerplate and must not even become a candidate
    assert(pairs.length == 30, s"expected the 30 planted twins, got ${pairs.length}")
    pairs.foreach { case (a, b) =>
      assert(b - a == 30, s"non-twin pair ($a, $b) survived the df cut")
    }
  }

  test("snapshots: append rewrites nothing, crash is invisible, vacuum GCs exactly the dead files") {
    import operators.Maintenance._
    withStage("graft_snap_") { p =>
      val ev = Tables.events(spark, sfDir)
      val even = ev.filter(col("event_id") % 2 === 0)
      val v1 = snapshotWrite(even, p, nFiles = 3)
      assert(v1 == 1L)
      val filesAfterV1 = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      val v2 = snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 3)
      assert(v2 == 2L)
      // append-not-rewrite: every v1 data file survives byte-for-byte
      // (same path, mtime, size) — the O(batch) commit claim
      val after = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      assert(filesAfterV1.subsetOf(after), "append rewrote a v1 data file")
      // time travel: v1 still answers the pre-append table exactly
      assert(readSnapshot(spark, p, Some(1L)).count() == even.count())
      assert(readSnapshot(spark, p).count() == ev.count())

      // crashed commit = data files landed, manifest rename never
      // happened: simulate by writing a batch dir with no version
      val orphan = new java.io.File(p, "data/bcrashed0000")
      even.limit(10).write.mode("overwrite").parquet(orphan.getAbsolutePath)
      assert(snapshotVersions(spark, p) == Seq(1L, 2L),
        "a crashed commit must not surface as a version")
      assert(readSnapshot(spark, p).count() == ev.count(),
        "orphan files leaked into the latest snapshot")

      // vacuum keep=1: v1's manifest goes; since v2 carries v1's files
      // forward, the only DEAD data files are the orphan batch's
      val orphanFiles = parquetFiles(orphan.getPath)
      assert(orphanFiles.nonEmpty)
      // grace window: a vacuum racing an in-flight commit must not GC
      // its just-written (manifest-less) files — everything here is
      // seconds old, so a 1h grace deletes nothing
      val (e0, r0) = vacuumSnapshots(spark, p, keep = 1, graceMs = 3600000L)
      assert(e0 == 1L && r0 == 0L,
        s"grace window violated: removed $r0 young files")
      // re-list versions: the graced vacuum already expired v1
      assert(snapshotVersions(spark, p) == Seq(2L))
      val (expired, removed) = vacuumSnapshots(spark, p, keep = 1)
      assert(expired == 0L, s"v1 was already expired by the graced pass, got $expired")
      assert(removed == orphanFiles.size.toLong,
        s"expected to GC the ${orphanFiles.size} orphan files, got $removed")
      assert(snapshotVersions(spark, p) == Seq(2L))
      assert(readSnapshot(spark, p).count() == ev.count(),
        "vacuum touched a live file")
      // replace: v3 sees only its own batch; the v2 files become
      // vacuum-able history
      val v3 = snapshotReplace(even.limit(100), p, nFiles = 2)
      assert(v3 == 3L)
      assert(readSnapshot(spark, p).count() == 100L)
      assert(readSnapshot(spark, p, Some(2L)).count() == ev.count(),
        "replace must leave the prior version readable")
      val (e2, r2) = vacuumSnapshots(spark, p, keep = 1)
      assert(e2 == 1L && r2 > 0L, s"replace history not GC'd: ($e2, $r2)")
      assert(readSnapshot(spark, p).count() == 100L)
    }
  }

  test("snapshot range read prunes files from the queried version's own manifest") {
    import operators.Maintenance._
    withStage("graft_snapr_") { p =>
      val ev = Tables.events(spark, sfDir)
      val even = ev.filter(col("event_id") % 2 === 0)
      snapshotWrite(even, p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.select(input_file_name()).distinct().collect()
          .map(_.getString(0)).toSet
      // a 100-id range over v2 must scan a strict subset of the 16
      // clustered files and answer exactly the plain filter
      val pruned = readSnapshotRange(spark, p, "event_id", 100L, 199L)
      val expect = ev.filter(col("event_id").between(100L, 199L)).count()
      assert(pruned.count() == expect)
      val all = parquetFiles(s"$p/data")
      assert(scannedFiles(pruned).size < all.size,
        s"range read scanned all ${all.size} files — no pruning happened")
      // historic version: same range over v1 sees only the even ids,
      // pruned from v1's OWN (immutable) manifest
      val v1r = readSnapshotRange(spark, p, "event_id", 100L, 199L, Some(1L))
      assert(v1r.count() ==
        even.filter(col("event_id").between(100L, 199L)).count())
      assert(scannedFiles(v1r).size < 8, "v1 range read did not prune")
      // empty range: zero files planned, schema intact
      val none = readSnapshotRange(spark, p, "event_id", -500L, -1L)
      assert(none.count() == 0L)
      assert(none.schema == pruned.schema)
    }
  }

  test("corpus pipeline plan: the crawl union and the digest aggregation appear exactly once") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
    // the naive crawl-side semi-join let the optimizer push the join
    // through the union and compute the digest shuffle TWICE; the
    // documents-probe formulation makes that impossible — pin it
    val plan = operators.TextAnalysis.corpusPipeline(spark, sfDir)
      .queryExecution.optimizedPlan
    val unions = plan.collect { case u: Union => u }
    assert(unions.size == 1, s"expected ONE crawl union, got ${unions.size}")
    // exactly three logical aggregations: digest keep, raw rollup,
    // survivor funnel (the optimizer may alias md5 into a Project, so
    // count nodes, not expression text); the doubled-digest plan had 4
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size == 3, s"expected 3 aggregations, got ${aggs.size}")
  }

  test("snapshot sink: re-delivered batch ids are skipped before any write; empty batches commit nothing") {
    import operators.Maintenance._
    import spark.implicits._
    withStage("graft_snapsink_") { p =>
      def batch(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("k", "v")
      snapshotSinkBatch(batch(1, 2), p, id = 0)
      snapshotSinkBatch(batch(3, 4), p, id = 1)
      assert(snapshotVersions(spark, p) == Seq(1L, 2L))
      val before = parquetFiles(s"$p/data")
      // at-least-once replay: the SAME id arrives again with different
      // content (a nondeterministic upstream recomputation) — the sink
      // must skip it entirely, leaving the table byte-identical
      snapshotSinkBatch(batch(99), p, id = 1)
      assert(snapshotVersions(spark, p) == Seq(1L, 2L), "replayed id committed")
      assert(parquetFiles(s"$p/data") == before,
        "replayed id wrote data files")
      // empty batch: no version churn
      snapshotSinkBatch(batch().toDF("k", "v"), p, id = 2)
      assert(snapshotVersions(spark, p) == Seq(1L, 2L))
      snapshotSinkBatch(batch(5), p, id = 3)
      assert(readSnapshot(spark, p).select("k").as[Long].collect().sorted
        .sameElements(Array(1L, 2L, 3L, 4L, 5L)))
      // time travel over the ingest history
      assert(readSnapshot(spark, p, Some(1L)).count() == 2L)
      assert(committedBatchIds(spark, p) == Set(0L, 1L, 3L))
    }
  }

  test("streaming snapshot sink survives a stop/restart without duplicating a batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import operators.Maintenance._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val events = (0 until 600).map { i =>
      streaming.Event(i.toLong, ts(i.toLong), i % 5L,
        if (i % 2 == 0) "click" else "view", (i % 13).toDouble)
    }
    val sentinel = streaming.Event(9999L, ts(100000L), 0L, "sentinel", 0.0)
    withStage("graft_snapsink2_") { dir =>
      val root = new java.io.File(dir)
      // interrupted run: stop mid-stream, restart from the checkpoint
      val (tbl, cp) = (new java.io.File(root, "tbl"), new java.io.File(root, "cp"))
      val in1 = MemoryStream[streaming.Event]
      def start1() = streaming.EventStream.snapshotSink(
        streaming.EventStream.tumblingCounts(in1.toDF()),
        tbl.getAbsolutePath, cp.getAbsolutePath)
      val q1 = start1()
      in1.addData(events.take(200)); q1.processAllAvailable()
      in1.addData(events.slice(200, 400)); q1.processAllAvailable()
      q1.stop()
      val q2 = start1()
      in1.addData(events.drop(400))
      in1.addData(sentinel)
      q2.processAllAvailable(); q2.stop()
      // uninterrupted twin
      val (tbl2, cp2) = (new java.io.File(root, "tbl2"), new java.io.File(root, "cp2"))
      val in2 = MemoryStream[streaming.Event]
      val q3 = streaming.EventStream.snapshotSink(
        streaming.EventStream.tumblingCounts(in2.toDF()),
        tbl2.getAbsolutePath, cp2.getAbsolutePath)
      in2.addData(events); in2.addData(sentinel)
      q3.processAllAvailable(); q3.stop()
      val a = readSnapshot(spark, tbl.getAbsolutePath)
        .select("window_start", "event_type", "n", "sum_value")
        .collect().map(_.toString).sorted
      val b = readSnapshot(spark, tbl2.getAbsolutePath)
        .select("window_start", "event_type", "n", "sum_value")
        .collect().map(_.toString).sorted
      assert(a.nonEmpty && a.sameElements(b),
        s"restarted sink diverged: ${a.length} vs ${b.length} rows")
      // every committed batch id is distinct (no replay landed twice)
      val ids = committedBatchIds(spark, tbl.getAbsolutePath)
      assert(ids.size == snapshotVersions(spark, tbl.getAbsolutePath).size,
        "a version landed without a fresh batch id")
    }
  }

  test("compaction is a replace version: reads equal, history intact, replay-skip survives") {
    import operators.Maintenance._
    import spark.implicits._
    withStage("graft_snapc_") { p =>
      def batch(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"v$i")).toDF("k", "v")
      (0L to 3L).foreach(id => snapshotSinkBatch(batch(id * 10, id * 10 + 9), p, id))
      assert(snapshotVersions(spark, p).size == 4)
      val beforeRows = readSnapshot(spark, p).select("k").as[Long].collect().sorted
      val beforeFiles = parquetFiles(s"$p/data").size
      val v5 = compactSnapshot(spark, p, targetBytes = 1L << 30)
      assert(v5 == 5L)
      // head reads identically from fewer files; history is untouched
      val afterRows = readSnapshot(spark, p).select("k").as[Long].collect().sorted
      assert(afterRows.sameElements(beforeRows))
      val headFiles = manifestOf_(spark, p, 5L)
      assert(headFiles == 1L,
        s"compaction left $headFiles files (was $beforeFiles across batches)")
      assert(readSnapshot(spark, p, Some(2L)).count() == 20L)
      // the replay-skip watermark survives the provenance collapse: a
      // re-delivered pre-compaction batch must still be skipped...
      snapshotSinkBatch(batch(999, 999), p, id = 3)
      assert(snapshotVersions(spark, p).size == 5, "replayed id landed post-compaction")
      // ...while the stream continues normally with the next id
      snapshotSinkBatch(batch(40, 49), p, id = 4)
      assert(readSnapshot(spark, p).count() == 50L)
      // vacuum reclaims the pre-compaction generations; head unaffected
      val (expired, removed) = vacuumSnapshots(spark, p, keep = 1)
      assert(expired == 5L && removed > 0L)
      assert(readSnapshot(spark, p).count() == 50L)
    }
  }

  // file count of a version, via its manifest
  private def manifestOf_(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Long): Long =
    spark.read.parquet(f"$path/versions/v$v%05d").count()

  test("snapshot append with an added column: old files read NULL, old versions unchanged") {
    import operators.Maintenance._
    withStage("graft_snapev_") { p =>
      val docs = Tables.documents(spark, sfDir).select("doc_id", "source")
      val half = docs.filter(col("doc_id") % 2 === 0)
      snapshotWrite(half, p, nFiles = 2)
      // the appended batch carries an ADDED column — the one evolution a
      // file-immutable table supports without rewriting history
      snapshotAppend(docs.filter(col("doc_id") % 2 === 1)
        .withColumn("lang_conf", (col("doc_id") % 100).cast("double") / 100),
        p, nFiles = 2)
      val merged = readSnapshot(spark, p, mergeSchema = true)
      assert(merged.columns.toSet == Set("doc_id", "source", "lang_conf"))
      assert(merged.count() == docs.count())
      // v1 rows surface NULL for the added column; v2 rows carry it
      assert(merged.filter(col("doc_id") % 2 === 0)
        .filter(col("lang_conf").isNotNull).count() == 0L)
      assert(merged.filter(col("doc_id") % 2 === 1)
        .filter(col("lang_conf").isNull).count() == 0L)
      // time travel is unaffected by the evolution: v1 still reads its
      // own (narrower) schema
      val v1 = readSnapshot(spark, p, Some(1L))
      assert(v1.columns.toSet == Set("doc_id", "source"))
      assert(v1.count() == half.count())
    }
  }
}
