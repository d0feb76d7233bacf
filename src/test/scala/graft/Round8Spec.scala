package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{DailyPipeline, Similarity}

/** Round-8 guarantees: streaming state recovery across a restart (the
  * first thing a production stream does after a deploy), the ANN
  * train-once/serve-many artifact path, daily-pipeline idempotence, and
  * the SQL-surface size-literal validation. */
class Round8Spec extends SparkSpec {

  test("stateful sessionize resumes from its checkpoint identically after a restart (RocksDB)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // users 1-3: one event every 10 min from minute 0 to 200 — a single
    // session each, OPEN across the stop point (minute ~100), provable
    // only if the state store recovers; user 4: two sessions split by a
    // 145-min gap that also straddles the restart
    val all = (for {
      u <- 1 to 3; m <- 0 to 200 by 10
    } yield streaming.Event(u * 1000L + m, ts(m.toLong), u.toLong, "click", m * 0.5)) ++
      Seq(0L, 5L, 150L, 155L).map(m =>
        streaming.Event(4000L + m, ts(m), 4L, "view", 1.0))
    val ordered = all.sortBy(e => (e.ts.getTime, e.event_id))
    val (pre, post) = ordered.partition(_.ts.getTime <= ts(100).getTime)
    val sentinel = streaming.Event(-1L, ts(100000L), -1L, "sentinel", 0.0)
    val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

    withStage("graft_restart_") { root => CacheScope.withConf(spark, rocksDb) {
      val input = MemoryStream[streaming.Event]
      def start() = streaming.EventStream.exactlyOnceParquetSink(
        streaming.EventStream.sessionize(input.toDS()).toDF(), s"$root/out", s"$root/cp")
      val q1 = start()
      val (pre1, pre2) = pre.splitAt(pre.size / 2)
      input.addData(pre1); q1.processAllAvailable()
      input.addData(pre2); q1.processAllAvailable()
      q1.stop() // deploy: kill the query, keep checkpoint + state store
      val q2 = start() // resumes offsets AND flatMapGroupsWithState state
      input.addData(post); q2.processAllAvailable()
      input.addData(Seq(sentinel)); q2.processAllAvailable()
      q2.stop()
      val landed = spark.read.parquet(s"$root/out")
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet

      // the uninterrupted twin: same chunks, one query lifetime
      val input2 = MemoryStream[streaming.Event]
      val q3 = streaming.EventStream.sessionize(input2.toDS()).toDF()
        .writeStream.format("memory").queryName("r8_sess_ref")
        .outputMode("append").start()
      Seq(pre1, pre2, post, Seq(sentinel)).foreach { c =>
        input2.addData(c); q3.processAllAvailable()
      }
      q3.stop()
      val ref = spark.table("r8_sess_ref")
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet

      assert(landed === ref, "restarted run must equal the uninterrupted run")
      // the load-bearing recovery evidence: sessions OPEN at the stop
      // point were continued, not restarted — one 21-event session per
      // user 1-3 spanning minute 100
      (1 to 3).foreach { u =>
        val s = landed.filter(_._1 == u.toLong)
        assert(s.size === 1, s"user $u must have ONE session, got ${s.size}")
        assert(s.head._2 == ts(0).getTime && s.head._3 == ts(200).getTime &&
          s.head._4 == 21L, s"user $u session must span the restart: ${s.head}")
      }
      assert(landed.count(_._1 == 4L) === 2, "user 4's gap still splits sessions")
    }}
  }

  test("cumulative msprt monitor resumes from its checkpoint after a restart") {
    // the worse failure mode than sessionize: a silently RESET
    // cumulative state would still produce plausible-looking readouts —
    // only the cross-boundary cumulative counts expose it
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dayMs = 86400000L
    def ts(day: Int, hour: Int) =
      new java.sql.Timestamp(1704067200000L + day * dayMs + hour * 3600000L) // 2024-01-01 +
    val all = (for {
      day <- 0 until 5; hour <- 0 until 24 by 2; u <- 1 to 4
      tpe <- Seq("click", "view")
    } yield streaming.Event((day * 100000 + hour * 100 + u).toLong +
        (if (tpe == "click") 0L else 50L),
      ts(day, hour), u.toLong, tpe, (day * 7 + hour + u) % 13 + 1.0))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (pre, post) = all.partition(_.ts.getTime < ts(2, 12).getTime)
    val sentinel = streaming.Event(-1L, ts(60, 0), -1L, "sentinel", 0.0)

    val root = java.nio.file.Files.createTempDirectory("graft_msprt_restart_").toFile
    val (out, cp) = (new java.io.File(root, "out"), new java.io.File(root, "cp"))
    try {
      val input = MemoryStream[streaming.Event]
      def start() = streaming.EventStream.exactlyOnceParquetSink(
        streaming.EventStream.msprtMonitor(input.toDS()).toDF(),
        out.getAbsolutePath, cp.getAbsolutePath)
      val q1 = start()
      input.addData(pre); q1.processAllAvailable()
      q1.stop() // watermark has finalized day 0..1; cum state covers them
      val q2 = start()
      input.addData(post); q2.processAllAvailable()
      input.addData(Seq(sentinel)); q2.processAllAvailable()
      q2.stop()
      val landed = spark.read.parquet(out.getAbsolutePath)
        .select("event_type", "day", "n1", "n2", "s1_micro", "s2_micro")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet

      val input2 = MemoryStream[streaming.Event]
      val q3 = streaming.EventStream.msprtMonitor(input2.toDS()).toDF()
        .writeStream.format("memory").queryName("r8_msprt_ref")
        .outputMode("append").start()
      Seq(pre, post, Seq(sentinel)).foreach { c => input2.addData(c); q3.processAllAvailable() }
      q3.stop()
      val ref = spark.table("r8_msprt_ref")
        .select("event_type", "day", "n1", "n2", "s1_micro", "s2_micro")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(landed === ref, "restarted cumulative readouts must equal the uninterrupted run")
      // cross-boundary evidence: a post-restart day's cumulative count
      // includes the pre-restart days (state recovered, not reset)
      val day3 = landed.filter(t => t._1 == "click" && t._2 == ts(3, 0).getTime)
      assert(day3.size === 1)
      // 12 two-hour ticks x 4 users per type per day, 4 days cumulative
      assert(day3.head._3 + day3.head._4 === 4L * 12 * 4,
        s"day-3 cumulative n must cover days 0..3: ${day3.head}")
    } finally rm(root)
  }

  test("ANN serve path: artifacts round-trip parquet and the serve plan builds with zero jobs") {
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val trained = Similarity.IvfPqIndex(
      Similarity.trainIvf(emb, k = 8, iters = 2),
      Similarity.trainPq(emb, M = 8, dsub = 8, K = 4))
    withStage("graft_ann_idx_") { dir =>
      Similarity.writeIvfPqIndex(spark, dir, trained)
      val loaded = Similarity.readIvfPqIndex(spark, dir)
      // doubles round-trip parquet bit-exactly
      assert(loaded.centroids.map(_.toSeq).toSeq === trained.centroids.map(_.toSeq).toSeq)
      assert(loaded.codebook.map(_.map(_.toSeq).toSeq).toSeq ===
        trained.codebook.map(_.map(_.toSeq).toSeq).toSeq)

      // the serve audit: with artifacts in hand, BUILDING the search
      // plan must launch zero Spark jobs (no Lloyd rounds, no collect —
      // everything is broadcast literals over a lazy scan)
      val (served, jobs) = jobsDuring(Similarity.ivfPqSearchWith(loaded, emb, col("vec_id") < 10))
      assert(jobs === 0, s"serve-plan build launched $jobs jobs — it must train nothing")

      // serving from reloaded artifacts ≡ the composed train+search query
      val composed = Similarity.ivfPqSearch(emb, col("vec_id") < 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      val viaArtifacts = served
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(viaArtifacts === composed)
      assert(viaArtifacts.nonEmpty)
    }
  }

  test("daily pipeline: re-running a day leaves the results table unchanged") {
    withStage("graft_daily_spec_") { dir =>
      val days = Seq("2024-01-10", "2024-01-11", "2024-01-12")
        .map(java.time.LocalDate.parse)
      days.foreach(d => DailyPipeline.landDay(spark, sfDir, dir, d))
      def snapshot() = DailyPipeline.resultsTable(spark, dir)
        .collect().map(_.toSeq).toSet
      val before = snapshot()
      assert(before.nonEmpty)
      DailyPipeline.landDay(spark, sfDir, dir,
        java.time.LocalDate.parse("2024-01-11"))
      assert(snapshot() === before, "day re-run must be a byte-identical replace")
    }
  }

  test("bucket-grouped candidate generation equals the band self-join on random band tables") {
    import spark.implicits._
    val rnd = new scala.util.Random(8008)
    (1 to 3).foreach { trial =>
      // random band table: skewed bucket sizes (geometric-ish), some
      // singleton buckets, duplicate (doc, bucket) memberships possible
      val rows = (0 until 400).map { i =>
        val doc = rnd.nextInt(120).toLong
        (doc, doc % 7 + 1, rnd.nextInt(60).toLong) // (doc_id, sz, bucket)
      }.distinct
      val bands = rows.toDF("doc_id", "sz", "bucket")
      val grouped = operators.Dedup.bandCandidates(bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val joined = bands.as("a").join(bands.as("b"),
          $"a.bucket" === $"b.bucket" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"a.sz", $"b.doc_id", $"b.sz").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(grouped === joined, s"trial $trial")
      assert(grouped.nonEmpty, s"trial $trial degenerate")
    }
  }

  test("minhash index serves incremental dedup without the historical text") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_mh_idx_").toFile
    try {
      // history exists only as this in-memory frame: dedupAgainstIndex
      // takes (indexPath, newDocs) alone, so the serve path structurally
      // CANNOT recompute historical sketches — everything it knows about
      // history is the persisted bands/shingles artifacts
      val hist = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six")).toDF("doc_id", "text")
      operators.Dedup.writeMinhashIndex(spark, stage.getAbsolutePath, hist)
      val fresh = Seq(
        (100L, "alpha beta gamma delta epsilon"), // exact dup of doc 1
        (101L, "zig zag zip zap zoom")).toDF("doc_id", "text")
      val served = operators.Dedup.dedupAgainstIndex(spark, stage.getAbsolutePath, fresh)
      // plan audit: every file scan in the serve plan reads the index
      // artifacts — history enters the plan ONLY through them (the new
      // docs are a LocalTableScan here, so any other file scan would be
      // a recompute leak)
      // (logical plan, not executedPlan: AQE wraps the physical tree in
      // an AdaptiveSparkPlanExec leaf that TreeNode.collect cannot
      // descend into)
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
      val out = served
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(out.toSeq === Seq((100L, 1L, 1.0)))
      // close the daily loop: append the clean survivor to the index —
      // tomorrow's shard must now see it as history
      operators.Dedup.appendToMinhashIndex(spark, stage.getAbsolutePath,
        fresh.filter($"doc_id" === 101L), batchId = 1L)
      val out2 = operators.Dedup.dedupAgainstIndex(spark, stage.getAbsolutePath,
        Seq((200L, "zig zag zip zap zoom")).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(out2.toSeq === Seq((200L, 1L, 1.0)))
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  test("a crashed index append is invisible to serves and recovers by re-running the batch") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_mh_crash_").toFile
    try {
      // doc 9 has one token → zero shingles → legitimately never banded
      val hist = Seq((1L, "alpha beta gamma delta epsilon"), (9L, "solo"))
        .toDF("doc_id", "text")
      operators.Dedup.writeMinhashIndex(spark, stage.getAbsolutePath, hist)
      // simulate a writer crashing between its two table commits:
      // batch 1's shingles committed, its bands did not — replay the
      // append's FIRST half exactly as appendToMinhashIndex performs it
      val day1 = Seq((2L, "one two three four five six")).toDF("doc_id", "text")
      operators.Maintenance.snapshotSinkBatch(
        day1.select($"doc_id",
          graft.functions.HashFunctions.shingleHashes(split($"text", " ")).as("shs")),
        s"${stage.getAbsolutePath}/shingles", id = 1L)
      // the half-appended day is INVISIBLE: serves cut both tables at
      // the bands watermark, so neither candidates nor shingles of
      // batch 1 enter the plan
      val dup = Seq((200L, "one two three four five six")).toDF("doc_id", "text")
      val before = operators.Dedup.dedupAgainstIndex(spark, stage.getAbsolutePath, dup)
        .collect()
      CacheScope.releaseAll()
      assert(before.isEmpty, "a half-appended batch leaked into a serve")
      // recovery is re-running the SAME append: the shingle commit
      // skips itself by batch id (no doubled rows), the band commit
      // derives from the shingle table's own batch-1 files and lands
      operators.Dedup.appendToMinhashIndex(spark, stage.getAbsolutePath,
        day1, batchId = 1L)
      val shingleRows = operators.Maintenance.readSnapshot(
        spark, s"${stage.getAbsolutePath}/shingles")
        .filter($"doc_id" === 2L).count()
      assert(shingleRows == 1L, s"re-run doubled the shingle rows: $shingleRows")
      val after = operators.Dedup.dedupAgainstIndex(spark, stage.getAbsolutePath, dup)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(after.toSeq === Seq((200L, 1L, 1.0)))
      // a full re-delivery of the whole batch is also a no-op
      CacheScope.releaseAll()
      val versionsBefore =
        (operators.Maintenance.snapshotVersions(spark, s"${stage.getAbsolutePath}/shingles"),
          operators.Maintenance.snapshotVersions(spark, s"${stage.getAbsolutePath}/bands"))
      operators.Dedup.appendToMinhashIndex(spark, stage.getAbsolutePath,
        day1, batchId = 1L)
      assert(versionsBefore ==
        (operators.Maintenance.snapshotVersions(spark, s"${stage.getAbsolutePath}/shingles"),
          operators.Maintenance.snapshotVersions(spark, s"${stage.getAbsolutePath}/bands")),
        "a re-delivered batch id committed new versions")
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  test("a later append heals an earlier crashed batch before landing") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_mh_heal_").toFile
    try {
      operators.Dedup.writeMinhashIndex(spark, stage.getAbsolutePath,
        Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"))
      // day 1 crashes between its two commits: shingles landed, bands not
      val day1 = Seq((2L, "one two three four five six")).toDF("doc_id", "text")
      operators.Maintenance.snapshotSinkBatch(
        day1.select($"doc_id",
          graft.functions.HashFunctions.shingleHashes(split($"text", " ")).as("shs")),
        s"${stage.getAbsolutePath}/shingles", id = 1L)
      // the orchestrator moves on to day 2 WITHOUT re-running day 1 —
      // the append must complete day 1's bands first, or day 1's docs
      // would fall inside every future serve cut with no candidates
      // (permanently missed duplicates, undetectable)
      operators.Dedup.appendToMinhashIndex(spark, stage.getAbsolutePath,
        Seq((3L, "seven eight nine ten")).toDF("doc_id", "text"), batchId = 2L)
      val dup1 = operators.Dedup.dedupAgainstIndex(spark, stage.getAbsolutePath,
        Seq((200L, "one two three four five six")).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      CacheScope.releaseAll()
      assert(dup1.toSeq === Seq((200L, 1L, 1.0)),
        "day 1's docs stayed invisible after day 2 landed")
      // a batch of only shingle-less docs still advances BOTH
      // watermarks (empty bands commit), so maintenance never reads a
      // healthy index as crashed
      operators.Dedup.appendToMinhashIndex(spark, stage.getAbsolutePath,
        Seq((4L, "solo")).toDF("doc_id", "text"), batchId = 3L)
      assert(operators.Maintenance.sinkBatchWatermark(
        spark, s"${stage.getAbsolutePath}/shingles") ==
        operators.Maintenance.sinkBatchWatermark(
          spark, s"${stage.getAbsolutePath}/bands"),
        "watermarks diverged on a healthy index")
      val (vs, vb) = operators.Dedup.compactMinhashIndex(
        spark, stage.getAbsolutePath, targetBytes = 1L << 30)
      assert(vs > 0 && vb > 0)
      // the compacted index still serves day 1's duplicate
      val dup2 = operators.Dedup.dedupAgainstIndex(spark, stage.getAbsolutePath,
        Seq((201L, "one two three four five six")).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(dup2.toSeq === Seq((201L, 1L, 1.0)))
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  test("serving a nonexistent index path throws instead of matching nothing") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      operators.Dedup.dedupAgainstIndex(spark, "/tmp/graft_no_such_index_xyz",
        Seq((1L, "a b c")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("no minhash index"))
  }

  test("an index with no banded batch serves the empty match set") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_mh_empty_").toFile
    try {
      // only zero-shingle docs: shingles commit, bands never do (empty
      // sketches are similar to nothing, by design) — the serve must
      // return the empty match set with the right schema, not throw
      operators.Dedup.writeMinhashIndex(spark, stage.getAbsolutePath,
        Seq((9L, "solo")).toDF("doc_id", "text"))
      val out = operators.Dedup.dedupAgainstIndex(spark, stage.getAbsolutePath,
        Seq((200L, "one two three")).toDF("doc_id", "text"))
      assert(out.columns.toSeq == Seq("new_id", "n_hist_matches", "max_jaccard"))
      assert(out.count() == 0L)
    } finally { CacheScope.releaseAll(); rm(stage) }
  }

  test("sketch rebuilt from persisted shingle hashes equals the from-text sketch") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val words = Vector("a", "b", "c", "dd", "ee", "ff", "ggg", "hh", "ii", "jj")
    val docs = (0L until 200L).map(i =>
      (i, Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text") // includes empty and 1-token docs
    def toks = split($"text", " ")
    val mismatches = docs.select(
      graft.functions.HashFunctions.minhashSketch(toks).as("a"),
      graft.functions.HashFunctions.minhashSketchFromHashes(
        graft.functions.HashFunctions.shingleHashes(toks)).as("b"))
      .filter(not($"a" === $"b")).count()
    assert(mismatches === 0L)
  }

  test("compaction bin-packs fragments losslessly with disjoint key ranges per file") {
    import spark.implicits._
    withStage("graft_compact_spec_") { dir =>
      val frag = s"$dir/frag"
      val packed = s"$dir/packed"
      val data = (0L until 4000L).map(i => (i, s"row_$i", i % 7))
      data.toDF("k", "payload", "grp").repartition(50)
        .write.mode("overwrite").parquet(frag)
      assert(parquetFiles(frag).size == 50)
      // target sized to land a handful of output files
      val totalBytes = parquetFiles(frag).toSeq.map(new java.io.File(_).length).sum
      val nFiles = operators.Maintenance.compactParquet(
        spark, frag, packed, targetBytes = totalBytes / 4 + 1, clusterBy = Some("k"))
      assert(nFiles == parquetFiles(packed).size.toLong)
      assert(nFiles >= 2 && nFiles <= 8, s"got $nFiles files")
      // lossless: exact multiset of rows survives
      val back = spark.read.parquet(packed)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
      assert(back.toSeq === data.sorted)
      // clustered: each file covers a disjoint k range (what parquet
      // min/max footers prune on)
      val ranges = parquetFiles(packed).toSeq.map { f =>
        val r = spark.read.parquet(f).agg(min("k"), max("k")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $ranges")
        case _ => ()
      }
    }
  }

  test("compaction is lossless across the target-size envelope") {
    import spark.implicits._
    withStage("graft_compact_env_") { dir =>
      val frag = s"$dir/frag"
      val data = (0L until 1000L).map(i => (i, s"v$i"))
      data.toDF("k", "v").repartition(20).write.mode("overwrite").parquet(frag)
      val totalBytes = parquetFiles(frag).toSeq.map(new java.io.File(_).length).sum
      // targets spanning: far above total (→ exactly 1 file), near
      // total, a fraction, and pathologically tiny (→ many files, but
      // never more than the row count can fill and never an error)
      Seq(totalBytes * 10, totalBytes + 1, totalBytes / 7 + 1, 64L)
        .zipWithIndex.foreach { case (target, i) =>
          val out = s"$dir/out$i"
          val n = operators.Maintenance.compactParquet(
            spark, frag, out, targetBytes = target, clusterBy = Some("k"))
          if (target > totalBytes) assert(n === 1L, s"target=$target")
          else assert(n >= 1L, s"target=$target")
          val back = spark.read.parquet(out)
            .collect().map(r => (r.getLong(0), r.getString(1))).sorted
          assert(back.toSeq === data, s"target=$target lost rows")
        }
    }
  }

  test("file replay dupFeed: every chunk delivered twice, dedup output unchanged") {
    // releaseAll (the runner contract) deletes each replay's staged feed
    try {
      val once = streaming.Replay.replayViaFiles(spark, sfDir)(ds =>
        streaming.EventStream.dedupStream(ds.toDF()).select("event_id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      val twice = streaming.Replay.replayViaFiles(spark, sfDir, dupFeed = true)(ds =>
        streaming.EventStream.dedupStream(ds.toDF()).select("event_id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(twice === once, "re-delivered chunk files must dedup away")
      // and WITHOUT the dedup transform the duplicate files genuinely
      // re-deliver every row — proving the harness exercises real
      // at-least-once delivery, not a no-op copy
      val raw = streaming.Replay.replayViaFiles(spark, sfDir, dupFeed = true)(ds =>
        streaming.EventStream.tumblingCounts(ds.toDF()))
      val rawN = raw.agg(sum("n")).head().getLong(0)
      val baseN = Tables.events(spark, sfDir).count()
      assert(rawN === 2 * baseN, s"expected every event twice, got $rawN of ${2 * baseN}")
    } finally CacheScope.releaseAll()
  }

  test("SQL aggregate size literals are validated at registration") {
    import spark.implicits._
    Seq(("a", 1.0), ("b", 2.0)).toDF("item", "w").createOrReplaceTempView("r8_v")
    def fails(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains(needle)),
        s"expected '$needle' in ${messages(e)}")
    }
    fails("SELECT topk_items(item, 0) FROM r8_v", ">= 1")
    fails("SELECT topk_items(item, -3) FROM r8_v", ">= 1")
    fails("SELECT topk_items(item, 5, 3) FROM r8_v", "capacity")
    fails("SELECT topk_items(item, 2.5) FROM r8_v", "non-integral")
    fails("SELECT bottom_k(w, 1, 0) FROM r8_v", ">= 1")
  }
}
