package graft

import org.apache.spark.sql.functions._
import operators.Maintenance
import operators.Maintenance._

/** Round-10b guarantees — the mechanics the driver gate can't see for
  * the session's new lakehouse verbs: RESTORE is metadata-only and
  * vacuum-safe, DELETE rewrites exactly the range-intersecting files,
  * IVM folds stay exact over long version chains, and the snapshot
  * STREAM source delivers per-version batches exactly once across
  * restarts and refuses non-append commits. */
class Round10bSpec extends SparkSpec {

  // ─────────────────────────────────────────────────────────── RESTORE

  test("restore is a metadata-only commit: zero data written, head flips back") {
    withStage("graft_restore_") { p =>
      val ev = Tables.events(spark, sfDir)
      val evens = ev.filter(col("event_id") % 2 === 0)
      snapshotWrite(evens, p, nFiles = 2, statsCols = Seq("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 2,
        statsCols = Seq("event_id"))
      val before = parquetFiles(s"$p/data")
      val v3 = snapshotRestore(spark, p, 1L)
      assert(v3 == 3L)
      assert(parquetFiles(s"$p/data") == before,
        "restore wrote or removed data files — it must be metadata-only")
      // head answers exactly v1; the rolled-back v2 stays readable
      assert(readSnapshot(spark, p).count() == evens.count())
      assert(readSnapshot(spark, p, Some(2L)).count() == ev.count())
      // the restored manifest is v1's verbatim (same files, same stats)
      val m1 = snapshotManifest(spark, p, Some(1L)).collect().toSet
      val m3 = snapshotManifest(spark, p, Some(3L)).collect().toSet
      assert(m1 == m3)
      // restoring the current head is legal: an explicit audit version
      assert(snapshotRestore(spark, p, 3L) == 4L)
      assert(readSnapshot(spark, p).count() == evens.count())
    }
  }

  test("vacuum after restore keeps the restored head's files and GCs the rolled-back batch") {
    withStage("graft_restvac_") { p =>
      val ev = Tables.events(spark, sfDir)
      val evens = ev.filter(col("event_id") % 2 === 0)
      snapshotWrite(evens, p, nFiles = 2, statsCols = Seq("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 2,
        statsCols = Seq("event_id"))
      snapshotRestore(spark, p, 1L)
      val (expired, removed) = vacuumSnapshots(spark, p, keep = 1)
      assert(expired == 2L)
      // the bad load's batch (2 files) is gone; v1's files survive
      // because the restored HEAD references them
      assert(removed == 2L)
      assert(readSnapshot(spark, p).count() == evens.count())
    }
  }

  test("restore of an expired or unknown version throws") {
    withStage("graft_restbad_") { p =>
      snapshotWrite(Tables.events(spark, sfDir).limit(10), p, nFiles = 1)
      val e = intercept[IllegalArgumentException] {
        snapshotRestore(spark, p, 7L)
      }
      assert(e.getMessage.contains("not in"))
    }
  }

  // ──────────────────────────────────────────────────────────── DELETE

  test("delete rewrites only the range-intersecting files and carries the rest verbatim") {
    withStage("graft_del_") { p =>
      val ev = Tables.events(spark, sfDir)
      val n = ev.count()
      snapshotWrite(ev, p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val mf1 = snapshotManifest(spark, p)
        .select("file", "min_event_id", "max_event_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val (lo, hi) = (100L, 499L)
      val expectTouched = mf1.filter { case (_, mn, mx) => mn <= hi && mx >= lo }
        .map(_._1).toSet
      assert(expectTouched.nonEmpty && expectTouched.size < mf1.length,
        s"test needs a PROPER file subset, got ${expectTouched.size}/${mf1.length}")
      val v2 = snapshotDelete(spark, p, "event_id", lo, hi, nFiles = 2)
      assert(v2 == 2L)
      val mf2files = snapshotManifest(spark, p).select("file")
        .collect().map(_.getString(0)).toSet
      val carried = mf1.map(_._1).toSet -- expectTouched
      assert(carried.subsetOf(mf2files),
        "an untouched file vanished from the post-delete manifest")
      assert((mf2files & expectTouched).isEmpty,
        "a range-intersecting file survived the delete un-rewritten")
      // row-exact complement
      val deleted = ev.filter(col("event_id").between(lo, hi)).count()
      assert(deleted > 0)
      assert(readSnapshot(spark, p).count() == n - deleted)
      assert(readSnapshot(spark, p)
        .filter(col("event_id").between(lo, hi)).count() == 0)
    }
  }

  test("delete of a range no file intersects is a no-op: no version churn") {
    withStage("graft_delnoop_") { p =>
      snapshotWrite(Tables.events(spark, sfDir), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val v = snapshotDelete(spark, p, "event_id", -500L, -100L, nFiles = 1)
      assert(v == 1L)
      assert(snapshotVersions(spark, p) == Seq(1L))
    }
  }

  test("delete keeps NULL-keyed rows (NULL is in no range) and needs stats") {
    import spark.implicits._
    withStage("graft_delnull_") { p =>
      val df = Seq[(java.lang.Long, String)]((1L, "a"), (5L, "b"),
        (null, "keep-me"), (9L, "c")).toDF("k", "v")
      snapshotWrite(df, p, nFiles = 1, statsCols = Seq("k"))
      snapshotDelete(spark, p, "k", 1L, 5L, nFiles = 1)
      val left = readSnapshot(spark, p).orderBy("v")
        .collect().map(_.getString(1)).toSeq
      assert(left == Seq("c", "keep-me"))
      // a stat-less table refuses (delete would be a blind full rewrite)
      val p2 = s"$p/nostats"
      snapshotWrite(df, p2, nFiles = 1)
      val e = intercept[IllegalArgumentException] {
        snapshotDelete(spark, p2, "k", 1L, 5L, nFiles = 1)
      }
      assert(e.getMessage.contains("no manifest stats"))
    }
  }

  test("delete pinned to a superseded base throws instead of losing the interleaved commit") {
    withStage("graft_delrace_") { p =>
      val ev = Tables.events(spark, sfDir)
      snapshotWrite(ev, p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      // a writer lands v2 while the delete (derived from v1) is in flight
      snapshotAppend(ev.limit(50), p, nFiles = 1, statsCols = Seq("event_id"))
      val e = intercept[IllegalStateException] {
        snapshotDelete(spark, p, "event_id", 100L, 499L, nFiles = 2,
          asOf = Some(1L))
      }
      assert(e.getMessage.contains("lost the race"))
    }
  }

  // ─────────────────────────────────────────────────────────────── IVM

  test("ivm folds over a long append chain equal the full recompute") {
    withStage("graft_ivm_") { p =>
      val ev = Tables.events(spark, sfDir)
      def slice(r: Int) = ev.filter(col("event_id") % 5 === r)
      val keys = Seq("event_type")
      var v = snapshotWrite(slice(0), p, nFiles = 2, statsCols = Seq("event_id"))
      var view = ivmState(readSnapshot(spark, p, Some(v)), keys, "value")
      for (r <- 1 to 4) {
        val nv = snapshotAppend(slice(r), p, nFiles = 2, statsCols = Seq("event_id"))
        view = ivmMerge(view,
          ivmState(snapshotChanges(spark, p, v, nv), keys, "value"), keys)
        v = nv
      }
      val got = view.orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      val want = ivmState(ev, keys, "value").orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      assert(got.toSeq == want.toSeq)
      // the fold is a schema fixed point — 4 folds kept DECIMAL(18,4)
      assert(view.schema("sum_dec").dataType.simpleString == "decimal(18,4)")
    }
  }

  test("signed ivm deltas stay exact across merge, delete, and compaction commits") {
    import spark.implicits._
    withStage("graft_ivmrw_") { p =>
      val base = (1L to 200L).map(k => (k, s"t${k % 3}", k * 1.5)).toDF("k", "g", "v")
      val keys = Seq("g")
      var v = snapshotWrite(base, p, nFiles = 4,
        statsCols = Seq("k"), clusterBy = Some("k"))
      var view = ivmState(readSnapshot(spark, p, Some(v)), keys, "v")
      def fold(nv: Long): Unit = {
        view = ivmMerge(view, ivmDelta(spark, p, v, nv, keys, "v"), keys)
        v = nv
      }
      // MERGE: delete %25 keys, update %10 keys, insert 5 new ones
      val changes = (
        (1L to 200L).filter(_ % 25 == 0).map(k => (k, "D", null.asInstanceOf[String], 0.0)) ++
        (1L to 200L).filter(k => k % 25 != 0 && k % 10 == 0)
          .map(k => (k, "U", "upd", k * 2.0)) ++
        (901L to 905L).map(k => (k, "I", "ins", 1.0))
      ).toDF("k", "op", "g", "v")
      fold(snapshotMerge(spark, p, changes, "k", nFiles = 2))
      // DELETE a key range
      fold(snapshotDelete(spark, p, "k", 50L, 120L, nFiles = 1))
      // COMPACTION (full rewrite — the degenerate O(table) delta)
      fold(compactSnapshot(spark, p, targetBytes = 1L << 30))
      val got = view.orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString)).toSeq
      val want = ivmState(readSnapshot(spark, p), keys, "v").orderBy("g")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString)).toSeq
      assert(got == want,
        "incrementally maintained view diverged from the full recompute")
    }
  }

  test("a key whose rows all leave the table leaves the view") {
    import spark.implicits._
    val view = ivmState(Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("k", "g", "v"),
      Seq("g"), "v")
    val delta = ivmState(Seq((1L, "a", 2.0)).toDF("k", "g", "v"), Seq("g"), "v")
      .select(col("g"), (-col("n")).as("n"),
        (-col("sum_dec")).cast("decimal(18,4)").as("sum_dec"))
    val merged = ivmMerge(view, delta, Seq("g")).collect()
    assert(merged.map(_.getString(0)).toSeq == Seq("b"),
      "a cancelled key must drop out of the view, not linger at n=0")
  }

  test("partition drop is metadata-only; vacuum reclaims exactly the dropped shard") {
    withStage("graft_pdrop_") { p =>
      val ev = Tables.events(spark, sfDir)
        .withColumn("shard", (col("event_id") % 3).cast("string"))
      for (r <- 0 to 2)
        snapshotOverwritePartition(ev.filter(col("shard") === r.toString), p,
          "shard", r.toString, nFiles = 2, statsCols = Seq("event_id"))
      val before = parquetFiles(s"$p/data")
      val droppedFiles = snapshotManifest(spark, p)
        .filter(col("part") === "1").select("file")
        .collect().map(r => s"$p/data/${r.getString(0)}").toSet
      assert(droppedFiles.size == 2)
      val v = snapshotDropPartition(spark, p, "1")
      assert(v == 4L)
      assert(parquetFiles(s"$p/data") == before,
        "partition drop must write and remove NOTHING — metadata only")
      assert(readSnapshot(spark, p).count() ==
        ev.filter(col("shard") =!= "1").count())
      // time travel: the pre-drop version still answers the full table
      assert(readSnapshot(spark, p, Some(3L)).count() == ev.count())
      // retention = drop then vacuum: exactly the shard's files go
      val (_, removed) = vacuumSnapshots(spark, p, keep = 1)
      assert(removed == 2L)
      assert(droppedFiles.forall(f => !new java.io.File(f).exists()))
      assert(readSnapshot(spark, p).count() ==
        ev.filter(col("shard") =!= "1").count())
      // guards: unknown partition, and the last partition
      intercept[IllegalArgumentException] {
        snapshotDropPartition(spark, p, "9")
      }
      snapshotDropPartition(spark, p, "0")
      val e = intercept[IllegalArgumentException] {
        snapshotDropPartition(spark, p, "2")
      }
      assert(e.getMessage.contains("would empty"))
    }
  }

  // ─────────────────────────────────────────────────── SQL catalog

  test("catalog: TIMESTAMP AS OF resolves by commit instant, DSv2 insert inherits stats") {
    withStage("graft_cat_") { root =>
      val tbl = s"$root/t"
      val ev = Tables.events(spark, sfDir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), tbl, nFiles = 2,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val afterV1 = System.currentTimeMillis()
      Thread.sleep(30)
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), tbl, nFiles = 2,
        statsCols = Seq("event_id"))
      val cat = new sources.SnapshotCatalog
      cat.initialize("tcat", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("root", root)))
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty[String], "t")
      // between the two commits → v1; far future → head; before v1 → throws
      assert(cat.loadTable(ident, afterV1 * 1000L)
        .asInstanceOf[sources.SnapshotTable].pinnedVersion == 1L)
      assert(cat.loadTable(ident, (afterV1 + 3600000L) * 1000L)
        .asInstanceOf[sources.SnapshotTable].pinnedVersion == 2L)
      val e = intercept[IllegalArgumentException] {
        cat.loadTable(ident, 1000L)
      }
      assert(e.getMessage.contains("precedes the table"))
      // a DataFrameWriter append WITHOUT statsCols inherits the table's
      // stats contract instead of committing a schema-breaking manifest
      ev.filter(col("event_id") % 2 === 1).limit(10)
        .withColumn("event_id", col("event_id") + 20000000L)
        .write.format("graft.sources.SnapshotSource").mode("append").save(tbl)
      assert(Maintenance.tableStatsCols(spark, tbl) == Seq("event_id"))
      // the inherited stats really prune: the appended range reads only
      // the appended batch's files
      assert(readSnapshotRange(spark, tbl, "event_id", 20000000L, 30000000L)
        .count() == 10L)
    }
  }

  // ──────────────────────────────────────────────── snapshot STREAMING

  test("snapshot stream: one micro-batch per version, tail pickup, exactly-once restart") {
    withStage("graft_tail_") { dir =>
      val p = s"$dir/table"
      val sink = s"$dir/sink"
      val cp = s"$dir/cp"
      val ev = Tables.events(spark, sfDir)
      def quarter(r: Int) = ev.filter(col("event_id") % 4 === r)
      snapshotWrite(quarter(0), p, nFiles = 2, statsCols = Seq("event_id"))
      snapshotAppend(quarter(1), p, nFiles = 2, statsCols = Seq("event_id"))
      snapshotAppend(quarter(2), p, nFiles = 2, statsCols = Seq("event_id"))
      def startQ() = spark.readStream
        .format("graft.sources.SnapshotSource")
        .option("maxVersionsPerTrigger", 1L).load(p)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp)
        .outputMode("append").start()
      val q1 = startQ()
      try {
        q1.processAllAvailable()
        // backfill: exactly one non-empty batch per committed version
        assert(q1.recentProgress.count(_.numInputRows > 0) == 3,
          "maxVersionsPerTrigger=1 must deliver each version in its own batch")
        // tail: a version committed while the stream runs is picked up
        snapshotAppend(quarter(3), p, nFiles = 2, statsCols = Seq("event_id"))
        q1.processAllAvailable()
        assert(spark.read.parquet(sink).count() == ev.count())
      } finally q1.stop()
      // restart from the checkpoint: nothing re-delivers, new data flows
      snapshotAppend(ev.filter(col("event_id") % 4 === 0).limit(25)
        .withColumn("event_id", col("event_id") + 10000000L),
        p, nFiles = 1, statsCols = Seq("event_id"))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.read.parquet(sink).count() == ev.count() + 25,
        "restart must deliver exactly the new version — no replays, no gaps")
      // every original row arrived exactly once
      val dupes = spark.read.parquet(sink).groupBy("event_id")
        .count().filter(col("count") > 1).count()
      assert(dupes == 0, "a version was double-delivered")
    }
  }

  test("snapshot stream refuses a non-append commit unless ignoreChanges") {
    withStage("graft_tailnc_") { dir =>
      val p = s"$dir/table"
      val ev = Tables.events(spark, sfDir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 2,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val name = s"graft_tailnc_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = spark.readStream.format("graft.sources.SnapshotSource").load(p)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          s"$dir/cp")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        compactSnapshot(spark, p, targetBytes = 1L << 30)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
          throw new IllegalStateException("stream survived a rewrite commit")
        }
        assert(e.getMessage.contains("non-append") ||
          Option(e.getCause).exists(_.getMessage.contains("non-append")))
      } finally q.stop()
      // ignoreChanges: the tail continues through the rewrite (re-delivery
      // of rewritten rows is the documented, Delta-compatible cost)
      val name2 = name + "_ic"
      val q2 = spark.readStream.format("graft.sources.SnapshotSource")
        .option("ignoreChanges", true).load(p)
        .writeStream.format("memory").queryName(name2)
        .option("checkpointLocation",
          s"$dir/cp2")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 1,
          statsCols = Seq("event_id"))
        compactSnapshot(spark, p, targetBytes = 1L << 30)
        q2.processAllAvailable() // no throw
      } finally q2.stop()
    }
  }

  test("streaming ivm: one view version per batch, exactly-once across restart") {
    withStage("graft_sivm_") { dir =>
      val tbl = s"$dir/table"
      val viewP = s"$dir/view"
      val cp = s"$dir/cp"
      val ev = Tables.events(spark, sfDir)
      def third(r: Int) = ev.filter(col("event_id") % 3 === r)
      snapshotWrite(third(0), tbl, nFiles = 1, statsCols = Seq("event_id"))
      snapshotAppend(third(1), tbl, nFiles = 1, statsCols = Seq("event_id"))
      val keys = Seq("event_type")
      def startQ() = spark.readStream.format("graft.sources.SnapshotSource")
        .option("maxVersionsPerTrigger", 1L).load(tbl)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val delta = ivmState(b.toDF(), keys, "value")
          val next =
            if (snapshotVersions(spark, viewP).isEmpty) delta
            else ivmMerge(readSnapshot(spark, viewP), delta, keys)
          snapshotSinkReplace(next, viewP, id)
        }.start()
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      // one REPLACE version per non-empty batch — the view's own history
      val vAfterRun1 = snapshotVersions(spark, viewP)
      assert(vAfterRun1.size == 2, s"expected 2 view versions, got $vAfterRun1")
      // restart with nothing new: the view table must not move at all
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      assert(snapshotVersions(spark, viewP) == vAfterRun1,
        "a restart with no new table versions re-committed the view")
      // restart after a new table version: exactly one more view version,
      // and the view equals the full recompute
      snapshotAppend(third(2), tbl, nFiles = 1, statsCols = Seq("event_id"))
      val q3 = startQ()
      try q3.processAllAvailable() finally q3.stop()
      assert(snapshotVersions(spark, viewP).size == vAfterRun1.size + 1)
      val got = readSnapshot(spark, viewP).orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString)).toSeq
      val want = ivmState(ev, keys, "value").orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString)).toSeq
      assert(got == want)
      // the per-batch view states time-travel: version 1 is the v1 fold
      val v1 = readSnapshot(spark, viewP, Some(vAfterRun1.head))
        .agg(sum(col("n"))).head().getLong(0)
      assert(v1 == third(0).count())
    }
  }

  test("a paced fresh stream on a vacuumed table starts at the earliest surviving version") {
    withStage("graft_tailvac_") { dir =>
      val p = s"$dir/table"
      val ev = Tables.events(spark, sfDir)
      def quarter(r: Int) = ev.filter(col("event_id") % 4 === r)
      snapshotWrite(quarter(0), p, nFiles = 1, statsCols = Seq("event_id"))
      for (r <- 1 to 3)
        snapshotAppend(quarter(r), p, nFiles = 1, statsCols = Seq("event_id"))
      vacuumSnapshots(spark, p, keep = 2) // versions 1,2 expire
      assert(snapshotVersions(spark, p) == Seq(3L, 4L))
      // pre-fix this crashed forever: the pacing base 0+1 planned the
      // expired version 1
      val name = s"graft_tailvac_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = spark.readStream.format("graft.sources.SnapshotSource")
        .option("maxVersionsPerTrigger", 1L).load(p)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table(name).count() == ev.count(),
        "the paced backfill must read the earliest surviving manifest")
    }
  }

  test("DSv2 overwrite with a new schema commits a fresh contract; appends still inherit") {
    import spark.implicits._
    withStage("graft_dsv2ow_") { dir =>
      val p = s"$dir/t"
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .write.format("graft.sources.SnapshotSource")
        .option("statsCols", "k").mode("overwrite").save(p)
      // WRITE_TRUNCATE with a frame that lacks the old stats column —
      // pre-fix the inherited statsCols made writtenFileStats throw on
      // min(k) over a k-less batch AFTER the data had landed
      Seq(("x", 1.5), ("y", 2.5)).toDF("name", "score")
        .write.format("graft.sources.SnapshotSource")
        .mode("overwrite").save(p)
      assert(readSnapshot(spark, p).columns.toSeq == Seq("name", "score"))
      assert(tableStatsCols(spark, p).isEmpty)
      // and an append to a stats table still inherits the contract
      val p2 = s"$dir/t2"
      Seq((1L, "a")).toDF("k", "v")
        .write.format("graft.sources.SnapshotSource")
        .option("statsCols", "k").mode("overwrite").save(p2)
      Seq((2L, "b")).toDF("k", "v")
        .write.format("graft.sources.SnapshotSource").mode("append").save(p2)
      assert(tableStatsCols(spark, p2) == Seq("k"))
    }
  }

  test("delete across schema generations keeps evolved columns; no-op returns the head") {
    import spark.implicits._
    withStage("graft_delsv_") { p =>
      snapshotWrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), p,
        nFiles = 1, statsCols = Seq("k"))
      // evolution append: a later batch carries an ADDED column
      snapshotAppend(Seq((3L, "c", 9.0), (4L, "d", 8.0)).toDF("k", "v", "w"),
        p, nFiles = 1, statsCols = Seq("k"))
      // the deleted range touches BOTH schema generations — pre-fix the
      // single-footer read rewrote the survivors without w
      snapshotDelete(spark, p, "k", 2L, 3L, nFiles = 1)
      val out = readSnapshot(spark, p, mergeSchema = true).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getDouble(2)))
      assert(out.toSeq == Seq((1L, "a", null), (4L, "d", 8.0)),
        "evolved column w must survive the rewrite")
      // no-op delete: the returned id is the table's CURRENT head even
      // when the (stale) pinned base saw nothing to touch
      val head = snapshotVersions(spark, p).last
      assert(snapshotDelete(spark, p, "k", 500L, 600L, nFiles = 1,
        asOf = Some(1L)) == head)
    }
  }

  test("snapshot stream fromVersion skips the backfill") {
    withStage("graft_tailfrom_") { dir =>
      val p = s"$dir/table"
      val ev = Tables.events(spark, sfDir)
      def third(r: Int) = ev.filter(col("event_id") % 3 === r)
      snapshotWrite(third(0), p, nFiles = 1, statsCols = Seq("event_id"))
      snapshotAppend(third(1), p, nFiles = 1, statsCols = Seq("event_id"))
      snapshotAppend(third(2), p, nFiles = 1, statsCols = Seq("event_id"))
      val name = s"graft_tailfrom_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = spark.readStream.format("graft.sources.SnapshotSource")
        .option("fromVersion", 1L).load(p)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table(name).count() == third(1).count() + third(2).count(),
        "fromVersion=1 must stream exactly the rows landed after v1")
    }
  }
}
