package graft

import org.apache.spark.sql.functions._
import operators.Maintenance
import operators.Maintenance._

/** Round-10 guarantees: the snapshot layer's commit protocol under a
  * genuine lost-the-race interleave (two writers on one base version),
  * compaction's stats-contract preservation, and the round's new
  * surfaces (merge, partition overwrite, SQL reads, spherical geo) as
  * they land. */
class Round10Spec extends SparkSpec {

  test("commit race: the losing writer throws and leaves the winner's manifest untouched") {
    withStage("graft_race_") { p =>
      val ev = Tables.events(spark, sfDir)
      assert(snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 2) == 1L)
      // two writers that both derived their state from v1 race for
      // v00002: the first (the winner) commits normally; the second is
      // replayed with the SAME pinned base — the exact read-modify-write
      // interleave. Hadoop rename onto the winner's existing version
      // DIRECTORY is a move-into (returns true on HDFS; local-fs copy
      // fallback also returns true), so a rename-result-only detector
      // would let the loser believe it committed while its manifest is
      // an invisible dot-dir — a silent lost update.
      val winnerRows = ev.filter(col("event_id") % 2 === 1)
      val v2 = Maintenance.commitSnapshot(winnerRows, p, 2,
        fresh => spark.read.parquet(s"$p/versions/v00001").unionByName(fresh.frame),
        Nil, None, Some(1L))
      assert(v2 == 2L)
      val winnerManifest = parquetFiles(s"$p/versions/v00002")
      val loserRows = ev.filter(col("event_id") % 3 === 0)
      val err = intercept[IllegalStateException] {
        Maintenance.commitSnapshot(loserRows, p, 2,
          fresh => spark.read.parquet(s"$p/versions/v00001").unionByName(fresh.frame),
          Nil, None, Some(1L))
      }
      assert(err.getMessage.contains("lost the race"))
      // the winner's manifest dir holds exactly its own files — the
      // loser's staged dir must not have been copied/moved inside it
      val v2dir = new java.io.File(p, "versions/v00002")
      assert(parquetFiles(v2dir.getPath) == winnerManifest,
        "the losing commit polluted the winner's manifest dir")
      assert(Option(v2dir.listFiles()).toSeq.flatten.forall(!_.isDirectory),
        "a stray staged dir survived inside the winner's version dir")
      assert(snapshotVersions(spark, p) == Seq(1L, 2L))
      // the table still answers exactly the winner's commit
      assert(readSnapshot(spark, p).count() == ev.count())
      // the loser's orphaned data batch is GC-able like any crashed commit
      val (_, removed) = vacuumSnapshots(spark, p, keep = 2)
      assert(removed > 0L, "the loser's orphan data files were not GC'd")
      assert(readSnapshot(spark, p).count() == ev.count())
    }
  }

  test("snapshot merge rewrites only the files the changeset's keys live in") {
    import spark.implicits._
    withStage("graft_merge_") { p =>
      val orders = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      snapshotWrite(orders, p, nFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey"))
      val before = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      val mf1 = spark.read.parquet(s"$p/versions/v00001")
      // a changeset confined to a narrow key range: updates on keys
      // [32, 64), one insert far above every real key
      val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
      val changes = orders
        .filter(col("o_orderkey") >= 32 && col("o_orderkey") < 64)
        .select(col("o_orderkey"), lit("U").as("op"),
          lit("X").as("o_orderstatus"), (col("o_totalprice") + 1.0).as("o_totalprice"))
        .unionAll(Seq((maxKey + 100, "I", "N", 42.0))
          .toDF("o_orderkey", "op", "o_orderstatus", "o_totalprice"))
      val v2 = Maintenance.snapshotMerge(spark, p, changes, "o_orderkey", nFiles = 2)
      assert(v2 == 2L)
      // cost: only the files whose [min,max] covers [32,64) were
      // rewritten — every other v1 file survives byte-for-byte AND is
      // carried into v2's manifest
      val mf2 = spark.read.parquet(s"$p/versions/v00002")
      val files1 = mf1.select("file").collect().map(_.getString(0)).toSet
      val files2 = mf2.select("file").collect().map(_.getString(0)).toSet
      val carried = files1.intersect(files2)
      assert(carried.nonEmpty, "merge rewrote every file — pruning did nothing")
      assert(files1.diff(files2).nonEmpty, "merge rewrote no file")
      val after = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      assert(before.filter { case (f, _, _) =>
        carried.exists(c => f.endsWith(c)) }.subsetOf(after),
        "a carried file was rewritten in place")
      // correctness: the merged table equals the kernel applied whole
      val expect = operators.Relational.applyMerge(orders, changes, "o_orderkey")
      val got = readSnapshot(spark, p)
      assert(got.count() == expect.count())
      assert(got.unionAll(expect).distinct().count() == expect.distinct().count(),
        "merged table content diverged from the whole-table kernel")
      // updated rows landed, untouched rows didn't change
      assert(got.filter(col("o_orderstatus") === "X").count() ==
        orders.filter(col("o_orderkey") >= 32 && col("o_orderkey") < 64).count())
      assert(got.filter(col("o_orderkey") === maxKey + 100).count() == 1L)
      // stale base: a merge derived from v1 AFTER v2 exists must throw,
      // not silently drop v2 (the read-modify-write conflict)
      val err = intercept[IllegalStateException] {
        Maintenance.snapshotMerge(spark, p, changes, "o_orderkey",
          nFiles = 2, asOf = Some(1L))
      }
      assert(err.getMessage.contains("lost the race"))
      assert(snapshotVersions(spark, p) == Seq(1L, 2L))
    }
  }

  test("daily partition overwrite: re-landing a day touches only that day's files") {
    withStage("graft_daily_") { p =>
      def land(d: String): Unit =
        operators.DailyPipeline.landDay(spark, sfDir, p, java.time.LocalDate.parse(d))
      land("2024-01-03") // before any test's start: an EMPTY day delta
      land("2024-01-06")
      land("2024-01-12")
      assert(snapshotVersions(spark, p) == Seq(1L, 2L, 3L))
      val before = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      val mf3 = spark.read.parquet(s"$p/versions/v00003")
      val day12Files = mf3.filter(col("part") === "2024-01-12")
        .select("file").collect().map(_.getString(0)).toSet
      val tableAt3 = readSnapshot(spark, p).collect().toSet
      // re-land a day: a new version, same table content, every OTHER
      // day's file carried byte-identical
      land("2024-01-06")
      assert(snapshotVersions(spark, p) == Seq(1L, 2L, 3L, 4L))
      assert(readSnapshot(spark, p).collect().toSet == tableAt3,
        "re-landing a day changed the table")
      val mf4 = spark.read.parquet(s"$p/versions/v00004")
      assert(mf4.filter(col("part") === "2024-01-12")
        .select("file").collect().map(_.getString(0)).toSet == day12Files,
        "re-landing day 06 replaced day 12's files")
      val after = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      assert(before.filter { case (f, _, _) =>
        day12Files.exists(c => f.endsWith(c)) }.subsetOf(after),
        "a carried day's file was rewritten in place")
      // time travel: v3 (pre-re-land) still reads exactly as it did
      assert(readSnapshot(spark, p, Some(3L)).collect().toSet == tableAt3)
      // partition-pruned read: only day 12's rows, from its files alone
      val d12 = Maintenance.readSnapshotPartitions(spark, p, Seq("2024-01-12"))
      assert(d12.count() ==
        readSnapshot(spark, p).filter(col("day") === "2024-01-12").count())
      // purity is enforced, not trusted: a frame carrying two days must
      // be rejected before any manifest lands
      val twoDay = operators.DailyPipeline
        .dayDelta(spark, sfDir, java.time.LocalDate.parse("2024-01-06"))
        .withColumn("day", lit(java.sql.Date.valueOf("2024-01-06")))
        .unionByName(operators.DailyPipeline
          .dayDelta(spark, sfDir, java.time.LocalDate.parse("2024-01-07"))
          .withColumn("day", lit(java.sql.Date.valueOf("2024-01-07"))))
      intercept[IllegalArgumentException] {
        Maintenance.snapshotOverwritePartition(twoDay, p, "day",
          "2024-01-06", nFiles = 1)
      }
      assert(snapshotVersions(spark, p) == Seq(1L, 2L, 3L, 4L),
        "a rejected impure overwrite still committed a version")
    }
  }

  test("DSv2 snapshot source: SQL range predicates prune files through the manifest") {
    withStage("graft_dsv2_") { p =>
      val ev = Tables.events(spark, sfDir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      def load(asOf: Long) = spark.read
        .format("graft.sources.SnapshotSource").option("asOf", asOf).load(p)
      load(2L).createOrReplaceTempView("r10_dsv2")
      val q = spark.sql(
        "SELECT count(*) AS n FROM r10_dsv2 WHERE event_id BETWEEN 100 AND 199")
      // plan audit: the built scan's file list is a strict subset of the
      // 16 clustered files — the WHERE reached the manifest pruner
      def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan match {
              case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
                ps.fileIndex.inputFiles.toSeq
              case other => fail(s"expected a ParquetScan, got $other")
            }
        }.flatten
      val prunedFiles = scanFiles(q)
      val allFiles = parquetFiles(s"$p/data")
      assert(allFiles.size == 16)
      assert(prunedFiles.nonEmpty && prunedFiles.size < allFiles.size,
        s"DSv2 scan planned ${prunedFiles.size} of ${allFiles.size} files — no pruning")
      // exactness: the pruned SQL answer equals the raw-table filter
      assert(q.head().getLong(0) ==
        ev.filter(col("event_id").between(100L, 199L)).count())
      // an unfiltered read plans every live file and answers everything
      val full = load(2L)
      assert(scanFiles(full.select(col("event_id"))).size == allFiles.size)
      assert(full.count() == ev.count())
      // time travel through SQL: v1 is the even half, pruned from v1's
      // own manifest
      val v1 = load(1L).filter(col("event_id").between(100L, 199L))
      assert(v1.count() ==
        ev.filter(col("event_id") % 2 === 0 &&
          col("event_id").between(100L, 199L)).count())
      assert(scanFiles(v1).size < 8, "v1 read did not prune")
    }
  }

  test("spherical kernel is genuinely geodesic: bulge and antimeridian disagree with planar; meridian boxes agree") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import functions.{PointInPolygon, SphericalPointInPolygon}
    def arr(xs: Double*): ArrayData = ArrayData.toArrayData(xs.toArray)
    // 1) poleward bulge: a thin lon-[0°,90°] band at lat [40°,41°]. Its
    // great-circle edges arc up to ~49.9°/50.9° at mid-longitude, so
    // (45°, 50.3°) sits INSIDE the geodesic polygon while the planar
    // ray-cast (lat 50.3 ∉ [40,41]) says outside — the defining
    // GEOGRAPHY-vs-planar divergence.
    val bandLons = arr(0, 90, 90, 0); val bandLats = arr(40, 40, 41, 41)
    assert(SphericalPointInPolygon.contains(45.0, 50.3, bandLons, bandLats))
    assert(!PointInPolygon.contains(45.0, 50.3, bandLons, bandLats))
    // interior of neither: below both arcs at mid-longitude
    assert(!SphericalPointInPolygon.contains(45.0, 44.0, bandLons, bandLats))
    // 2) antimeridian: a box written continuously across ±180 (190° IS
    // −170° on the sphere). The spherical kernel contains −175°; the
    // planar ray-cast on raw coordinates cannot.
    val amLons = arr(170, 190, 190, 170); val amLats = arr(-10, -10, 10, 10)
    assert(SphericalPointInPolygon.contains(-175.0, 0.0, amLons, amLats))
    assert(SphericalPointInPolygon.contains(185.0, 0.0, amLons, amLats))
    assert(!PointInPolygon.contains(-175.0, 0.0, amLons, amLats))
    assert(!SphericalPointInPolygon.contains(150.0, 0.0, amLons, amLats))
    // 2b) longitude wrap: trigonometry is periodic, so a 365° point IS
    // a 5° point — inside a [4°, 9°] zone (the q_geo_sphere oracle
    // replays this with lon % 360; the sf0.1 value tail reaches 560°)
    val midLons = arr(4.027, 9.013, 9.013, 4.027)
    val midLats = arr(-36.4, -36.4, 36.4, 36.4)
    assert(SphericalPointInPolygon.contains(365.0, 0.0, midLons, midLats))
    assert(SphericalPointInPolygon.contains(5.0, 0.0, midLons, midLats))
    assert(!SphericalPointInPolygon.contains(365.0 + 180.0, 0.0, midLons, midLats))
    // 2c) vertex-on-reference-meridian parity: a southern chain running
    // THROUGH (45, 40) must count one crossing for the interior point
    // directly above it (the naive both-endpoints-closed arc test
    // counted the shared vertex once per incident edge = outside), and
    // an apex TOUCHING the meridian must count two (still outside)
    val chainLons = arr(40, 45, 50, 50, 40)
    val chainLats = arr(40, 40, 40, 41, 41)
    assert(SphericalPointInPolygon.contains(45.0, 40.5, chainLons, chainLats),
      "interior point above a collinear boundary vertex misclassified")
    // apex: boundary dips to (45, 30) and rises again — the meridian of
    // (45, 35) touches the apex from above but never enters the polygon
    // interior below it
    val apexLons = arr(40, 45, 50, 50, 40)
    val apexLats = arr(20, 30, 20, 10, 10)
    assert(!SphericalPointInPolygon.contains(45.0, 35.0, apexLons, apexLats),
      "point above a tangent apex vertex misclassified")
    assert(SphericalPointInPolygon.contains(45.0, 15.0, apexLons, apexLats),
      "genuinely interior point under the apex lost")
    // 3) agreement on the q_geo_sphere zone shapes: meridian lon edges
    // are great circles in both models, and the data's lat grid sits
    // 0.4° off the bounds while the bulge stays under 0.14° — every
    // grid point classifies identically
    val zones = Seq(
      (Seq(0.013, 4.027, 4.027, 0.013), Seq(-20.4, -20.4, 28.4, 28.4)),
      (Seq(4.027, 9.013, 9.013, 4.027), Seq(-36.4, -36.4, 36.4, 36.4)),
      (Seq(9.013, 29.507, 29.507, 9.013), Seq(-8.4, -8.4, 8.4, 8.4)))
    for {
      (lons, lats) <- zones
      lon <- 0 to 29; k <- 0 to 99 by 7
    } {
      val lat = 0.8 * k - 40.0
      val (la, lb) = (arr(lons: _*), arr(lats: _*))
      val sph = SphericalPointInPolygon.contains(lon + 0.5, lat, la, lb)
      val pla = PointInPolygon.contains(lon + 0.5, lat, la, lb)
      assert(sph == pla, s"divergence at (${lon + 0.5}, $lat) in $lons/$lats")
    }
    // 4) the codegen path produces the same answer as the static eval
    import spark.implicits._
    import org.apache.spark.sql.functions.typedLit
    val got = Seq((45.0, 50.3), (45.0, 44.0), (-175.0, 0.0))
      .toDF("lon", "lat")
      .select(SphericalPointInPolygon(col("lon"), col("lat"),
        typedLit(Seq(0.0, 90.0, 90.0, 0.0)),
        typedLit(Seq(40.0, 40.0, 41.0, 41.0))).as("in"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(true, false, false))
  }

  test("CDC version-diff reads plan only the delta files; merges surface the rewritten superset") {
    withStage("graft_cdc_") { p =>
      val orders = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val v1 = snapshotWrite(orders, p, nFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey"))
      val extra = orders.limit(50)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      val v2 = snapshotAppend(extra, p, nFiles = 2,
        statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey"))
      // append delta: row-exact, and the scan plans ONLY the new files
      val delta = Maintenance.snapshotChanges(spark, p, v1, v2)
      assert(delta.count() == 50L)
      assert(delta.filter(col("o_orderkey") < 1000000L).count() == 0L,
        "an append delta leaked carried rows")
      val scanned = delta.select(input_file_name()).distinct().count()
      assert(scanned <= 2, s"append delta scanned $scanned files, expected <= 2")
      // same-version diff is empty with the table schema intact
      val none = Maintenance.snapshotChanges(spark, p, v2, v2)
      assert(none.count() == 0L && none.schema == delta.schema)
      // a merge's delta is the rewritten superset: it contains every
      // updated row (and may carry untouched neighbors — documented)
      import spark.implicits._
      val changes = orders.filter(col("o_orderkey") >= 32 && col("o_orderkey") < 64)
        .select(col("o_orderkey"), lit("U").as("op"),
          lit("X").as("o_orderstatus"), col("o_totalprice"))
      val v3 = Maintenance.snapshotMerge(spark, p, changes, "o_orderkey", nFiles = 1)
      val mergeDelta = Maintenance.snapshotChanges(spark, p, v2, v3)
      assert(mergeDelta.filter(col("o_orderstatus") === "X").count() ==
        changes.count(), "merge delta missed updated rows")
      // a consumer that read (v1→v2) then (v2→v3) has seen every row
      // change without ever re-reading the table
      assert(Maintenance.snapshotChanges(spark, p, v1, v3).count() >=
        50L + changes.count())
    }
  }

  test("partition compaction bin-packs one day and carries the rest verbatim") {
    withStage("graft_pcompact_") { p =>
      val ev = Tables.events(spark, sfDir)
      def slice(m: Int) = ev.filter(col("event_id") % 3 === m)
        .withColumn("day", lit(s"d$m"))
      // land day d0 FRAGMENTED (8 files), d1 compact
      snapshotOverwritePartition(slice(0), p, "day", "d0", nFiles = 8)
      snapshotOverwritePartition(slice(1), p, "day", "d1", nFiles = 1)
      val mf2 = Maintenance.snapshotManifest(spark, p)
      assert(mf2.filter(col("part") === "d0").count() == 8L)
      val d1Files = mf2.filter(col("part") === "d1")
        .select("file").collect().map(_.getString(0)).toSet
      val before = readSnapshot(spark, p).collect().toSet
      val v3 = Maintenance.compactSnapshotPartition(spark, p, "day", "d0",
        targetBytes = 1L << 30)
      assert(v3 == 3L)
      val mf3 = Maintenance.snapshotManifest(spark, p)
      assert(mf3.filter(col("part") === "d0").count() < 8L,
        "compaction did not reduce the day's file count")
      assert(mf3.filter(col("part") === "d1")
        .select("file").collect().map(_.getString(0)).toSet == d1Files,
        "compacting d0 replaced d1's files")
      assert(readSnapshot(spark, p).collect().toSet == before,
        "partition compaction changed the table")
      // whole-table compaction refuses the partitioned layout
      val e = intercept[IllegalArgumentException] {
        Maintenance.compactSnapshot(spark, p, targetBytes = 1L << 30)
      }
      assert(e.getMessage.contains("partition"))
      // a rewrite pinned to a base that a concurrent lander superseded
      // must THROW, not silently overwrite the lander's fresh data —
      // the compactSnapshotPartition read-rewrite window made explicit
      val headV = snapshotVersions(spark, p).last
      snapshotOverwritePartition(slice(0), p, "day", "d0", nFiles = 2) // the lander
      val stale = intercept[IllegalStateException] {
        Maintenance.snapshotOverwritePartition(
          Maintenance.readSnapshotPartitions(spark, p, Seq("d0"), Some(headV)),
          p, "day", "d0", nFiles = 1, base = Some(headV))
      }
      assert(stale.getMessage.contains("lost the race"))
    }
  }

  test("DSv2 reads evolve schema on request and prune z-ordered tables on either column") {
    withStage("graft_dsv2b_") { dir =>
      // schema evolution through SQL: v2 appends an added column; the
      // mergeSchema read surfaces it with NULL backfill on v1's files
      val p = s"$dir/evolve"
      val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
      snapshotWrite(docs.filter(col("doc_id") % 2 === 0), p, nFiles = 2)
      snapshotAppend(docs.filter(col("doc_id") % 2 === 1)
        .withColumn("added", col("n_chars") * 2), p, nFiles = 2)
      val evolved = spark.read.format("graft.sources.SnapshotSource")
        .option("mergeSchema", true).load(p)
      assert(evolved.columns.contains("added"))
      assert(evolved.filter(col("added").isNull).count() ==
        docs.filter(col("doc_id") % 2 === 0).count())
      // without mergeSchema the schema is a SINGLE arbitrary footer's
      // (parquet's normal non-merged inference — which batch's footer
      // wins is listing-order-dependent, so only the shared columns are
      // asserted); the rows still read
      val plain = spark.read.format("graft.sources.SnapshotSource").load(p)
      assert(Set("doc_id", "n_chars").subsetOf(plain.columns.toSet))
      assert(plain.count() == docs.count())
      // z-order + DSv2 compose: the z-clustered table's manifest carries
      // stats on BOTH columns, so a SQL predicate on EITHER prunes files
      val zp = s"$dir/z"
      val grid = spark.range(64L * 64L)
        .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
      Maintenance.writeZordered(grid, zp, "x", "y", bits = 6, nFiles = 16)
      def zScanFiles(pred: String): Int = {
        val df = spark.read.format("graft.sources.SnapshotSource").load(zp)
          .filter(expr(pred))
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.asInstanceOf[
              org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
              .fileIndex.inputFiles.length
        }.sum
      }
      assert(zScanFiles("y BETWEEN 0 AND 7") <= 8,
        "DSv2 did not prune the z table on y")
      assert(zScanFiles("x BETWEEN 0 AND 7") <= 8,
        "DSv2 did not prune the z table on x")
      assert(zScanFiles("true") == 16)
    }
  }

  test("DSv2 writer maps modes onto snapshot commits with stats intact") {
    withStage("graft_dsv2w_") { p =>
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value")
      def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
        df.write.format("graft.sources.SnapshotSource")
          .option("nFiles", 3).option("statsCols", "event_id")
          .option("clusterBy", "event_id").mode(mode).save(p)
      write(ev.filter(col("event_id") % 2 === 0), "overwrite")
      assert(snapshotVersions(spark, p) == Seq(1L), "first write must create v1")
      val v1Files = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      write(ev.filter(col("event_id") % 2 === 1), "append")
      assert(snapshotVersions(spark, p) == Seq(1L, 2L))
      // append through the writer rewrote nothing
      val after = parquetFiles(s"$p/data")
        .map(f => (f, new java.io.File(f).lastModified, new java.io.File(f).length))
      assert(v1Files.subsetOf(after), "DSv2 append rewrote a v1 file")
      assert(readSnapshot(spark, p).count() == ev.count())
      // writer-declared statsCols feed the same pruning as the Scala API
      val pruned = Maintenance.prunedRead(spark, p, "event_id", 100L, 199L)
      assert(pruned.count() ==
        ev.filter(col("event_id").between(100L, 199L)).count())
      assert(pruned.select(input_file_name()).distinct().count() < 6,
        "writer statsCols did not enable pruning")
      // overwrite = WRITE_TRUNCATE as a version; history stays readable
      write(ev.limit(100), "overwrite")
      assert(snapshotVersions(spark, p) == Seq(1L, 2L, 3L))
      assert(readSnapshot(spark, p).count() == 100L)
      assert(readSnapshot(spark, p, Some(2L)).count() == ev.count(),
        "SQL-side truncate must leave prior versions readable")
    }
  }

  test("snapshotHistory reports the commit ledger") {
    withStage("graft_hist_") { p =>
      val ev = Tables.events(spark, sfDir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 3)
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 2)
      val h = Maintenance.snapshotHistory(spark, p)
        .orderBy("version").collect()
      assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(h(0).getLong(3) == ev.filter(col("event_id") % 2 === 0).count())
      assert(h(1).getLong(3) == ev.count())
      assert(h(1).getLong(4) == 2L, "v2 added exactly its 2 new files")
      assert(!h(0).getTimestamp(1).after(h(1).getTimestamp(1)),
        "commit timestamps must be monotone")
    }
  }

  test("geodesic kernel property: random meridian-edged boxes agree with planar away from the bulge") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import functions.{PointInPolygon, SphericalPointInPolygon}
    def arr(xs: Double*): ArrayData = ArrayData.toArrayData(xs.toArray)
    val rnd = new scala.util.Random(10101)
    var checked = 0
    for (_ <- 0 until 400) {
      // a lat/lon box with meridian E/W edges (great circles in both
      // models); lon span <= 20°, |lat| <= 60° → N/S edge bulge
      // tan(phiMax) = tan(phi)/cos(dLon/2) stays under ~0.5°
      val l0 = rnd.nextDouble() * 340 - 170
      val l1 = l0 + 1 + rnd.nextDouble() * 19
      val b0 = rnd.nextDouble() * 110 - 55
      val b1 = b0 + 1 + rnd.nextDouble() * (59 - b0).max(1.0)
      val lons = arr(l0, l1, l1, l0); val lats = arr(b0, b0, b1, b1)
      val bulge = math.toDegrees(math.atan(
        math.tan(math.toRadians(b0.abs.max(b1.abs))) /
          math.cos(math.toRadians((l1 - l0) / 2)))) - b0.abs.max(b1.abs)
      for (_ <- 0 until 8) {
        val lon = rnd.nextDouble() * 360 - 180
        val lat = rnd.nextDouble() * 160 - 80
        // skip points inside the disagreement slivers: within 2× the
        // bulge (+ a floating floor) of a lat edge, or hugging a lon
        // edge (meridians agree exactly, but stay off the boundary)
        val margin = 2 * bulge + 1e-3
        val nearLat = (lat - b0).abs < margin || (lat - b1).abs < margin
        val nearLon = (lon - l0).abs < 1e-6 || (lon - l1).abs < 1e-6
        if (!nearLat && !nearLon) {
          checked += 1
          val sph = SphericalPointInPolygon.contains(lon, lat, lons, lats)
          val pla = PointInPolygon.contains(lon, lat, lons, lats)
          assert(sph == pla,
            s"divergence at ($lon, $lat) in box [$l0,$l1]x[$b0,$b1] (bulge $bulge)")
        }
      }
    }
    assert(checked > 2000, s"property exercised only $checked points")
  }

  test("concurrent appenders: every commit either lands completely or throws — rows never lost") {
    withStage("graft_race2_") { p =>
      val ev = Tables.events(spark, sfDir)
      snapshotWrite(ev.limit(100), p, nFiles = 1)
      val base = readSnapshot(spark, p).count()
      // 6 threads race append commits released by one barrier. Since
      // r11, appends REBASE-RETRY on a lost base race (their batches
      // commute), so normally all 6 land; a retry-exhausted loser may
      // still throw, and must throw the conflict (never silently drop
      // a winner) — the invariant either way is exact row accounting
      val barrier = new java.util.concurrent.CyclicBarrier(6)
      val results = (1 to 6).map { i =>
        val t = new java.util.concurrent.FutureTask(
          new java.util.concurrent.Callable[Either[Throwable, Long]] {
            override def call(): Either[Throwable, Long] = {
              val rows = ev.filter(col("event_id") % 6 === i % 6).limit(10 * i)
              barrier.await()
              try Right {
                snapshotAppend(rows, p, nFiles = 1): Unit
                rows.count()
              } catch { case e: Throwable => Left(e) }
            }
          })
        new Thread(t).start(); t
      }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val landed = results.collect { case Right(n) => n }
      val failed = results.collect { case Left(e) => e }
      assert(landed.nonEmpty, "every appender lost the race — nothing committed")
      failed.foreach(e => assert(
        e.isInstanceOf[IllegalStateException] &&
          e.getMessage.contains("lost the race"),
        s"a losing appender threw the wrong error: $e"))
      // exact accounting: the head holds the base plus precisely the
      // rows of the appends that REPORTED success
      assert(readSnapshot(spark, p).count() == base + landed.sum,
        s"row accounting broken: base $base + landed ${landed.sum}")
      assert(snapshotVersions(spark, p).size.toLong == 1L + landed.size,
        "version count disagrees with successful commits")
    }
  }

  test("compaction preserves the manifest stats contract by default") {
    withStage("graft_cstats_") { p =>
      val ev = Tables.events(spark, sfDir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      // default statsCols: derived from the head manifest, NOT dropped —
      // the r9 behavior (statsCols=Nil verbatim) broke every subsequent
      // readSnapshotRange and same-statsCols append on the compacted head
      val v3 = compactSnapshot(spark, p, targetBytes = 1L << 30,
        clusterBy = Some("event_id"))
      assert(v3 == 3L)
      val mf = spark.read.parquet(f"$p/versions/v$v3%05d")
      assert(mf.columns.contains("min_event_id") && mf.columns.contains("max_event_id"),
        s"compaction dropped the stats columns: ${mf.columns.mkString(",")}")
      val expect = ev.filter(col("event_id").between(100L, 199L)).count()
      assert(readSnapshotRange(spark, p, "event_id", 100L, 199L).count() == expect)
      // the original stats contract still appends cleanly post-compaction
      val v4 = snapshotAppend(ev.limit(0), p, nFiles = 1,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      assert(v4 == 4L)
    }
  }
}
