package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{DailyPipeline, Manifest}
import graft.operators.Maintenance._

/** Snapshot metadata is read in the driver thread: a version's
  * manifest, the schema of the data files a read plans, and the stats
  * of the files a commit just wrote come from manifest rows and parquet
  * footers without a Spark job. These specs pin that each driver path
  * gives exactly what the job path it replaces gives, that stats the
  * footers cannot give still take the aggregation, and how many jobs a
  * commit and a read take. */
class SnapshotMetaSpec extends SparkSpec {

  private def versionDir(p: String, v: Long) = f"$p/versions/v$v%05d"

  /** Every version of `p`: the manifest read on the driver equals
    * `spark.read.parquet` of the version dir — schema (nullability
    * included) and rows in order, through both the rows and the frame. */
  private def assertManifestsMatchParquet(p: String): Unit =
    for (v <- snapshotVersions(spark, p)) {
      val mf = manifestOf(spark, p, v)
      val ref = spark.read.parquet(versionDir(p, v))
      assert(mf.schema == ref.schema, s"$p v$v: ${mf.schema} vs ${ref.schema}")
      assert(mf.frame.schema == ref.schema, s"$p v$v frame schema")
      val want = ref.collect().toSeq
      assert(mf.frame.collect().toSeq == want, s"$p v$v rows")
      assert(mf.files == want.map(_.getAs[String]("file")), s"$p v$v files")
    }

  test("the driver-read manifest equals spark.read.parquet of the version, for five table kinds") {
    withStage("graft_meta_mf_") { stage =>
      val base = spark.range(0, 300)
        .select(col("id").as("k"), (col("id") % 5).as("g"), (col("id") * 0.5).as("v"))

      val stats = s"$stage/stats"
      snapshotWrite(base.filter(col("k") < 200), stats, nFiles = 4,
        statsCols = Seq("k"), clusterBy = Some("k"))
      snapshotAppend(base.filter(col("k") >= 200), stats, nFiles = 2,
        statsCols = Seq("k"), clusterBy = Some("k"))

      val parted = s"$stage/parted"
      val withShard = base.withColumn("shard", (col("k") % 3).cast("string"))
      for (s <- Seq("0", "1", "0"))
        snapshotOverwritePartition(withShard.filter(col("shard") === s), parted,
          "shard", s, nFiles = 2, statsCols = Seq("k"))

      val sink = s"$stage/sink"
      snapshotSinkBatch(base.filter(col("k") < 100), sink, 0L, nFiles = 2)
      snapshotSinkBatch(base.filter(col("k") >= 100), sink, 1L, nFiles = 2)
      snapshotSinkBatch(base.filter(col("k") >= 100), sink, 1L, nFiles = 2) // replay: skipped
      assert(sinkBatchWatermark(spark, sink).contains(1L))
      assert(committedBatchIds(spark, sink) == Set(0L, 1L))

      val empty = s"$stage/empty"
      snapshotCreateEmpty(spark, empty,
        StructType(Seq(StructField("k", LongType), StructField("s", StringType))), Seq("k"))
      assert(manifestOf(spark, empty, 1L).isEmpty)
      snapshotAppend(base.select(col("k"), col("g").cast("string").as("s")), empty,
        nFiles = 2, statsCols = Seq("k"))

      val evolved = s"$stage/evolved"
      snapshotWrite(base.select("k", "g"), evolved, nFiles = 2, statsCols = Seq("k"))
      snapshotAppend(base.select((col("k") + 1000).as("k"), col("g"), col("v")), evolved,
        nFiles = 2, statsCols = Seq("k"))

      for (t <- Seq(stats, parted, sink, empty, evolved)) assertManifestsMatchParquet(t)

      // the data schema a read plans equals what inference over the
      // same files gives, plain and merged
      for (t <- Seq(stats, parted, sink, empty, evolved); merge <- Seq(false, true)) {
        val files = manifestOf(spark, t, snapshotVersions(spark, t).last).files
          .map(f => s"$t/data/$f")
        val driver = readSnapshot(spark, t, mergeSchema = merge).schema
        val inferred = spark.read.option("mergeSchema", merge.toString)
          .parquet(files: _*).schema
        assert(driver == inferred, s"$t mergeSchema=$merge: $driver vs $inferred")
      }
      assert(readSnapshot(spark, evolved, mergeSchema = true).columns.toSeq == Seq("k", "g", "v"))
      // pruned reads merge as the session's spark.sql.parquet.mergeSchema says
      CacheScope.withConf(spark, "spark.sql.parquet.mergeSchema" -> "true")(
        assert(readSnapshotRange(spark, evolved, "k", 0L, 2000L).columns.toSeq == Seq("k", "g", "v")))
    }
  }

  test("Tables.load plans the schema inference would give") {
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "documents", "embeddings")) {
      val ref = spark.read.parquet(s"$sfDir/$t.parquet")
      val (loaded, jobs) = jobsDuring(Tables.load(spark, sfDir, t))
      assert(loaded.schema == ref.schema, t)
      assert(jobs == 0, s"$t: loading ran $jobs jobs")
    }
  }

  /** (n_rows, min/max per column) of one file, by aggregation. */
  private def aggregated(file: String, cols: Seq[String]): Seq[Any] =
    spark.read.parquet(file)
      .agg(count(lit(1)), cols.flatMap(c => Seq(min(col(c)), max(col(c)))): _*)
      .head().toSeq

  test("footer stats equal the aggregation for int, long and date keys " +
      "(all-NULL column, zero-row file, several row groups)") {
    withStage("graft_meta_stats_") { stage =>
      val cols = Seq("k_int", "k_long", "k_date", "k_null")
      val df = spark.range(0, 3000).select(
        when(col("id") % 11 === 0, lit(null)).otherwise(((col("id") * 7919) % 1000).cast("int"))
          .as("k_int"),
        (col("id") * 1000003L - 5000000L).as("k_long"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 400).cast("int"))
          .as("k_date"),
        lit(null).cast("int").as("k_null"))
      val p = s"$stage/t"
      CacheScope.withConf(spark, "parquet.block.size" -> "4096") {
        snapshotWrite(df, p, nFiles = 2, statsCols = cols)
        snapshotAppend(df.limit(0), p, nFiles = 1, statsCols = cols)
      }
      val mf = snapshotManifest(spark, p).orderBy("file").collect().toSeq
      assert(mf.size == 3)
      assert(mf.count(_.getLong(1) == 0L) == 1, "one zero-row file")
      for (r <- mf)
        assert(r.toSeq.tail == aggregated(s"$p/data/${r.getString(0)}", cols), r.getString(0))
      val groups = mf.filter(_.getLong(1) > 0).map(r => Manifest.footer(spark,
        new org.apache.hadoop.fs.Path(s"$p/data/${r.getString(0)}"), rowGroups = true)
        .getBlocks.size)
      assert(groups.forall(_ > 1), s"every non-empty file spans several row groups: $groups")
    }
  }

  test("string, decimal, double and timestamp stats take the aggregation fallback") {
    withStage("graft_meta_fallback_") { stage =>
      val df = spark.range(0, 500).select(
        col("id").cast("int").as("k_int"),
        format_string("key-%05d", col("id")).as("k_str"),
        (col("id") / 7).cast("decimal(10,2)").as("k_dec"),
        (col("id") * 1.25).as("k_dbl"),
        timestamp_seconds(col("id") * 3600).as("k_ts"))
      val fallbacks = Seq("k_str", "k_dec", "k_dbl", "k_ts")
      val p = s"$stage/t"
      snapshotWrite(df, p, nFiles = 2, statsCols = "k_int" +: fallbacks)
      val files = snapshotManifest(spark, p).select("file").collect().map(_.getString(0)).sorted
      for (f <- files)
        assert(snapshotManifest(spark, p).filter(col("file") === f).head().toSeq.tail ==
          aggregated(s"$p/data/$f", "k_int" +: fallbacks), f)

      val footers = files.toIndexedSeq.map(f => Manifest.footer(spark,
        new org.apache.hadoop.fs.Path(s"$p/data/$f"), rowGroups = true))
      def statsSchema(c: String, dt: DataType) = StructType(Seq(
        StructField("file", StringType), StructField("n_rows", LongType, nullable = false),
        StructField(s"min_$c", dt), StructField(s"max_$c", dt)))
      def footerPath(c: String, dt: DataType) =
        Manifest.footerStats(files.toIndexedSeq, footers, statsSchema(c, dt), Seq(c), "")
      for (c <- fallbacks)
        assert(footerPath(c, df.schema(c).dataType).isEmpty, s"$c must take the fallback")
      assert(footerPath("k_int", IntegerType).isDefined)
      // names resolve case-insensitively, as the aggregation resolves them
      assert(footerPath("K_INT", IntegerType).isDefined)
      assert(footerPath("k_missing", IntegerType).isEmpty)
    }
  }

  /** A version's manifest rows, projected onto `cols`, with each batch
    * dir numbered by first appearance and the write job's uuid dropped
    * from part-file names — two tables built by the same commits then
    * compare row for row. */
  private def canonicalManifests(p: String, cols: Seq[String]): Seq[Seq[Any]] = {
    val batches = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    snapshotVersions(spark, p).flatMap { v =>
      spark.read.parquet(versionDir(p, v)).select(cols.map(col): _*).collect().toSeq.map { r =>
        val Array(b, part) = r.getString(0).split("/", 2)
        val id = batches.getOrElseUpdate(b, batches.size)
        (v +: s"$id/${part.replaceAll("-[0-9a-f]{8}-[0-9a-f-]{27}-", "-")}" +: r.toSeq.tail).toSeq
      }
    }
  }

  private def manifestBytes(p: String, v: Long): Array[Byte] = {
    val dir = new java.io.File(versionDir(p, v))
    val files = dir.listFiles().filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files.length == 1, s"$dir: ${files.map(_.getName).toSeq}")
    java.nio.file.Files.readAllBytes(files.head.toPath)
  }

  test("commits on footer stats and on the aggregation fallback publish the same manifests") {
    withStage("graft_meta_paths_") { stage =>
      // the same data and commits twice: once with bigint stats only
      // (footer stats), once with a string stats column beside them,
      // which sends every commit's stats through the aggregation
      val base = spark.range(0, 400).select(col("id").as("k"), (col("id") % 7).as("g"),
        (col("id") * 1.5).as("v"), format_string("s%05d", col("id")).as("s"))
      val changes = spark.range(0, 400).filter(col("id") % 40 === 3).select(
        col("id").as("k"), lit(99L).as("g"), lit(0.25).as("v"),
        format_string("s%05d", col("id")).as("s"),
        when(col("id") % 80 === 3, lit("D")).otherwise(lit("U")).as("op"))
      def commits(p: String, statsCols: Seq[String]): Unit = {
        snapshotWrite(base.filter(col("k") < 300), p, nFiles = 4,
          statsCols = statsCols, clusterBy = Some("k"))
        snapshotAppend(base.filter(col("k") >= 300), p, nFiles = 2,
          statsCols = statsCols, clusterBy = Some("k"))
        snapshotMerge(spark, p, changes, "k", nFiles = 2)
        snapshotDeleteWhere(spark, p, col("k").between(100, 140))
        compactSnapshot(spark, p, targetBytes = 1L << 20)
      }
      commits(s"$stage/footer", Seq("k"))
      commits(s"$stage/agg", Seq("k", "s"))
      assert(tableStatsCols(spark, s"$stage/agg") == Seq("k", "s"))
      val cols = Seq("file", "n_rows", "min_k", "max_k")
      val (a, b) = (canonicalManifests(s"$stage/footer", cols),
        canonicalManifests(s"$stage/agg", cols))
      assert(a.map(_.head).distinct == (1L to 5L))
      assert(a == b)
      assert(spark.read.parquet(versionDir(s"$stage/footer", 5L)).schema ==
        spark.read.parquet(versionDir(s"$stage/agg", 5L)).drop("min_s", "max_s").schema)

      // metadata-only commits (partition drop, restore) write their
      // manifest from an existing one's rows: a restore republishes the
      // restored version byte for byte
      val p = s"$stage/parted"
      val withShard = base.withColumn("shard", (col("k") % 3).cast("string"))
      for (s <- Seq("0", "1", "2"))
        snapshotOverwritePartition(withShard.filter(col("shard") === s), p,
          "shard", s, nFiles = 2, statsCols = Seq("k"))
      val dropped = snapshotDropPartition(spark, p, "1")
      assert(manifestFiles(spark, p, dropped) ==
        manifestOf(spark, p, 3L).filter(col("part") =!= "1").files.toSet)
      val restored = snapshotRestore(spark, p, 2L)
      assert(manifestBytes(p, restored).sameElements(manifestBytes(p, 2L)))
    }
  }

  test("jobs per landDay commit and per snapshot read (structural pin)") {
    withStage("graft_meta_jobs_") { stage =>
      val p = s"$stage/daily"
      val day = java.time.LocalDate.parse("2024-01-12")
      DailyPipeline.landDay(spark, sfDir, p, day.minusDays(1))
      val (_, landJobs) = jobsDuring(DailyPipeline.landDay(spark, sfDir, p, day))
      val (rows, readJobs) = jobsDuring(readSnapshot(spark, p).collect())
      assert(rows.nonEmpty)
      // with schema inference, manifest collects and the read-back of
      // the written files for their stats these were about 10 and 3;
      // what remains is the data work, the stats write and the manifest
      // write, and the read's own collect
      assert(landJobs == 5, s"landDay ran $landJobs jobs")
      assert(readJobs == 1, s"readSnapshot(...).collect() ran $readJobs jobs")
    }
  }
}
