package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance mechanics a long-running ingest needs at 100 TB —
  * the OPTIMIZE half of the daily loop. Streaming sinks and daily
  * appends ([[graft.streaming.EventStream.exactlyOnceParquetSink]],
  * [[DailyPipeline]], [[Dedup.appendToMinhashIndex]]) necessarily land
  * many small files (one directory per batch/day); scan throughput and
  * listing cost then degrade until a compaction pass bin-packs them
  * back to target-sized files. The reference's BigQuery backend does
  * this invisibly (storage optimizer); a file-based lakehouse must do
  * it explicitly.
  */
object Maintenance {

  /** Output file count for rewriting `df` into ~`targetBytes`-sized
    * files. Sizing uses the scan's own byte estimate (relation
    * sizeInBytes — the file index the read already built, so a
    * 100k-fragment directory is listed exactly once); compaction of
    * same-codec parquet is roughly size-preserving, and an estimate is
    * all the file-count decision needs. Validated in BigInt BEFORE
    * narrowing — the litInt lesson: a silent wrap would either crash
    * opaquely (negative partition count) or quietly write
    * far-oversized files. */
  private def targetFileCount(df: DataFrame, targetBytes: Long,
      what: String): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val totalBytes: BigInt = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.sizeInBytes
    }.sum
    require(totalBytes > 0, s"$what: could not size the input from its file index")
    val nOutB = ((totalBytes + targetBytes - 1) / targetBytes).max(1)
    require(nOutB <= Int.MaxValue,
      s"$what: $totalBytes bytes / $targetBytes-byte target = " +
        s"$nOutB output files — beyond Int range; compact in sections")
    nOutB.toInt
  }

  /** Compact a parquet directory into ~`targetBytes`-sized files at
    * `outPath`. With `clusterBy` set, rows are range-partitioned and
    * sorted on that key, so each output file covers a disjoint key
    * range — parquet min/max footers then prune whole files for key
    * predicates (the OPTIMIZE ... ZORDER-lite single-key shape).
    * Without it, a plain round-robin repartition only bin-packs.
    *
    * This is the EXPLICITLY-UNVERSIONED fast path: plain dir in, plain
    * dir out, no manifest, no history — for one-shot re-layouts of
    * tables that live outside the snapshot layer. Tables WITH versions
    * compact through [[compactSnapshot]], which commits the rewrite
    * atomically and keeps history readable.
    *
    * Sizing uses the INPUT byte sum as the estimate — compaction of
    * same-codec parquet is roughly size-preserving, and an estimate is
    * all the file-count decision needs. The sum is read off the file
    * index the `spark.read` itself builds (relation sizeInBytes), so a
    * 100k-fragment object-store directory — the state this operator
    * exists to fix — is listed exactly once, not once per concern. One
    * shuffle of the data being compacted; at scale runs table-section
    * by table-section (e.g. per day partition), never whole-table.
    * Returns the output file count. */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long, clusterBy: Option[String] = None): Long = {
    val df = spark.read.parquet(inPath)
    val nOut = targetFileCount(df, targetBytes, s"compactParquet($inPath)")
    val shaped = clusterBy match {
      case Some(k) => deterministicClusterShaper(df, col(k), nOut)(df)
      case None => df.repartition(nOut)
    }
    shaped.write.mode("overwrite").parquet(outPath)
    val out = new org.apache.hadoop.fs.Path(outPath)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(out).count(_.getPath.getName.endsWith(".parquet")).toLong
  }

  /** Driver-visible query: fragment the documents table into 64 tiny
    * files (the post-ingest worst case), compact them clustered on
    * doc_id, and return the compacted table — hash-checked against the
    * source table, so the pass is provably lossless (no dropped /
    * duplicated / mangled rows). The file-count collapse and the
    * disjoint-key-range clustering are pinned by Round8Spec, which
    * reads each output file individually. */
  def compactFiles(spark: SparkSession, dir: String): DataFrame = {
    val stage = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_compact_${java.util.UUID.randomUUID().toString.take(8)}")
    // register cleanup BEFORE any write: a mid-compaction throw (out of
    // disk is likeliest exactly here — the fragment stage just copied a
    // table) must not leak the staging dirs; deleting a missing or
    // partial dir is a no-op
    graft.CacheScope.defer(() => graft.sources.Sources.deleteRecursively(stage))
    val frag = new java.io.File(stage, "fragmented").getAbsolutePath
    val packed = new java.io.File(stage, "compacted").getAbsolutePath
    Tables.documents(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(frag)
    compactParquet(spark, frag, packed, targetBytes = 4L << 20,
      clusterBy = Some("doc_id"))
    // snapshot through a checkpoint (the DailyPipeline pattern): the
    // staging dirs are deleted at release, the result must outlive them
    graft.CacheScope.checkpoint(spark.read.parquet(packed)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id"))
  }

  private val compactFilesOracle =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ───── file-level min/max data skipping ─────────────────────────────
  //
  // Parquet footers already prune ROW GROUPS inside an opened file; a
  // manifest of per-file column min/max prunes at the FILE level —
  // unmatched files are never listed into the scan, never opened, never
  // footer-read. At 100 TB (millions of files) this is the difference
  // between a planning-time metadata filter and a cluster-wide footer
  // storm; it is the core scan mechanic of every table format (Iceberg
  // manifests, Delta add-file stats). Directory partitioning still
  // handles the coarse key (date); the manifest handles everything the
  // directory key doesn't.

  /** Write `df` as a skip-indexed table at `path`: clustered on
    * `clusterBy` (range partition + in-file sort into `nFiles` files,
    * so each file covers a disjoint key range) with per-file min/max
    * manifest stats on `statsCols`. Since round 10 this IS a snapshot
    * table ([[snapshotWrite]], version 1) — the file-stats mechanics
    * exist exactly once, and a skip-indexed table gets appends,
    * replaces, time travel, and vacuum for free. [[prunedRead]] /
    * [[readSnapshotRange]] serve it.
    *
    * The manifest derives from the JUST-WRITTEN files, not from `df`:
    * the durable parquet is the source of truth, so a nondeterministic
    * input cannot produce stats that disagree with the data actually
    * stored. NULL semantics: min/max ignore NULLs, so an all-NULL file
    * carries NULL stats and is pruned — correct, because a range
    * predicate on that column never selects NULL rows. */
  def writeSkipIndexed(df: DataFrame, path: String, statsCols: Seq[String],
      nFiles: Int, clusterBy: String): Unit = {
    require(statsCols.nonEmpty, "statsCols must name at least one column")
    snapshotWrite(df, path, nFiles, statsCols, Some(clusterBy)): Unit
  }

  /** Scan `path` for rows with `c` in [lo, hi]: the head version's
    * manifest picks the files whose [min_c, max_c] intersects the
    * range, ONLY those files enter the scan, and the predicate is
    * re-applied as the residual filter (results are exact whatever the
    * layout — pruning is purely a cost lever). Alias of
    * [[readSnapshotRange]] at the head version, kept as the
    * skip-indexed table's natural read verb. */
  def prunedRead(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long): DataFrame =
    readSnapshotRange(spark, path, c, lo, hi)

  /** Manifest-pruned range scan as a driver-visible query: stage the
    * events table as 16 skip-indexed files clustered on event_id, then
    * answer a 200-id range query through [[prunedRead]]. The oracle is
    * the plain filter+aggregate over the raw table — pruning must be
    * invisible in the answer. Round9Spec separately audits the cost
    * side: the pruned plan reads a strict subset of the files and the
    * scan does not touch the excluded key ranges. At 100 TB the staged
    * layout is the table's permanent state (compaction writes it) and
    * this query's scan cost is O(selected range), independent of table
    * size. */
  def pruneScan(spark: SparkSession, dir: String): DataFrame = {
    val stage = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_prune_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.CacheScope.defer(() => graft.sources.Sources.deleteRecursively(stage))
    writeSkipIndexed(Tables.events(spark, dir), stage.getAbsolutePath,
      statsCols = Seq("event_id", "user_id"), nFiles = 16, clusterBy = "event_id")
    import graft.functions.Compat._
    prunedRead(spark, stage.getAbsolutePath, "event_id", 100L, 299L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"))
      .orderBy("event_type")
  }

  private val pruneScanOracle = {
    import graft.functions.Compat.rSql
    s"""SELECT event_type, COUNT(*) AS n, ${rSql("SUM(value)", 4)} AS sum_value
       |FROM events WHERE event_id BETWEEN 100 AND 299
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ───── Z-order (Morton) multi-column clustering ──────────────────────

  /** Interleave the low `bits` bits of two non-negative int columns into
    * one Morton z-value: bit i of x → bit 2i, bit i of y → bit 2i+1.
    * Sorting by z makes ANY prefix range of z a tight 2D box in (x, y),
    * so a file layout clustered on z carries useful min/max stats for
    * BOTH columns — the multi-column complement to [[writeSkipIndexed]]'s
    * single-key clustering, where the sort key's stats are tight but
    * every other column's span the whole domain. Plain integer
    * arithmetic (shift/mod/sum), exactly replayable in ANSI SQL. */
  def zvalue(x: Column, y: Column, bits: Int): Column =
    zvalue(Seq(x, y), bits)

  /** N-column Morton interleave: bit i of column j lands at bit
    * i·k + j (k = column count), so the 2-column overload above is the
    * k = 2 special case bit-for-bit. Inputs are widened to long before
    * shifting — an int interleave would overflow into the sign bit at
    * k·bits > 31 (e.g. bits = 15, two columns → shift 31). k·bits is
    * capped at 62 to stay inside a signed long. */
  def zvalue(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, s"z-value interleaves at least 2 columns, got $k")
    require(bits >= 1 && bits * k <= 62,
      s"bits*columns must be in [$k, 62], got $bits*$k = ${bits * k}")
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), i) % 2, i * k + j))
      .reduce(_ + _)
  }

  /** Write `df` as a snapshot table clustered on the z-value of
    * (`cx`, `cy`) with min/max manifest stats on both columns — the
    * multi-column [[writeSkipIndexed]], on the same snapshot layer.
    * The z column is layout-only: it shapes the range partition and the
    * in-file sort, then drops out of the stored schema. */
  def writeZordered(df: DataFrame, path: String, cx: String, cy: String,
      bits: Int, nFiles: Int): Unit = {
    require(snapshotVersions(df.sparkSession, path).isEmpty,
      s"$path already has versions — use snapshotAppend/snapshotReplace")
    commitSnapshot(df, path, nFiles, _.frame, Seq(cx, cy),
      Some(zvalue(col(cx), col(cy), bits)), Some(0L)): Unit
  }

  /** Z-order locality as a driver-visible query: Morton-code lineitem's
    * (l_partkey mod 256, l_suppkey mod 256), bucket rows by the top z
    * bits (z DIV 4096 — each bucket is one 64×64 tile of the key
    * plane), and emit each bucket's row count and 2D bounding box. The
    * tight per-bucket boxes ARE the property that makes the z-clustered
    * file layout prunable on both columns; Round9Spec audits the layout
    * side (a y-only range predicate skips most files in the z layout
    * and none in the x-sorted layout). */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
    li.withColumn("zbucket", zvalue(col("x"), col("y"), 8).divide(4096).cast("long"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("zbucket")
  }

  private val zorderStatsOracle = {
    val z = (0 until 8).map { i =>
      s"(((x // ${1L << i}) % 2) * ${1L << (2 * i)} + ((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")
    s"""WITH pts AS (
       |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
       |zed AS (SELECT x, y, ($z) // 4096 AS zbucket FROM pts)
       |SELECT zbucket, COUNT(*) AS n,
       |  MIN(x) AS min_x, MAX(x) AS max_x,
       |  MIN(y) AS min_y, MAX(y) AS max_y
       |FROM zed GROUP BY zbucket ORDER BY zbucket""".stripMargin
  }

  // ───── versioned snapshots (time travel + GC) ────────────────────────
  //
  // The commit mechanic every table format shares (Delta log, Iceberg
  // snapshots): data files are immutable and uniquely named; a VERSION
  // is one manifest directory listing every data file visible at that
  // version; the manifest is committed LAST via an atomic rename. A
  // crashed writer therefore leaves orphan data files — never a torn,
  // readable table — and old versions stay readable (time travel) until
  // explicitly expired. At 100 TB this is what makes daily appends
  // O(batch), concurrent readers consistent, and bad loads revertible
  // by reading the previous version instead of recomputing the table.

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Staged-query lifecycle shared by the driver-visible lakehouse
    * queries (merge/sql/cdc/write): a UUID tmp dir whose cleanup is
    * registered BEFORE any write (a mid-write throw must not leak it),
    * the body run against it, and the result snapshotted through a
    * checkpoint so the returned frame outlives the deferred cleanup —
    * the one lifecycle invariant, held in one place. */
  private[graft] def stagedQuery(prefix: String)(body: String => DataFrame): DataFrame = {
    val stage = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.CacheScope.defer(() => graft.sources.Sources.deleteRecursively(stage))
    val out = body(stage.getAbsolutePath)
    graft.CacheScope.checkpoint(out)
  }

  /** Sorted version ids present at `path` (manifest listing only —
    * driver-side planning metadata, one entry per committed version). */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsFor(spark, path)
    val vdir = new org.apache.hadoop.fs.Path(s"$path/versions")
    if (!fs.exists(vdir)) Seq.empty
    else fs.listStatus(vdir).toIndexedSeq.map(_.getPath.getName)
      // 5+ digits: %05d pads small ids and WIDENS past 99999 — a fixed
      // {5} would make version 100000 commit successfully yet be
      // invisible to every reader (and brick all later commits)
      .filter(_.matches("v\\d{5,}")).map(_.drop(1).toLong).sorted
  }

  /** The version a read or rewrite of `path` works on: `asOf`, else
    * the head. Refuses a table with no versions, and a version the
    * listing does not hold (expired or never committed). */
  private[graft] def resolveVersion(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Long = {
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"$path has no committed versions")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs (expired or never committed)")
    v
  }

  /** Per-file (n_rows, min/max per stats column) for the parquet files
    * under `dir`, derived from the JUST-WRITTEN files (the snapshot
    * discipline: the durable parquet is the source of truth, so a
    * nondeterministic input cannot produce stats that disagree with the
    * data actually stored). File names are `relPrefix` + basename; rows
    * go in file-name order.
    *
    * The driver reads the files' footers: n_rows is the row-group
    * counts' sum and min/max fold the column-chunk statistics
    * ([[Manifest.footerStats]]). When the footers decline — a
    * string/decimal/floating/timestamp/boolean stats column, a chunk
    * without min/max, a legacy-calendar footer — the files are
    * aggregated in a Spark job instead, given the first footer's schema.
    *
    * ZERO-ROW part files (an empty batch — e.g. a day landed before its
    * test window opens) produce no aggregation group, but they MUST
    * still enter the manifest: an empty version with a file-less
    * manifest would make readSnapshot of that version (and every
    * empty-fallback read built on it) unable to infer a schema. They
    * are appended from the FS listing with n_rows = 0 and NULL stats —
    * NULL stats prune them from every range read, which is exactly
    * right for a file with no rows. The footer path gives them the same
    * row. */
  private def writtenFileStats(spark: SparkSession, dir: String,
      relPrefix: String, statsCols: Seq[String]): Manifest = {
    val names = fsFor(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted.toIndexedSeq
    val footers = names.map(n => Manifest.footer(spark,
      new org.apache.hadoop.fs.Path(s"$dir/$n"), rowGroups = true))
    val data = footers.headOption.fold(spark.read)(f => spark.read.schema(
      org.apache.spark.sql.graft.Bridge.parquetFooterSchema(spark,
        new org.apache.hadoop.fs.Path(s"$dir/${names.head}"), f)))
      .parquet(dir)
    val stats = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val agg = data
      .groupBy(concat(lit(relPrefix),
        element_at(split(input_file_name(), "/"), -1)).as("file"))
      .agg(count(lit(1)).as("n_rows"), stats: _*)
    val rows = Manifest.footerStats(names, footers, agg.schema, statsCols,
        relPrefix).getOrElse {
      // collect ONCE (planner-scale: one row per written file) and fill
      // in the zero-row complement from the FS listing in plain Scala —
      // deriving the complement with an anti-join would embed the stats
      // aggregation subtree twice and scan the just-written batch twice
      // on every commit
      val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(agg.schema)
      val counted = agg.collect().toIndexedSeq
        .map(r => toRow(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      val seen = counted.map(_.getUTF8String(0).toString).toSet
      val zeroRow = names.map(relPrefix + _).filterNot(seen)
        .map(f => org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          org.apache.spark.unsafe.types.UTF8String.fromString(f) +: 0L +:
            Seq.fill(statsCols.size * 2)(null)))
      (counted ++ zeroRow).sortBy(_.getUTF8String(0).toString)
    }
    Manifest.local(spark, agg.schema, rows)
  }

  /** Land `df` as a new immutable batch under `path/data/<uuid>/` and
    * commit the next version, whose manifest lists `carry` (the files
    * of the base version — empty for a fresh write or a replace) plus
    * the just-written files. Manifest rows are (file, n_rows) with file
    * paths relative to `path/data` so the table relocates. The manifest
    * is staged under `versions/.tmp-*` and renamed into place — rename
    * is the atomic commit point on HDFS-like stores.
    *
    * `base` is the optimistic-concurrency token: when set, the commit
    * lands as EXACTLY version base+1, so two writers that both derived
    * their manifest from version N race for the same v(N+1) rename and
    * the loser THROWS instead of silently dropping the winner's rows
    * (the lost-update hazard of any read-modify-write commit). Only a
    * replace — which derives nothing from the old state — may commit
    * at whatever the listing says is next.
    *
    * The rename alone is NOT a sufficient race detector: Hadoop rename
    * onto an existing destination DIRECTORY is a move-INTO on HDFS
    * (returns true, staged manifest lands at dst/.tmp-*), and
    * RawLocalFileSystem's copy fallback does the same — the racing
    * loser would believe it committed while its manifest is a hidden
    * dot-dir invisible to readers (silent lost update). So a unique
    * `_commit-*` marker file is staged WITH the manifest; after the
    * rename the marker must sit DIRECTLY under dst. If it doesn't, the
    * rename was a move-into: the stray copy is removed and the commit
    * throws the conflict it actually lost. (Manifest readers never see
    * the marker — parquet reads skip `_`-prefixed files.) */
  private[graft] def commitSnapshot(df: DataFrame, path: String, nFiles: Int,
      carry: Manifest => DataFrame, statsCols: Seq[String],
      clusterBy: Option[Column], base: Option[Long] = None,
      shape: Option[DataFrame => DataFrame] = None,
      rebaseCarry: Option[Long => Manifest => DataFrame] = None): Long = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    // the retry path below rebases FROM curBase.get — a carry factory
    // without a pinned base would NPE-at-conflict instead of surfacing
    // the actual conflict; fail the malformed call loudly at call time
    require(base.isDefined || rebaseCarry.isEmpty,
      "commitSnapshot: rebaseCarry requires a pinned base version")
    val spark = df.sparkSession
    val batch = s"b${java.util.UUID.randomUUID().toString.take(12)}"
    // rows-in counter riding the write job itself (map side, below the
    // layout shuffle — zero extra pass): compared after the write
    // against Σ per-file n_rows of the just-written files (their
    // footers' row counts, see writtenFileStats) — so ANY torn
    // write — rows lost or duplicated between the scan and the durable
    // parquet, whatever the cause (shuffle pathology, partial task
    // output, filesystem lies) — is structurally un-committable and
    // throws [[SnapshotTornWrite]] instead of publishing a silently
    // wrong table. Both sides come from the SAME execution, so even a
    // nondeterministic input cannot produce a spurious mismatch.
    // Cluster note: observed metrics assume one successful attempt per
    // task (spark.speculation=false, the default) — a speculative
    // duplicate success could double-count into rows_in and trip the
    // guard spuriously; that is a loud false ALARM, never a silent
    // false pass, and the batch is simply rewritten on retry.
    val obs = new org.apache.spark.sql.Observation(s"graft_commit_$batch")
    val observed = df.observe(obs, count(lit(1)).as("rows_in"))
    // cluster the batch on the stats key when asked, so its per-file
    // min/max ranges are disjoint (tight) rather than full-domain —
    // via the exact-percentile deterministic layout (its aggregation
    // passes run on the RAW frame, so the Observation above is consumed
    // by the write job, not a planning pass); `shape` overrides with a
    // caller-owned layout (the deterministic z-order routing) — it must
    // still produce ≤ nFiles partitions and must be row-preserving
    val shaped = shape.map(_(observed)).getOrElse(clusterBy match {
      case Some(k) => deterministicClusterShaper(df, k, nFiles)(observed)
      case None => observed.repartition(nFiles)
    })
    shaped.write.mode("overwrite").parquet(s"$path/data/$batch")
    val newFiles = writtenFileStats(spark, s"$path/data/$batch", s"$batch/", statsCols)
    val rowsWritten = newFiles.longs("n_rows").sum
    val rowsIn = obs.get("rows_in").asInstanceOf[Long]
    if (rowsIn != rowsWritten)
      throw new SnapshotTornWrite(
        s"torn write at $path/data/$batch: the write job consumed " +
          s"$rowsIn input rows but the durable files carry $rowsWritten " +
          "— refusing to commit a silently wrong table (orphaned batch " +
          "files are vacuum-collectable)")
    def attempt(b: Option[Long], carryFn: Manifest => DataFrame): Long = {
      val next = b.map(_ + 1).getOrElse(
        snapshotVersions(spark, path).lastOption.getOrElse(0L) + 1)
      // the new version's table schema: the carried base's recorded
      // schema unioned with the batch's (evolution only ADDS columns).
      // A base without a sidecar (pre-upgrade table) or a same-name
      // type conflict records none — readers keep the merged-footer
      // fallback rather than trusting a schema this commit can't prove.
      val tableSchema: Option[org.apache.spark.sql.types.StructType] =
        b.filter(_ > 0) match {
          case None => Some(df.schema) // replace / create: the batch alone
          case Some(v) => recordedSchema(spark, path, v)
            .flatMap(prev => unionSchema(prev, df.schema))
        }
      publishManifest(spark, path, carryFn(newFiles), next, tableSchema)
      next
    }
    // Optimistic retry: a commit whose carry COMMUTES with any
    // concurrent commit (an append — its batch's files are disjoint
    // from everything another writer can touch) passes `rebaseCarry`,
    // a carry factory over the ACTUAL head at retry time; the data
    // files are already landed, so a lost race re-derives only the
    // manifest and re-publishes — the every-table-format behavior for
    // non-overlapping writers. Read-modify-REWRITE commits (compact,
    // z-order, DML, partition overwrite) pass none: their content
    // derives from the base version, so a moved head means the work
    // itself is stale and the conflict must surface.
    var curBase = base
    var tries = 0
    while (true) {
      try return attempt(curBase,
        if (tries == 0) carry else rebaseCarry.get(curBase.get))
      catch {
        case c: SnapshotCommitConflict =>
          val head = snapshotVersions(spark, path).lastOption
          if (rebaseCarry.isEmpty || tries >= 10 || head.isEmpty ||
            curBase == head) throw c
          tries += 1
          curBase = head
      }
    }
    -1L // unreachable
  }

  /** Name-keyed schema union: base fields first (stable order), new
    * fields appended; None on a same-name dataType conflict (the
    * caller then records no sidecar — loud fallback, never a wrong
    * schema). Nullability widens. */
  private def unionSchema(prev: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    val byName = next.fields.map(f => f.name.toLowerCase -> f).toMap
    val conflict = prev.fields.exists(p =>
      byName.get(p.name.toLowerCase).exists(_.dataType != p.dataType))
    if (conflict) None
    else {
      val prevNames = prev.fieldNames.map(_.toLowerCase).toSet
      val widened = prev.fields.map(p => byName.get(p.name.toLowerCase)
        .map(n => p.copy(nullable = p.nullable || n.nullable)).getOrElse(p))
      val added = next.fields.filterNot(f => prevNames.contains(f.name.toLowerCase))
        .map(_.copy(nullable = true)) // absent in old files → NULL there
      Some(org.apache.spark.sql.types.StructType(widened ++ added))
    }
  }

  /** The table schema recorded with version `v`'s commit, when its
    * writer could prove one (see [[commitSnapshot]]). */
  def recordedSchema(spark: SparkSession, path: String, v: Long)
      : Option[org.apache.spark.sql.types.StructType] = {
    val fs = fsFor(spark, path)
    val f = new org.apache.hadoop.fs.Path(f"$path/versions/v$v%05d/_schema.json")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try org.apache.spark.sql.types.DataType.fromJson(
        new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)) match {
        case st: org.apache.spark.sql.types.StructType => Some(st)
        case _ => None
      } finally in.close()
    }
  }

  /** A version's full table schema — the recorded sidecar when the
    * commit carried one (O(1): one small file), else the
    * merged-footer read (exact but O(distinct batch schemas)). */
  def tableSchema(spark: SparkSession, path: String,
      asOf: Option[Long] = None): org.apache.spark.sql.types.StructType = {
    val v = resolveVersion(spark, path, asOf)
    recordedSchema(spark, path, v).getOrElse(
      readSnapshot(spark, path, Some(v), mergeSchema = true).schema)
  }

  /** The atomic commit point, factored out of [[commitSnapshot]] so
    * METADATA-ONLY commits ([[snapshotRestore]]) share the exact same
    * protocol: stage the manifest + a unique `_commit-*` marker under
    * `versions/.tmp-*`, rename to `vNNNNN`, and verify the marker sits
    * DIRECTLY under the destination (a move-INTO of an existing version
    * dir — Hadoop rename's behavior on HDFS and the RawLocal copy
    * fallback — fails that check, so the racing loser throws instead of
    * silently losing its update). */
  private def publishManifest(spark: SparkSession, path: String,
      manifest: DataFrame, next: Long,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val fs = fsFor(spark, path)
    val tmpName = s".tmp-${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = s"$path/versions/$tmpName"
    manifest.coalesce(1).write.mode("overwrite").parquet(tmp)
    // the version's TABLE SCHEMA rides the commit as a sidecar (the
    // `_` prefix keeps it invisible to the manifest's parquet read):
    // readers then resolve an evolved table's schema from ONE small
    // file instead of a merged-footer job over every data file —
    // schema-in-metadata, the same move every table format makes
    schema.foreach { st =>
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/_schema.json"), false)
      try out.write(st.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val marker = s"_commit-${java.util.UUID.randomUUID().toString.take(8)}"
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/$marker"), false).close()
    val dst = new org.apache.hadoop.fs.Path(f"$path/versions/v$next%05d")
    val renamed = fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
    if (!renamed || !fs.exists(new org.apache.hadoop.fs.Path(s"$dst/$marker"))) {
      // lost the race: either the rename failed outright, or it
      // "succeeded" by landing the staged dir INSIDE the winner's
      // already-committed version dir — remove the stray copy so the
      // winner's manifest stays clean, then surface the conflict
      if (renamed) fs.delete(new org.apache.hadoop.fs.Path(s"$dst/$tmpName"), true)
      else fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      throw new SnapshotCommitConflict(
        s"snapshot commit lost the race to $dst — another writer committed " +
          "on the same base version; re-derive and retry")
    }
  }

  /** Version `v`'s manifest, read in the driver thread with Spark's own
    * parquet reader, its schema off the file's footer — no Spark job
    * ([[Manifest.read]]). The file list and every stats filter over it
    * are driver work over these rows; the manifest's DataFrame view
    * ([[Manifest.frame]], used by carry unions, [[keyRangeFiles]] and
    * [[snapshotManifest]]) is a LocalRelation over them. */
  private[graft] def manifestOf(spark: SparkSession, path: String, v: Long): Manifest =
    Manifest.read(spark, f"$path/versions/v$v%05d")

  /** The file set a version's manifest lists (driver-side planner
    * metadata, one string per file). v == 0 is the empty pre-table
    * state — the ONE diff-base convention every consumer of version
    * diffs shares ([[snapshotChanges]], [[ivmDelta]], the streaming
    * source's per-batch planning). */
  private[graft] def manifestFiles(spark: SparkSession, path: String,
      v: Long): Set[String] =
    if (v == 0) Set.empty
    else manifestOf(spark, path, v).files.toSet

  /** A version's manifest as data — (file, n_rows, min/max stats,
    * batch_id/part where applicable), one row per live data file. The
    * planner-facing diagnostic surface: file-count/fragmentation checks,
    * stats-tightness audits, layout comparisons. Latest version when
    * `asOf` is None. A LocalRelation over the rows read on the driver. */
  def snapshotManifest(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame =
    manifestOf(spark, path, resolveVersion(spark, path, asOf)).frame

  /** Create the table: version 1 contains exactly `df`. `statsCols`
    * adds per-file min/max columns to every manifest (enabling
    * [[readSnapshotRange]] pruning); with `clusterBy` the batch is
    * range-clustered on that key so its stats are tight. Append
    * commits must pass the SAME statsCols — the manifest schema is
    * part of the table contract. */
  /** CREATE TABLE without data: version 1 is an EMPTY manifest (zero
    * data files) plus the declared schema as the commit's sidecar —
    * the table EXISTS (reads return an empty, correctly-typed frame;
    * the SQL catalog lists and resolves it) and the idiomatic
    * BigQuery-script chain `CREATE TABLE …; INSERT INTO …` runs
    * unmodified. `statsCols` declares the stats contract up front:
    * the empty manifest carries typed min_/max_ columns for them, so
    * the FIRST insert inherits the contract exactly as every later
    * one does ([[tableStatsCols]] reads it off the head manifest).
    * Commits as exactly v1 — two racing creators conflict instead of
    * silently shadowing one another (the [[snapshotWrite]] rule). */
  def snapshotCreateEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String] = Nil): Long = {
    require(snapshotVersions(spark, path).isEmpty,
      s"$path already has versions — use snapshotAppend/snapshotReplace")
    require(schema.nonEmpty, s"CREATE TABLE at $path needs at least one column")
    val fields = statsCols.map { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"statsCols column '$c' is not in the declared schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
    }
    import org.apache.spark.sql.types._
    val mfSchema = StructType(
      Seq(StructField("file", StringType), StructField("n_rows", LongType)) ++
        fields.flatMap(f => Seq(StructField(s"min_${f.name}", f.dataType),
          StructField(s"max_${f.name}", f.dataType))))
    publishManifest(spark, path, emptyOf(spark, mfSchema), 1L, Some(schema))
    1L
  }

  def snapshotWrite(df: DataFrame, path: String, nFiles: Int,
      statsCols: Seq[String] = Nil, clusterBy: Option[String] = None): Long = {
    require(snapshotVersions(df.sparkSession, path).isEmpty,
      s"$path already has versions — use snapshotAppend/snapshotReplace")
    // base = 0: two racing creators conflict on v00001 instead of both
    // "succeeding" with one table silently shadowed
    commitSnapshot(df, path, nFiles, _.frame, statsCols, clusterBy.map(col), Some(0L))
  }

  /** Append-only commit: the new version sees the latest version's
    * files PLUS the new batch — no existing file is rewritten, so the
    * commit cost is O(batch) at any accumulated table size. The commit
    * is pinned to base = the version the manifest was derived from, so
    * a concurrent commit in the read-modify-write window surfaces as a
    * thrown conflict, never as silently dropped files. */
  def snapshotAppend(df: DataFrame, path: String, nFiles: Int,
      statsCols: Seq[String] = Nil, clusterBy: Option[String] = None): Long = {
    val prev = snapshotVersions(df.sparkSession, path).lastOption.getOrElse(
      throw new IllegalArgumentException(s"$path has no versions to append to"))
    val old = manifestOf(df.sparkSession, path, prev)
    // appends COMMUTE with any concurrent commit (the new batch's
    // files are disjoint from everything another writer can touch), so
    // a lost base race rebases onto the actual head and re-publishes —
    // the data files are already landed, the retry is metadata-only
    commitSnapshot(df, path, nFiles, fresh => old.frame.unionByName(fresh.frame),
      statsCols, clusterBy.map(col), Some(prev), rebaseCarry =
        Some(nb => fresh =>
          manifestOf(df.sparkSession, path, nb).frame.unionByName(fresh.frame)))
  }

  /** Full-replace commit (WRITE_TRUNCATE as a version): the new version
    * lists ONLY the new batch; prior versions keep reading the old
    * files until [[vacuumSnapshots]] expires them. */
  def snapshotReplace(df: DataFrame, path: String, nFiles: Int,
      statsCols: Seq[String] = Nil, clusterBy: Option[String] = None): Long =
    commitSnapshot(df, path, nFiles, _.frame, statsCols, clusterBy.map(col))

  /** Range scan of a snapshot version with manifest pruning — the
    * [[prunedRead]] mechanic composed with time travel, i.e. what a
    * format's planner actually does: resolve the version, pick the
    * files whose [min_c, max_c] intersects [lo, hi] FROM THAT
    * VERSION'S manifest, scan only those, re-apply the predicate as
    * the residual. Historic versions prune just as well as the head —
    * their manifests are immutable. */
  def readSnapshotRange(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long, asOf: Option[Long] = None): DataFrame = {
    val v = resolveVersion(spark, path, asOf)
    val files = manifestOf(spark, path, v)
      .filter(col(s"min_$c") <= hi && col(s"max_$c") >= lo)
      .files.map(f => s"$path/data/$f")
    val data =
      if (files.isEmpty) readSnapshot(spark, path, Some(v)).filter(lit(false))
      else Manifest.readFiles(spark, files)
    data.filter(col(c) >= lo && col(c) <= hi)
  }

  /** Read the table as of version `asOf` (latest when None). The
    * manifest is read on the driver ([[Manifest.read]]) — planning
    * metadata, one row per data file, exactly what any format's planner
    * holds — and the read is given the schema inference would pick,
    * off the footers ([[Manifest.footerSchema]]), so it plans without
    * a job.
    *
    * `mergeSchema = true` enables schema-evolution reads: an appended
    * batch may carry ADDED columns (the only evolution a file-immutable
    * table supports without rewrite); older files surface NULL for
    * them. Off by default — merged-footer planning costs a footer read
    * per file, and most reads know their schema. */
  def readSnapshot(spark: SparkSession, path: String,
      asOf: Option[Long] = None, mergeSchema: Boolean = false): DataFrame = {
    val v = resolveVersion(spark, path, asOf)
    val files = manifestOf(spark, path, v).files.map(f => s"$path/data/$f")
    if (files.isEmpty)
      // a created-but-never-written table ([[snapshotCreateEmpty]]):
      // zero data files, schema from the commit's sidecar — an empty
      // frame in exactly the declared shape
      emptyOf(spark, recordedSchema(spark, path, v).getOrElse(
        throw new IllegalStateException(
          s"$path version $v lists no data files and records no schema")))
    else Manifest.readFiles(spark, files, mergeSchema)
  }

  /** Expire all but the newest `keep` versions and GC: delete expired
    * manifests, then every data file no surviving manifest references —
    * including orphans from crashed commits (data landed, manifest
    * rename never happened). Returns (versions expired, files deleted).
    * Collects are manifest/file LISTINGS, not data.
    *
    * `graceMs` guards the writer race every table format's VACUUM has:
    * a commit IN FLIGHT has landed data files its manifest does not yet
    * reference, and a concurrent vacuum would GC them as orphans —
    * corrupting the version about to publish. Files younger than
    * `graceMs` are therefore never deleted; production deployments set
    * it comfortably above the longest commit (the Delta/Iceberg
    * retention-window discipline). 0 only when no writer can be live. */
  def vacuumSnapshots(spark: SparkSession, path: String, keep: Int,
      graceMs: Long = 0L): (Long, Long) = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"$path has no committed versions to vacuum")
    val (expire, kept) = vs.splitAt((vs.size - keep).max(0))
    vacuumGc(spark, path, expire, kept, graceMs)
  }

  /** Time-based retention — `VACUUM … RETAIN n HOURS`: expire every
    * version COMMITTED (manifest rename mtime — the same clock
    * `TIMESTAMP AS OF` resolves against) before now − `retainMs`,
    * always keeping the head, then GC exactly as [[vacuumSnapshots]].
    * Retention-by-age is the contract CDC consumers configure
    * against: a reader that polls `changesFrom = v` at least every
    * `retainMs` never sees its base expire; one that lags longer gets
    * the loud version-expired error instead of a silently incomplete
    * diff. `graceMs` guards in-flight writers exactly as in
    * [[vacuumSnapshots]]. */
  def vacuumSnapshotsRetain(spark: SparkSession, path: String,
      retainMs: Long, graceMs: Long = 0L): (Long, Long) = {
    require(retainMs >= 0L, s"retainMs must be >= 0, got $retainMs")
    val fs = fsFor(spark, path)
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"$path has no committed versions to vacuum")
    val cutoff = System.currentTimeMillis() - retainMs
    def committedAt(v: Long): Long =
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f"$path/versions/v$v%05d"))
        .getModificationTime
    val (expire, kept) = vs.init.partition(committedAt(_) < cutoff)
    vacuumGc(spark, path, expire, kept :+ vs.last, graceMs)
  }

  private def vacuumGc(spark: SparkSession, path: String,
      expire: Seq[Long], kept: Seq[Long], graceMs: Long): (Long, Long) = {
    require(graceMs >= 0L, s"graceMs must be >= 0, got $graceMs")
    val fs = fsFor(spark, path)
    val referenced = kept.flatMap(manifestFiles(spark, path, _)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dataRoot = new org.apache.hadoop.fs.Path(s"$path/data")
    val it = fs.listFiles(dataRoot, true)
    var removed = 0L
    while (it.hasNext) {
      val st = it.next()
      val f = st.getPath
      val rel = s"${f.getParent.getName}/${f.getName}"
      if (f.getName.endsWith(".parquet") && !referenced.contains(rel)
          && st.getModificationTime <= cutoff) {
        fs.delete(f, false); removed += 1
      }
    }
    expire.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(f"$path/versions/v$v%05d"), true))
    // housekeeping beyond the parquet GC, same grace rule:
    //  - versions/.tmp-* — manifest staging a crashed commit never
    //    renamed (parquet under versions/ that the data-dir scan above
    //    can never reach)
    //  - batch dirs left with no parquet at all (only _SUCCESS shells)
    //    once their files were GC'd
    def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
      val children = fs.listStatus(p)
      if (children.isEmpty) 0L
      else children.map(_.getModificationTime).max
    }
    val vdir = new org.apache.hadoop.fs.Path(s"$path/versions")
    fs.listStatus(vdir).filter(_.getPath.getName.startsWith(".tmp-"))
      .filter(st => newestMtime(st.getPath).max(st.getModificationTime) <= cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    fs.listStatus(dataRoot).filter(_.isDirectory)
      .filter(st => !fs.listStatus(st.getPath)
        .exists(_.getPath.getName.endsWith(".parquet")))
      .filter(st => newestMtime(st.getPath).max(st.getModificationTime) <= cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    (expire.size.toLong, removed)
  }

  /** OPTIMIZE … ZORDER BY: rewrite the head version clustered on the
    * Morton interleave of 2–4 columns, so the layout prunes on EVERY
    * z axis — a table sorted on one key answers range predicates on
    * the others with a full scan; a z-clustered one skips most files
    * on any of them (Round10cSpec audits the file counts).
    *
    * The layout is DETERMINISTIC end to end — same committed input ⇒
    * byte-equal manifest, and (given the same output file count) the
    * same row→file assignment regardless of how the input happened to
    * be laid out. Both sampled stages of the naive plan are replaced:
    *
    *  1. Per-column bucket cuts: each column is first quantized onto a
    *     2^20-point grid between its exact [min, max] (one cheap exact
    *     aggregation), then cut at the grid values' EXACT percentiles
    *     (`percentile` — sort-based, merge-order independent; its
    *     state is capped at 2^20 entries per column by the grid, so
    *     the exactness costs bounded memory at any table size, unlike
    *     exact percentiles over raw unbounded-distinct doubles).
    *     `approxQuantile` — a driver-side merge-order-dependent sample
    *     — is gone; it made the layout differ run to run.
    *  2. File boundaries: output file f's z range is cut at the EXACT
    *     percentiles of the z-value itself (distinct-bounded by the
    *     2^(bits·k) z domain), and rows are routed to their file with
    *     collision-free hash routing ([[routingKeys]]) instead of
    *     `repartitionByRange`, whose sampled boundaries jittered the
    *     file/tile alignment between runs.
    *
    * The bucket/z/route expressions are scan-local literal-array
    * folds (codegen'd); the rewrite pays exactly the aggregations plus
    * the one shuffle every compaction pays. Stats land on all z
    * columns (plus whatever the manifest already carried); the layout
    * columns drop from the stored schema. The head is read
    * mergeSchema + aligned to the recorded table schema, so z-ordering
    * a schema-evolved table keeps evolution-added columns (a plain
    * head read could adopt a pre-evolution footer and silently null
    * them). Same commit discipline as [[compactSnapshot]]; partitioned
    * and streaming-sink tables refuse. */
  def compactSnapshotZorder(spark: SparkSession, path: String,
      zCols: Seq[String], targetBytes: Long, bits: Int): Long = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"ZORDER BY takes 2 to 4 columns, got ${zCols.size}: ${zCols.mkString(", ")}")
    require(bits >= 1 && bits <= 15, s"bits must be in [1, 15], got $bits")
    val headV = resolveVersion(spark, path)
    val mf = manifestOf(spark, path, headV)
    require(!mf.columns.contains("part") && !mf.columns.contains("batch_id"),
      s"$path is a partitioned or streaming-sink snapshot table — " +
        "z-order compaction serves plain batch tables (compact partitions " +
        "via snapshotOverwritePartition; sinks via compactSnapshot)")
    val head = alignToSchema(
      readSnapshot(spark, path, Some(headV), mergeSchema = true),
      tableSchema(spark, path, Some(headV)))
    // resolve the asked names case-insensitively (Spark's default SQL
    // resolution) to the STORED names; backtick-quote from here on so
    // a column whose name contains a dot stays a column, not a
    // struct-field path
    def resolve(c: String): String = head.columns
      .find(_.equalsIgnoreCase(c)).getOrElse(throw new IllegalArgumentException(
        s"z-order column '$c' is not a column of $path " +
          s"(${head.columns.mkString(", ")})"))
    val resolved = zCols.map(resolve)
    require(resolved.distinct.size == resolved.size,
      s"duplicate z-order columns: ${resolved.mkString(", ")}")
    def qcol(c: String): Column = col(s"`$c`")
    val nOut = targetFileCount(head, targetBytes, s"compactSnapshotZorder($path)")
    val nb = 1 << bits
    val grid = 1 << 20
    // pass 1: exact per-column [min, max] — one aggregation row
    val rangeRow = head.agg(
      min(qcol(resolved.head).cast("double")),
      resolved.tail.flatMap(c => Seq(min(qcol(c).cast("double")),
        max(qcol(c).cast("double")))) :+
        max(qcol(resolved.head).cast("double")): _*).head()
    def rng(j: Int): (Double, Double) = {
      // agg order above: min(c0), [min(c1), max(c1), …], max(c0)
      val (loIdx, hiIdx) =
        if (j == 0) (0, 1 + 2 * (resolved.size - 1)) else (2 * j - 1, 2 * j)
      (if (rangeRow.isNullAt(loIdx)) 0.0 else rangeRow.getDouble(loIdx),
        if (rangeRow.isNullAt(hiIdx)) 0.0 else rangeRow.getDouble(hiIdx))
    }
    // value → grid index in [0, grid): NULL stays NULL — it propagates
    // through the percentile state (which skips NULLs, so NULL-heavy
    // columns don't skew the cuts toward 0) and ranks into bucket 0 at
    // the SortedRank stage; a constant (or all-NULL) column collapses
    // to grid 0. The isNotNull gate matters in the non-degenerate
    // branch too: least/greatest SKIP null arguments, so without it a
    // NULL value would silently become grid 0 instead of staying NULL
    def gridded(c: String, lo: Double, hi: Double): Column =
      if (!(hi > lo)) when(qcol(c).isNotNull, lit(0))
      else when(qcol(c).isNotNull,
        least(lit(grid - 1), greatest(lit(0),
          floor((qcol(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(grid))
            .cast("int"))))
    val gridExprs = resolved.zipWithIndex.map { case (c, j) =>
      val (lo, hi) = rng(j); gridded(c, lo, hi)
    }
    // pass 2: exact percentile cuts over the grid indexes (state
    // ≤ `grid` distinct values per column — bounded, mergeable,
    // deterministic at any scale)
    val qs = (1 until nb).map(_.toDouble / nb).toArray
    val cutsRow = head.select(
        gridExprs.zipWithIndex.map { case (g, j) => g.as(s"__g$j") }: _*)
      .agg(percentile(col("__g0"), lit(qs)),
        (1 until resolved.size).map(j => percentile(col(s"__g$j"), lit(qs))): _*)
      .head()
    def cutsOf(j: Int): Seq[Double] =
      if (cutsRow.isNullAt(j)) Nil
      else cutsRow.getSeq[Double](j).distinct.sorted
    // rank of the grid value among the cut points = its quantile
    // bucket: O(log cuts) per row via the binary-search expression
    // (codegen'd, cuts referenced not inlined), scan-local. NULL → 0.
    def bucket(g: Column, cuts: Seq[Double]): Column =
      if (cuts.isEmpty) lit(0)
      else graft.functions.SortedRank.sortedRank(g, cuts)
    val z = zvalue(gridExprs.zipWithIndex.map { case (g, j) =>
      bucket(g, cutsOf(j)) }, bits)
    // pass 3: exact z percentiles = the output files' z boundaries
    // (distinct-bounded by the z domain, ≤ 2^(bits·k) entries)
    val zcuts: Seq[Double] =
      if (nOut <= 1) Nil
      else {
        val zq = (1 until nOut).map(_.toDouble / nOut).toArray
        val r = head.select(z.cast("double").as("__z"))
          .agg(percentile(col("__z"), lit(zq))).head()
        if (r.isNullAt(0)) Nil else r.getSeq[Double](0).distinct.sorted
      }
    val nParts = zcuts.size + 1
    // ordered by file id, so the lookup below is O(1) array indexing
    // (a map literal's element_at is a linear scan of the map)
    val routes: Seq[Int] = {
      val byPart = routingKeys(nParts)
      (0 until nParts).map(byPart)
    }
    val shaper: DataFrame => DataFrame = d => {
      // file id = z's rank among the file-boundary cuts — O(log files)
      // per row (a literal-array fold would pay O(files) per row, a
      // real cost once a compaction writes thousands of files)
      val fileId =
        if (zcuts.isEmpty) lit(0)
        else graft.functions.SortedRank.sortedRank(z, zcuts)
      d.withColumn("__zv", z)
        .withColumn("__route", element_at(typedLit(routes), fileId + lit(1)))
        .repartition(nParts, col("__route"))
        .sortWithinPartitions("__zv")
        .drop("__zv", "__route")
    }
    val effStats = (manifestStatsCols(mf) ++ resolved).distinct
    // diagnostic breadcrumb: the layout decisions of this rewrite, kept
    // for the z-query content guards' failure message ([[Invariants]])
    // — when a divergence fires in an environment we can't attach to
    // (the driver's), the error text itself carries the cuts
    lastZorderLayout =
      s"""{"path":${graft.Json.str(path)},"cols":${resolved.mkString("[\"", "\",\"", "\"]")},""" +
        s""""bits":$bits,"nOut":$nOut,"nParts":$nParts,""" +
        s""""colCuts":[${resolved.indices.map(j => cutsOf(j).size).mkString(",")}],""" +
        s""""zcuts":${zcuts.size},"zcutHead":[${zcuts.take(8).mkString(",")}],""" +
        s""""ranges":[${resolved.indices.map { j => val (l, h) = rng(j); s"[$l,$h]" }.mkString(",")}]}"""
    commitSnapshot(head, path, nParts, _.frame, effStats, None, Some(headV),
      shape = Some(shaper))
  }

  /** Layout decisions of the LAST [[compactSnapshotZorder]] run in this
    * JVM — a diagnostic breadcrumb the z-query content guards fold into
    * their failure message. Volatile write-once-per-run metadata, not a
    * correctness input. */
  @volatile private[graft] var lastZorderLayout: String = "(no zorder run yet)"

  /** Deterministic order-preserving numeric proxy of a cluster key —
    * what the exact-percentile staging layout cuts on. Monotonic in the
    * key's sort order for the types a cluster key realistically has
    * (numerics, strings, dates/timestamps), so per-file key ranges stay
    * disjoint and manifest min/max stats stay tight. Strings embed via
    * their first 6 UTF-8 bytes as a big-endian integer (48 bits — exact
    * in a double; lexicographic byte order == numeric order, and
    * right-padding the hex with zeros aligns shorter strings low); keys
    * that collide on the prefix simply share a bucket — disjointness is
    * preserved because the embedding is monotonic. Types with no cheap
    * order-preserving embedding fall back to a deterministic hash: the
    * layout is then hash- not range-clustered (loose stats, same
    * correctness) but still identical run to run. */
  private def orderProxy(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => c.cast("double")
      case BooleanType => c.cast("int").cast("double")
      case DateType | TimestampType | TimestampNTZType =>
        c.cast("timestamp").cast("double")
      // strings are handled in [[deterministicClusterShaper]] itself
      // (the proxy needs the key range's common prefix); anything else
      // has no cheap order-preserving embedding — a deterministic hash
      // keeps the layout stable run to run, just not range-clustered
      case _ => xxhash64(c).cast("double")
    }
  }

  /** Deterministic replacement for `repartitionByRange(nParts, key).
    * sortWithinPartitions(key)` — the staging-write twin of
    * [[compactSnapshotZorder]]'s exact layout mechanics, closing the
    * LAST sampled layout stage in the snapshot pipeline (r11 verdict:
    * `repartitionByRange`'s boundaries come from a per-run sample job,
    * so the committed file layout — and through compression its byte
    * sizes — varied run to run and with the environment's input
    * partitioning; it is also the operator family whose sample-job /
    * stage-retry interactions historically produced silent row loss).
    *
    * Mechanics: quantize the key's order proxy onto a 2^20 grid between
    * its exact [min, max] (one aggregation), cut the grid values at
    * exact percentiles (`percentile` — sort-based, merge-order
    * independent, state bounded by the grid), rank each row among the
    * cuts with the O(log n) codegen'd [[graft.functions.SortedRank]]
    * expression, and route bucket b to physical partition b through the
    * collision-free [[routingKeys]] murmur keys. Two bounded
    * aggregation passes (each column-pruned to the key) replace
    * `repartitionByRange`'s hidden sample pass; rows then sort within
    * their file on the REAL key, so in-file order is exact even where
    * the proxy collides. NULL keys rank 0 (first bucket) — the
    * NULLS-FIRST placement `repartitionByRange` had — and are excluded
    * from the percentile state.
    *
    * The aggregation passes run on `sample` (the caller's raw frame);
    * the returned function applies the precomputed layout to any
    * same-schema frame — so [[commitSnapshot]]'s rows-in Observation is
    * consumed by the WRITE job itself, not by a planning pass. */
  private[graft] def deterministicClusterShaper(sample: DataFrame,
      key: Column, nParts: Int,
      sortCols: Seq[Column] = Nil): DataFrame => DataFrame = {
    val grid = 1 << 20
    import org.apache.spark.sql.types.StringType
    val dt = sample.select(key.as("__cluster")).schema.head.dataType
    // (proxy expression, exact proxy [lo, hi]) — resolved with ONE
    // bounded aggregation pass either way. Strings embed via the 6
    // UTF-8 bytes AFTER the key range's common prefix (computed from
    // the exact min/max strings, so "doc_000123"-style keys with a
    // long shared prefix still spread over the full grid): 48 bits,
    // exact in a double, unsigned-byte order == Spark's string order.
    val resolved: Option[(Column, Double, Double)] =
      if (nParts <= 1) None
      else dt match {
        case StringType =>
          val r = sample.select(key.as("__cluster"))
            .agg(min(col("__cluster")), max(col("__cluster"))).head()
          if (r.isNullAt(0) || r.isNullAt(1)) None // empty or all-NULL
          else {
            val cs = java.nio.charset.StandardCharsets.UTF_8
            val (bmin, bmax) = (r.getString(0).getBytes(cs),
              r.getString(1).getBytes(cs))
            var l = 0
            while (l < bmin.length && l < bmax.length && bmin(l) == bmax(l))
              l += 1
            def slice(b: Array[Byte]): Double = {
              var v = 0L; var i = 0
              while (i < 6) {
                v = (v << 8) | (if (l + i < b.length) b(l + i) & 0xffL else 0L)
                i += 1
              }
              v.toDouble
            }
            val (lo, hi) = (slice(bmin), slice(bmax))
            if (!(hi > lo)) None // constant key: one bucket
            else Some((conv(rpad(hex(substring(
              encode(col("__cluster"), "UTF-8"), l + 1, 6)), 12, "0"), 16, 10)
              .cast("double"), lo, hi))
          }
        case _ =>
          val p = orderProxy(col("__cluster"), dt)
          val r = sample.select(key.as("__cluster")).agg(min(p), max(p)).head()
          if (r.isNullAt(0) || r.isNullAt(1)) None
          else {
            val (lo, hi) = (r.getDouble(0), r.getDouble(1))
            if (!(hi > lo)) None else Some((p, lo, hi))
          }
      }
    def gridOf(proxy: Column, lo: Double, hi: Double): Column =
      when(col("__cluster").isNotNull,
        least(lit(grid - 1), greatest(lit(0),
          floor((proxy - lit(lo)) / lit(hi - lo) * lit(grid)).cast("int"))))
    val cuts: Seq[Double] = resolved match {
      case None => Nil
      case Some((proxy, lo, hi)) =>
        val qs = (1 until nParts).map(_.toDouble / nParts).toArray
        val row = sample.select(key.as("__cluster"))
          .select(gridOf(proxy, lo, hi).cast("double").as("__g"))
          .agg(percentile(col("__g"), lit(qs))).head()
        if (row.isNullAt(0)) Nil else row.getSeq[Double](0).distinct.sorted
    }
    val nB = cuts.size + 1
    val routes: Seq[Int] = { val m = routingKeys(nB); (0 until nB).map(m) }
    d => {
      val bucket = resolved match {
        case Some((proxy, lo, hi)) if cuts.nonEmpty =>
          graft.functions.SortedRank.sortedRank(gridOf(proxy, lo, hi), cuts)
        case _ => lit(0)
      }
      val sorts = if (sortCols.nonEmpty) sortCols else Seq(col("__cluster"))
      d.withColumn("__cluster", key)
        .withColumn("__route", element_at(typedLit(routes), bucket + lit(1)))
        .repartition(nB, col("__route"))
        .sortWithinPartitions(sorts: _*)
        .drop("__cluster", "__route")
    }
  }

  /** For each shuffle partition p in [0, n), an int key k with
    * pmod(murmur3(k, 42), n) == p — exactly the partition id
    * `repartition(n, col)` computes for an int column
    * (HashPartitioning = Murmur3Hash seed 42, pmod n). Routing rows
    * through these keys places logical bucket p in physical partition
    * p: deterministic, collision-free file assignment with plain
    * hash partitioning — no sampled range boundaries anywhere in the
    * layout. Found by scanning k upward (coupon-collector,
    * O(n log n) hash probes — driver-side planner metadata). */
  private def routingKeys(n: Int): Map[Int, Int] = {
    val keys = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var k = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; keys(p) = k; remaining -= 1 }
      k += 1
    }
    keys.zipWithIndex.map { case (key, p) => p -> key }.toMap
  }

  /** Compact a snapshot table IN the snapshot layer: read the head
    * version, rewrite it as ~`targetBytes` files (optionally
    * range-clustered with tight manifest stats), and commit the result
    * as a REPLACE version. Readers never see a half-compacted table
    * (the new manifest is one atomic rename), concurrent time-travel
    * readers of old versions are untouched, and the pre-compaction
    * files stay reclaimable-but-readable history until
    * [[vacuumSnapshots]] expires them — OPTIMIZE without a lock, the
    * reason every table format models compaction as just another
    * commit. Streaming-sink tables compact too: the replace manifest
    * carries the head's batch-id high watermark forward, so a replayed
    * micro-batch arriving after a compaction is still recognized and
    * skipped. Returns the new version id.
    *
    * `statsCols` defaults to the columns the head manifest already
    * carries (everything outside the file/n_rows/batch_id bookkeeping),
    * so compacting a stats-carrying table cannot silently produce a
    * head manifest that breaks [[readSnapshotRange]] or the next
    * [[snapshotAppend]] with the original statsCols — the manifest
    * schema is part of the table contract and compaction preserves it
    * unless explicitly overridden. */
  def compactSnapshot(spark: SparkSession, path: String, targetBytes: Long,
      statsCols: Seq[String] = Nil, clusterBy: Option[String] = None): Long = {
    // resolve the head version ONCE; the commit below is pinned to it,
    // so a sink batch (or any writer) landing while the rewrite runs
    // turns into a thrown conflict — a listing-time version would let
    // this commit succeed one number later and silently DROP the
    // concurrent batch from the head (lost update)
    val headV = resolveVersion(spark, path)
    // mergeSchema + align: a whole-table rewrite of a schema-evolved
    // table must carry evolution-added columns — a plain read can
    // adopt a pre-evolution footer's schema and silently null them
    // out of the rewritten files
    val head = alignToSchema(
      readSnapshot(spark, path, Some(headV), mergeSchema = true),
      tableSchema(spark, path, Some(headV)))
    val nOut = targetFileCount(head, targetBytes, s"compactSnapshot($path)")
    val headManifest = manifestOf(spark, path, headV)
    require(!headManifest.columns.contains("part"),
      s"$path is a partitioned snapshot table — whole-table compaction " +
        "would collapse its partition-pure file layout; compact one " +
        "partition at a time by re-landing it through " +
        "snapshotOverwritePartition(readSnapshotPartitions(...), ...)")
    val effStats =
      if (statsCols.nonEmpty) statsCols
      else manifestStatsCols(headManifest)
    val isSink = headManifest.columns.contains("batch_id")
    val carry: Manifest => DataFrame =
      if (!isSink) _.frame
      else fresh => {
        // preserve the sink's replay-skip memory: stamp every compacted
        // file with the max committed batch id (the watermark is all
        // sinkBatchWatermark needs — per-file provenance died with the
        // rewrite, and a future batch id is always > every past one)
        val maxId = headManifest.longs("batch_id").max
        fresh.frame.withColumn("batch_id", lit(maxId))
      }
    commitSnapshot(head, path, nOut, carry, effStats, clusterBy.map(col), Some(headV))
  }

  /** The stats contract of the table at `path` (head version): the
    * columns whose min/max every manifest carries. What a writer that
    * did not create the table (SQL INSERT INTO, DataFrameWriter
    * without options) must pass to append without breaking the
    * manifest schema — the public face of [[manifestStatsCols]]. */
  def tableStatsCols(spark: SparkSession, path: String): Seq[String] =
    manifestStatsCols(manifestOf(spark, path, resolveVersion(spark, path)))

  /** The stats columns a manifest carries: every `min_X`/`max_X` pair's
    * X. This is how compaction (and any other whole-table rewrite)
    * re-derives the table's stats contract from the table itself
    * instead of requiring the caller to repeat it. */
  private def manifestStatsCols(manifest: Manifest): Seq[String] = {
    val cols = manifest.columns.toSet
    manifest.columns.toIndexedSeq.collect {
      case c if c.startsWith("min_") && cols.contains("max_" + c.drop(4)) =>
        c.drop(4)
    }
  }

  // ───── partition spec: atomic partition-overwrite versions ──────────
  //
  // The Iceberg-partition-spec half of what statsCols pruning already
  // does: a DECLARED partition column, recorded per file in the
  // manifest, makes "re-land day N" an atomic VERSION that carries
  // every other partition's files verbatim — the day-keyed MERGE
  // degenerate case (DailyPipeline's run-shape) with snapshot isolation,
  // time travel, and conflict detection on top. Files are partition-PURE
  // (one partition value per file), verified from the just-written
  // stats, so an overwrite can always carry-or-drop whole files.

  /** Atomically overwrite ONE partition of a versioned table: land `df`
    * (which must contain only `partCol == partValue` rows — verified
    * against the just-written file stats, not trusted) as a new batch,
    * and commit a version whose manifest carries every file of every
    * OTHER partition verbatim plus the new files stamped
    * `part = partValue`. First commit creates the table. Re-landing the
    * same partition is idempotent at the table level: the new version
    * reads identically, the old partition's files become GC-able
    * history. Commit cost is O(partition), table size irrelevant; the
    * commit is pinned to the base version, so concurrent landers
    * conflict instead of silently shadowing each other (coarser than a
    * per-partition lock — the safe default for a daily cadence).
    * `partValue` is the partition's STRING form (dates as yyyy-MM-dd);
    * the stats check compares through a string cast, so use the
    * column's canonical rendering. `base` pins the commit to an
    * explicit base version for callers whose rewrite DERIVES from table
    * state ([[compactSnapshotPartition]]) — a concurrent commit in
    * their read-rewrite window then throws instead of being silently
    * overwritten; plain landers (whose df comes from source, not from
    * the table) leave it None and pin the call-time head. Returns the
    * new version id. */
  def snapshotOverwritePartition(df: DataFrame, path: String, partCol: String,
      partValue: String, nFiles: Int, statsCols: Seq[String] = Nil,
      clusterBy: Option[String] = None, base: Option[Long] = None): Long = {
    val spark = df.sparkSession
    // partCol always carries stats: they are the purity proof
    val effStats =
      if (statsCols.contains(partCol)) statsCols else statsCols :+ partCol
    val prev = base.orElse(snapshotVersions(spark, path).lastOption)
    val carry: Manifest => DataFrame = fresh => {
      // isNull arms: a file holding rows whose partition column is NULL
      // has NULL stats — that's rows OUTSIDE the declared partition,
      // not a pass (min/max comparisons alone would go NULL and slip
      // it). Zero-row files are exempt: no rows, nothing impure — they
      // legitimately carry NULL stats (see writtenFileStats).
      val impure = fresh.filter(col("n_rows") > 0 &&
        (col(s"min_$partCol").isNull || col(s"max_$partCol").isNull ||
          col(s"min_$partCol").cast("string") =!= partValue ||
          col(s"max_$partCol").cast("string") =!= partValue)).size
      if (impure > 0)
        throw new IllegalArgumentException(
          s"$impure written file(s) carry rows outside partition " +
            s"$partCol=$partValue — a partition overwrite must land only " +
            "its own partition's rows")
      val stamped = fresh.frame.withColumn("part", lit(partValue))
      prev.map { v =>
        val old = manifestOf(spark, path, v)
        require(old.columns.contains("part"),
          s"$path is not a partitioned snapshot table (no 'part' column " +
            "in its manifest) — it was created by a non-partition writer")
        old.filter(col("part") =!= partValue).frame.unionByName(stamped)
      }.getOrElse(stamped)
    }
    commitSnapshot(df, path, nFiles, carry, effStats, clusterBy.map(col),
      Some(prev.getOrElse(0L)))
  }

  /** Compact ONE partition of a partitioned snapshot table: read its
    * files, rewrite them as ~`targetBytes`-sized files, and commit the
    * result as a partition-overwrite version — OPTIMIZE scoped to a
    * partition, which is the only compaction a partitioned table needs
    * (whole-table compaction would collapse the partition-pure file
    * layout — [[compactSnapshot]] refuses and points here). Every other
    * partition's files carry verbatim; concurrent commits conflict via
    * the usual base pinning; history stays readable until vacuum.
    * statsCols defaults to the head manifest's stats contract. At
    * 100 TB this runs day-by-day behind the daily lander, each commit
    * O(one partition). Returns the new version id. */
  def compactSnapshotPartition(spark: SparkSession, path: String,
      partCol: String, partValue: String, targetBytes: Long,
      statsCols: Seq[String] = Nil, clusterBy: Option[String] = None): Long = {
    // resolve the head ONCE and pin both the read and the commit to it:
    // the rewrite derives from table state, so a day re-landed during
    // the rewrite window must turn into a thrown conflict — an
    // unpinned commit would quietly overwrite it with the stale bytes
    val headV = resolveVersion(spark, path)
    val mf = manifestOf(spark, path, headV)
    require(mf.columns.contains("part"),
      s"$path is not a partitioned snapshot table")
    require(!mf.filter(col("part") === partValue).isEmpty,
      s"$path has no files in partition $partCol=$partValue")
    val slice = readSnapshotPartitions(spark, path, Seq(partValue), Some(headV))
    val nOut = targetFileCount(slice, targetBytes,
      s"compactSnapshotPartition($path, $partValue)")
    val effStats =
      if (statsCols.nonEmpty) statsCols
      else manifestStatsCols(mf).filterNot(_ == partCol)
    snapshotOverwritePartition(slice, path, partCol, partValue, nOut,
      effStats, clusterBy, base = Some(headV))
  }

  /** DROP a whole partition as a METADATA-ONLY commit — the retention
    * verb of a day-partitioned table (expire days older than N): the
    * new version's manifest simply omits the partition's files, so the
    * commit does ZERO data work at any partition size (vs
    * [[snapshotDelete]]'s rewrite, which is for ranges that cut
    * through files); the dropped files stay readable through older
    * versions until [[vacuumSnapshots]] reclaims them — retention is
    * drop-then-vacuum, in that order, with time travel in between.
    * Partition purity (every file wholly inside its declared
    * partition, verified at write) is what makes the manifest filter
    * exact. Refuses to drop the LAST partition: a version must list at
    * least one file (an empty table is an explicit
    * [[snapshotReplace]] of an empty frame, which commits a real
    * zero-row file to keep the schema readable). Pinned to the head it
    * derived from; returns the new version id. */
  def snapshotDropPartition(spark: SparkSession, path: String,
      partValue: String): Long = {
    val headV = resolveVersion(spark, path)
    val mf = manifestOf(spark, path, headV)
    require(mf.columns.contains("part"),
      s"$path is not a partitioned snapshot table")
    require(!mf.filter(col("part") === partValue).isEmpty,
      s"$path has no files in partition $partValue")
    val rest = mf.filter(col("part") =!= partValue)
    require(!rest.isEmpty,
      s"dropping $partValue would empty $path — replace with an empty " +
        "frame instead (snapshotOverwritePartition keeps layouts; a " +
        "version must list at least one file)")
    val next = headV + 1
    // schema unchanged by a metadata drop — carry the head's record
    publishManifest(spark, path, rest.frame, next, recordedSchema(spark, path, headV))
    next
  }

  /** Partition DROP as a driver-visible query: land four event shards
    * as partition-overwrite versions, DROP one, and aggregate the head
    * beside the pre-drop version — the head must answer exactly the
    * three surviving shards while the old version still answers all
    * four (retention with time travel). The oracle restates both from
    * the raw table; Round10bSpec pins the zero-data-work claim
    * (data-file set untouched by the drop) and vacuum reclaiming
    * exactly the dropped shard's files. */
  def partitionDropQuery(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("pdrop") { p =>
      val ev = Tables.events(spark, dir)
        .withColumn("shard", (col("event_id") % 4).cast("string"))
      for (r <- 0 to 3)
        snapshotOverwritePartition(ev.filter(col("shard") === r.toString), p,
          "shard", r.toString, nFiles = 2, statsCols = Seq("event_id"))
      val preDrop = snapshotVersions(spark, p).last
      val dropped = snapshotDropPartition(spark, p, "2")
      import graft.functions.Compat._
      def agg(v: Long) = readSnapshot(spark, p, Some(v))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"))
        .select(lit(v).as("version"), col("n"), col("sum_value"))
      agg(preDrop).unionByName(agg(dropped)).orderBy("version")
    }

  private val partitionDropOracle = {
    import graft.functions.Compat.rSql
    s"""SELECT CAST(4 AS BIGINT) AS version, COUNT(*) AS n,
       |  ${rSql("SUM(value)", 4)} AS sum_value FROM events
       |UNION ALL
       |SELECT CAST(5 AS BIGINT), COUNT(*), ${rSql("SUM(value)", 4)}
       |FROM events WHERE event_id % 4 <> 2
       |ORDER BY version""".stripMargin
  }

  /** Read only the named partitions of a partitioned snapshot table —
    * file selection straight off the manifest's `part` column (planner
    * metadata), so the scan cost is O(requested partitions). */
  def readSnapshotPartitions(spark: SparkSession, path: String,
      values: Seq[String], asOf: Option[Long] = None): DataFrame = {
    val v = resolveVersion(spark, path, asOf)
    val mf = manifestOf(spark, path, v)
    require(mf.columns.contains("part"),
      s"$path is not a partitioned snapshot table")
    val files = mf.filter(col("part").isin(values: _*))
      .files.map(f => s"$path/data/$f")
    if (files.isEmpty) readSnapshot(spark, path, Some(v)).filter(lit(false))
    else Manifest.readFiles(spark, files)
  }

  /** The table's commit history as data: one row per live version —
    * (version, committed_at, n_files, n_rows, n_added_files,
    * max_batch_id) — the operational DESCRIBE HISTORY surface: what
    * landed when, how fragmented the table is getting (the compaction
    * trigger), how far the sink watermark advanced. Driver-side over
    * the manifests (planner metadata, one row per file per version),
    * aggregated in Scala over the rows read on the driver — no Spark
    * job per version; committed_at is the manifest dir's mtime — the
    * rename instant, i.e. the commit point itself. */
  def snapshotHistory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, path)
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"$path has no committed versions")
    var prev = Set.empty[String]
    vs.map { v =>
      val mf = manifestOf(spark, path, v)
      val files = mf.files.toSet
      val mtime = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(f"$path/versions/v$v%05d"))
        .getModificationTime
      val row = (v, new java.sql.Timestamp(mtime), mf.size.toLong,
        mf.longs("n_rows").sum, files.diff(prev).size.toLong,
        if (mf.columns.contains("batch_id")) mf.longs("batch_id").maxOption
        else None)
      prev = files
      row
    }.toDF("version", "committed_at", "n_files", "n_rows",
      "n_added_files", "max_batch_id")
  }

  /** DESCRIBE HISTORY as a driver-visible query: land evens (v1),
    * append odds (v2), RESTORE to v1 (v3), and read the table's own
    * commit log — per version its file count, row count, and files
    * ADDED over the previous version. The restore row is the point:
    * n_added_files = 0 proves the rollback was metadata-only while
    * n_rows flipped back to the v1 table, and the deterministic file
    * counts (round-robin nFiles) let a plain-SQL oracle state the
    * whole history. committed_at/max_batch_id are dropped from the
    * registered projection (wall-clock mtime is not replayable). */
  def snapshotHistoryQuery(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("hist") { p =>
      val ev = Tables.events(spark, dir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 4,
        statsCols = Seq("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 4,
        statsCols = Seq("event_id"))
      snapshotRestore(spark, p, 1L)
      snapshotHistory(spark, p)
        .select("version", "n_files", "n_rows", "n_added_files")
        .orderBy("version")
    }

  private val snapshotHistoryOracle =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(4 AS BIGINT) AS n_files,
      |  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0) AS n_rows,
      |  CAST(4 AS BIGINT) AS n_added_files
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(8 AS BIGINT),
      |  (SELECT COUNT(*) FROM events), CAST(4 AS BIGINT)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(4 AS BIGINT),
      |  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0),
      |  CAST(0 AS BIGINT)
      |ORDER BY version""".stripMargin

  /** The DSv2 WRITE path as a driver-visible query — the reference's
    * CREATE-OR-REPLACE/WRITE_TRUNCATE DAG shape driven entirely through
    * `df.write.format(...)`: mode("overwrite") creates the table (v1 =
    * the even event_ids), mode("append") lands the odds (v2), a second
    * mode("overwrite") is WRITE_TRUNCATE-as-a-version (v3 = the %5
    * slice) — then the result aggregates v2 AND v3 through the DSv2
    * reader, so the gate hash-checks that the SQL-side truncate kept
    * history readable (v2 must still answer the full table after v3
    * replaced it). */
  def snapshotWriteQuery(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("snapw") { p =>
      val ev = Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type", "value")
      def write(df: DataFrame, mode: String): Unit =
        df.write.format("graft.sources.SnapshotSource")
          .option("nFiles", 4).option("statsCols", "event_id")
          .option("clusterBy", "event_id").mode(mode).save(p)
      write(ev.filter(col("event_id") % 2 === 0), "overwrite") // creates v1
      write(ev.filter(col("event_id") % 2 === 1), "append")    // v2 = full
      write(ev.filter(col("event_id") % 5 === 0), "overwrite") // v3 = truncate
      def agg(asOf: Long) = spark.read.format("graft.sources.SnapshotSource")
        .option("asOf", asOf).load(p)
        .groupBy(lit(asOf).as("version"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      agg(2L).unionByName(agg(3L)).orderBy("version", "event_type")
    }

  private val snapshotWriteOracle =
    """SELECT CAST(2 AS BIGINT) AS version, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), event_type, COUNT(*),
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE)
      |FROM events WHERE event_id % 5 = 0 GROUP BY event_type
      |ORDER BY version, event_type""".stripMargin

  // ───── incremental consumption: version-diff (CDC) reads ────────────

  /** The rows ADDED to a snapshot table between two versions — read
    * from exactly the files `toV`'s manifest lists that `fromV`'s does
    * not (file diff is driver-side planner metadata; the scan is
    * O(delta), never O(table)). This is what makes a downstream job
    * INCREMENTAL at 100 TB: consume `snapshotChanges(last-seen, head)`
    * instead of re-reading the table, then record the new head — with
    * version pinning the read is a consistent cut, and vacuum's `keep`
    * window bounds how far behind a consumer may fall.
    *
    * Granularity contract: files are immutable, so for APPEND-shaped
    * commits (snapshotAppend, snapshotSinkBatch, a partition-overwrite
    * landing a new partition) this is row-exact — the delta files hold
    * precisely the new rows. For REWRITE commits (snapshotMerge,
    * compaction, re-landing an existing partition) the delta files are
    * a SUPERSET of the changed rows (carried rows were rewritten into
    * them); key-exact diffs under merges anti-join the delta on the
    * base version by key, which is still O(delta) on the scan side.
    * Deletes do not surface (a vanished file is absence, not rows);
    * merge consumers needing deletions read the changeset, not the
    * table. */
  def snapshotChanges(spark: SparkSession, path: String,
      fromV: Long, toV: Long): DataFrame = {
    val vs = snapshotVersions(spark, path)
    require(vs.contains(fromV) && vs.contains(toV),
      s"versions ($fromV, $toV) must both exist in $vs")
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    val before = manifestFiles(spark, path, fromV)
    val added = (manifestFiles(spark, path, toV) -- before)
      .toIndexedSeq.sorted.map(f => s"$path/data/$f")
    if (added.isEmpty) readSnapshot(spark, path, Some(toV)).filter(lit(false))
    else Manifest.readFiles(spark, added)
  }

  /** CDC as a driver-visible query: commit the even-event_id half as
    * v1, append the odds as v2, and aggregate ONLY
    * [[snapshotChanges]](v1 → v2) — which for an append commit is
    * row-exactly the odd half, so the oracle is the plain odd-half
    * aggregate over the raw table. Any delta leak (a carried file in
    * the diff, a new file missed) changes counts and hash-fails.
    * Round10Spec pins the mechanics: the changes scan plans only the
    * delta files, same-version diff is empty, and a merge's delta is
    * the rewritten superset. */
  def snapshotCdc(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("cdc") { p =>
      import graft.functions.Compat._
      val ev = Tables.events(spark, dir)
      val v1 = snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val v2 = snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      snapshotChanges(spark, p, v1, v2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("sum_value"))
        .orderBy("event_type")
    }

  private val snapshotCdcOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id % 2 = 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ───── copy-on-write MERGE INTO ──────────────────────────────────────

  /** Row-level MERGE into a versioned snapshot table — the one write
    * mechanic every real table format has beyond append/replace, and
    * the reference's nightly WRITE_TRUNCATE upload done right: apply a
    * changeset without rewriting the table.
    *
    * Copy-on-write on the row-level substrate the SQL verbs share:
    * [[dmlBase]] resolves the base version (`asOf`, default head) and
    * its manifest and refuses streaming-sink tables; partitioned tables
    * refuse like every other row-level verb. [[keyRangeFiles]] picks
    * ONLY the files whose [min_key, max_key] range contains at least
    * one changeset key — the same helper SQL MERGE prunes its equality
    * keys with; [[readDataFiles]] reads them and the
    * [[Relational.applyMerge]] kernel rewrites them (full-outer join +
    * CASE resolution — insert keys that match no file surface on the
    * changeset side of the same join); [[rewriteFilesCommit]] carries
    * every untouched file's manifest row VERBATIM and commits the
    * rewrite clustered on `key`, pinned to the base version, so a
    * concurrent commit in the read-rewrite window surfaces as a thrown
    * conflict, never as a silent lost update. At 100 TB a key-clustered
    * table turns a day's changeset into a rewrite of the few files its
    * keys actually live in — the commit is O(touched + changeset),
    * never O(table).
    *
    * Changeset contract is [[Relational.applyMerge]]'s: unique keys,
    * full row images, op ∈ {D, U, I}. The table must have been written
    * with manifest stats on `key` (statsCols) — merge refuses to run
    * without them, because "no stats" would force a whole-table
    * rewrite that should be an explicit [[snapshotReplace]] instead.
    * Returns the new version id. */
  def snapshotMerge(spark: SparkSession, path: String, changes: DataFrame,
      key: String, nFiles: Int, asOf: Option[Long] = None): Long = {
    val (baseV, mf) = dmlBase(spark, path, asOf, "MERGE")
    requireUnpartitioned(path, mf, "merge into")
    require(mf.columns.contains(s"min_$key") && mf.columns.contains(s"max_$key"),
      s"$path carries no manifest stats on '$key' — merge needs them to " +
        "prune; write the table with statsCols (or use snapshotReplace)")
    val touched = keyRangeFiles(mf, changes.select(col(key)), key)
    // no file touched (an all-insert changeset): the base is the
    // version's empty frame in its plain-read schema — the schema
    // applyMerge holds the changeset's full row images to
    val base =
      if (touched.isEmpty) readSnapshot(spark, path, Some(baseV)).filter(lit(false))
      else readDataFiles(spark, path, touched, baseV)
    // r13 (guide §6 read-once, §5 cache-what-you-reuse): commitSnapshot
    // consumes `merged` THREE times — the deterministic cluster shaper's
    // min/max and percentile planning passes plus the write job itself —
    // and each pass re-ran the touched-file scan AND the full-outer
    // changeset join. Persisting the merged frame computes the join once
    // (MEMORY_AND_DISK default spills gracefully at scale; the frame is
    // O(touched + changeset), never O(table)); values, layout, and the
    // torn-write observation are unchanged — the write job still counts
    // the rows it consumes, now from the cache.
    val merged = Relational.applyMerge(base, changes, key).persist()
    try rewriteFilesCommit(spark, path, mf, touched, merged, nFiles,
      Some(col(key)), baseV)
    finally merged.unpersist(blocking = false): Unit
  }

  /** MERGE INTO as a driver-visible query: stage orders as a versioned
    * table key-clustered into 8 stats-carrying files, apply the shared
    * deterministic CDC changeset ([[Relational.ordersChangeset]] — the
    * q_merge_upsert semantics) through [[snapshotMerge]], and aggregate
    * the POST-MERGE table read back through the snapshot reader. The
    * oracle is q_merge_upsert's anti-join + UNION ALL formulation, so
    * the gate hash-checks the whole stage → prune → rewrite → commit →
    * read path against an implementation-free statement of MERGE.
    * Round10Spec pins the cost side this query can't see: untouched
    * files are carried byte-identical, and a stale base version throws
    * instead of dropping the interleaved commit. */
  def mergeSnapshot(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("merge") { p =>
      import graft.functions.Compat._
      val orders = Tables.orders(spark, dir)
      snapshotWrite(orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        p, nFiles = 8, statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey"))
      snapshotMerge(spark, p, Relational.ordersChangeset(orders),
        "o_orderkey", nFiles = 4)
      readSnapshot(spark, p)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy("status")
    }

  // ───── RESTORE: roll back to a version as a new commit ──────────────

  /** Roll the table BACK to `toV` by committing a NEW head whose
    * manifest is `toV`'s verbatim — the RESTORE/rollback verb of every
    * table format, and the operational answer to a bad load: one
    * metadata-only commit (zero data written or rewritten; the files
    * are immutable and already present), after which readers see
    * exactly the `toV` table while the rolled-back versions stay
    * readable history until [[vacuumSnapshots]] expires them. Vacuum
    * is restore-safe by construction: its referenced-set is computed
    * from the KEPT manifests, and the new head references `toV`'s
    * files, so they survive any retention window that keeps the head.
    *
    * History stays linear (no branch pointers to resolve): restore is
    * just the next version. The commit runs through the same
    * marker-verified atomic rename as every other commit, so a writer
    * racing the restore throws instead of silently losing its update.
    * Restoring the current head is legal and commits a no-change
    * version — an explicit audit record that a restore ran. Returns
    * the new version id. */
  def snapshotRestore(spark: SparkSession, path: String, toV: Long): Long = {
    resolveVersion(spark, path, Some(toV)) // refuses an expired or unknown target
    val next = resolveVersion(spark, path) + 1
    // the restored head's schema IS the restored version's
    publishManifest(spark, path, manifestOf(spark, path, toV).frame, next,
      recordedSchema(spark, path, toV))
    next
  }

  /** RESTORE as a driver-visible query: commit the even-event_id half
    * as v1, append the odds as v2 (the "bad load"), roll back to v1 as
    * v3, and aggregate v2 AND the post-restore head — v3 must answer
    * exactly the v1 table (the rollback worked) while v2 still answers
    * the full table (history intact). The oracle recomputes both from
    * the raw table; a restore that rewrote data, dropped files, or
    * failed to flip the head hash-fails. Round10bSpec pins what this
    * query can't see: restore writes ZERO new data files, and vacuum
    * after restore keeps every file the restored head references. */
  def snapshotRestoreQuery(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("restore") { p =>
      val ev = Tables.events(spark, dir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      val restored = snapshotRestore(spark, p, 1L)
      import graft.functions.Compat._
      def agg(v: Long) = readSnapshot(spark, p, Some(v))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(lit(v).as("version"), col("n"), col("sum_value"), col("n_users"))
      agg(2L).unionByName(agg(restored)).orderBy("version")
    }

  private val snapshotRestoreOracle = {
    import graft.functions.Compat.rSql
    s"""SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
       |  ${rSql("SUM(value)", 4)} AS sum_value,
       |  COUNT(DISTINCT user_id) AS n_users FROM events
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), COUNT(*), ${rSql("SUM(value)", 4)},
       |  COUNT(DISTINCT user_id)
       |FROM events WHERE event_id % 2 = 0
       |ORDER BY version""".stripMargin
  }

  // ───── row-level DELETE (copy-on-write, manifest-pruned) ────────────

  /** Row-level DELETE of the key range [lo, hi] from a versioned
    * snapshot table — the GDPR/bad-partition verb beside
    * [[snapshotMerge]]'s keyed upserts. After its own admission (a
    * non-empty range, manifest stats on `c`) it IS
    * [[snapshotDeleteWhere]] of `c >= lo AND c <= hi`: the predicate's
    * translated conjuncts keep ONLY the files whose [min_c, max_c]
    * stats intersect the range, those are rewritten with the
    * complement (NULL-keyed rows are kept — NULL is in no range), and
    * every untouched file's manifest row is carried VERBATIM. On a
    * key-clustered table a contiguous deletion touches exactly the few
    * files holding that range, so the commit is O(touched), never
    * O(table). Zero-row files (NULL stats) never intersect and are
    * always carried. The rewrite clusters on the table's layout key
    * (its first stats column); `nFiles` <= 0 sizes it to the
    * touched-file count.
    *
    * A range that provably touches no file is a metadata no-op: the
    * head version is returned unchanged. Pinned to the version the
    * delete derived from (`asOf`, default head): a concurrent commit in
    * the read-rewrite window throws. Partitioned tables refuse (delete
    * a partition with [[snapshotDropPartition]], or re-land it through
    * [[snapshotOverwritePartition]]); streaming-sink tables carry no
    * stats and refuse too. Returns the version id the table is at after
    * the call. */
  def snapshotDelete(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long, nFiles: Int, asOf: Option[Long] = None): Long = {
    require(lo <= hi, s"empty delete range [$lo, $hi]")
    require(manifestStatsCols(manifestOf(spark, path, resolveVersion(spark, path, asOf)))
      .contains(c),
      s"$path carries no manifest stats on '$c' — delete needs them to " +
        "prune; write the table with statsCols")
    snapshotDeleteWhere(spark, path, col(c) >= lo && col(c) <= hi, nFiles, asOf)
  }

  /** DELETE as a driver-visible query: stage events as a versioned
    * table key-clustered into 8 stats-carrying files, delete the
    * event_id range [100, 499], and aggregate the post-delete table
    * read back through the snapshot reader. The oracle is the
    * complement filter over the raw table, so the gate hash-checks the
    * whole stage → prune → rewrite-complement → commit → read path.
    * Round10bSpec pins the cost side: only range-intersecting files
    * are rewritten, the rest are carried byte-identical, and a no-op
    * range commits no version. */
  def snapshotDeleteQuery(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("delete") { p =>
      val ev = Tables.events(spark, dir)
      snapshotWrite(ev, p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      snapshotDelete(spark, p, "event_id", 100L, 499L, nFiles = 2)
      import graft.functions.Compat._
      readSnapshot(spark, p)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("sum_value"))
        .orderBy("event_type")
    }

  private val snapshotDeleteOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id < 100 OR event_id > 499
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ───── the row-level DML substrate ──────────────────────────────────
  //
  // Every row-level verb — Scala or SQL — is copy-on-write on the same
  // pieces: [[dmlBase]] resolves the base version and its manifest;
  // the files a rewrite must touch come from the manifest's min/max
  // stats ([[touchedFiles]] for a predicate, [[keyRangeFiles]] for a
  // key set); [[readDataFiles]] reads them; [[rewriteFilesCommit]]
  // carries every other file verbatim and commits pinned to the base
  // version. [[snapshotDeleteWhere]] (SQL DELETE and [[snapshotDelete]]),
  // [[snapshotUpdateWhere]] (SQL UPDATE), [[snapshotMerge]] and SQL
  // `MERGE INTO` ([[graft.plans.SnapshotDml.mergeInto]]) differ only in
  // how they compute the replacement rows.

  /** File-survival predicate over a manifest's min/max stat columns
    * for one v1 filter: None when the filter can't exclude files
    * (unknown shape, or no stats on its column). Conjunctions narrow;
    * an OR excludes a file only when BOTH branches do; everything
    * else (IsNull, Not, string matchers, …) is conservative. Shared
    * by the DSv2 scan pruner ([[graft.sources.SnapshotSource]]) and
    * the DML verbs below — one pruning semantics, not two. */
  private[graft] def manifestFilePredicate(mfCols: Set[String],
      f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    def stats(c: String): Boolean =
      mfCols.contains(s"min_$c") && mfCols.contains(s"max_$c")
    f match {
      case EqualTo(c, v) if stats(c) =>
        Some(col(s"min_$c") <= lit(v) && col(s"max_$c") >= lit(v))
      case GreaterThan(c, v) if stats(c) => Some(col(s"max_$c") > lit(v))
      case GreaterThanOrEqual(c, v) if stats(c) => Some(col(s"max_$c") >= lit(v))
      case LessThan(c, v) if stats(c) => Some(col(s"min_$c") < lit(v))
      case LessThanOrEqual(c, v) if stats(c) => Some(col(s"min_$c") <= lit(v))
      case In(c, vs) if stats(c) && vs.nonEmpty =>
        Some(vs.toIndexedSeq
          .map(v => col(s"min_$c") <= lit(v) && col(s"max_$c") >= lit(v))
          .reduce(_ || _))
      case And(l, r) =>
        (manifestFilePredicate(mfCols, l), manifestFilePredicate(mfCols, r)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b)
        }
      case Or(l, r) =>
        for (a <- manifestFilePredicate(mfCols, l);
             b <- manifestFilePredicate(mfCols, r)) yield a || b
      case _ => None
    }
  }

  private def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The files of `mf` that MAY hold rows matching `cond` —
    * conservative: a file drops out only when a translated conjunct's
    * stats range proves no row in it can match. Untranslatable
    * conjuncts simply don't prune (the caller re-applies the full
    * predicate row-level, so pruning is purely a cost lever).
    * `schemaDf` is any frame in the table's schema: the predicate is
    * RESOLVED against it first (the v1 translator asks expression
    * dataTypes, which an unresolved column can't answer). A widening
    * cast the analyzer put on a column (an int key against
    * [[snapshotDelete]]'s long bounds) is moved onto the literal, so
    * the conjunct still translates and prunes. */
  private[graft] def touchedFiles(mf: Manifest, schemaDf: DataFrame,
      cond: Column): Set[String] = {
    val resolved = org.apache.spark.sql.catalyst.optimizer
      .UnwrapCastInBinaryComparison(schemaDf.filter(cond).queryExecution.analyzed)
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalStateException(
        s"could not resolve DML predicate ${cond} against the table schema"))
    val mfCols = mf.columns.toSet
    val preds = splitConjuncts(resolved)
      .flatMap(org.apache.spark.sql.graft.Bridge.translateFilter)
      .flatMap(manifestFilePredicate(mfCols, _))
    preds.foldLeft(mf)((m, p) => m.filter(p)).files.toSet
  }

  /** The files of `mf` whose [min_c, max_c] stats hold at least one
    * value of the one-column frame `keys` — MERGE's pruning, for
    * [[snapshotMerge]]'s key and each of SQL MERGE's equality keys.
    * The manifest (one row per file) is broadcast against the keys'
    * distinct values, so an arbitrarily large changeset never collects
    * to the driver; only the matched file names do. */
  private[graft] def keyRangeFiles(mf: Manifest, keys: DataFrame,
      c: String): Set[String] =
    keys.toDF("__k").distinct()
      .join(broadcast(mf.frame.select(col("file"), col(s"min_$c"), col(s"max_$c"))),
        col("__k") >= col(s"min_$c") && col("__k") <= col(s"max_$c"))
      .select("file").distinct().collect().map(_.getString(0)).toSet

  /** Zero-row frame in exactly `schema` — the resolution target for
    * DML predicates (and the empty-table replacement): columns come
    * from the TABLE schema, never from whichever footer a plain read
    * happens to list first. */
  private[graft] def emptyOf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** Align `df` to the full table `schema`: evolution-added columns
    * its files don't carry surface as typed NULLs, column order
    * follows the schema — so a rewrite of pre-evolution files can
    * evaluate predicates/assignments on evolved columns and never
    * drops them from the rewritten region. */
  private[graft] def alignToSchema(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val widened = schema.fields.foldLeft(df)((d, f) =>
      if (have.contains(f.name.toLowerCase)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))
    // keep any column the schema record doesn't know (conservative:
    // footer-only columns survive a conflict-fallback commit)
    val ordered = schema.fieldNames.toIndexedSeq ++
      df.columns.filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    widened.select(ordered.map(col): _*)
  }

  /** mergeSchema read of a touched-file set (or the version's empty
    * frame when none) — the one read shape every copy-on-write rewrite
    * uses: a touched set spanning schema generations must not rewrite
    * survivors without their evolved columns. */
  private[graft] def readDataFiles(spark: SparkSession, path: String,
      files: Set[String], fallbackV: Long): DataFrame =
    if (files.isEmpty)
      readSnapshot(spark, path, Some(fallbackV), mergeSchema = true)
        .filter(lit(false))
    else Manifest.readFiles(spark,
      files.toIndexedSeq.sorted.map(f => s"$path/data/$f"), mergeSchema = true)

  /** The copy-on-write commit every row-level verb shares: write
    * `replacement` as the new content of the `touched` files, carry
    * every untouched manifest row VERBATIM, commit pinned to `baseV`
    * (a concurrent commit in the read-rewrite window throws). */
  private[graft] def rewriteFilesCommit(spark: SparkSession, path: String,
      mf: Manifest, touched: Set[String], replacement: DataFrame,
      nFiles: Int, clusterBy: Option[Column], baseV: Long): Long = {
    val carry: Manifest => DataFrame = fresh =>
      mf.filter(!col("file").isin(touched.toSeq: _*)).frame.unionByName(fresh.frame)
    commitSnapshot(replacement, path, nFiles, carry, manifestStatsCols(mf),
      clusterBy, Some(baseV))
  }

  /** Shared DML admission: resolve the base version + manifest, refuse
    * the layout row-level rewrites can't serve (streaming-sink tables
    * commit stat-less batches — compact them into a batch table
    * first). */
  private[graft] def dmlBase(spark: SparkSession, path: String,
      asOf: Option[Long], verb: String): (Long, Manifest) = {
    val baseV = resolveVersion(spark, path, asOf)
    val mf = manifestOf(spark, path, baseV)
    require(!mf.columns.contains("batch_id"),
      s"$path is a streaming-sink table (stat-less batches) — compact it " +
        s"into a stats-carrying batch table before a row-level $verb")
    (baseV, mf)
  }

  /** Row-level rewrites refuse partitioned tables: re-landing the
    * partition keeps the purity-proof layout. */
  private[graft] def requireUnpartitioned(path: String, mf: Manifest,
      verb: String): Unit =
    require(!mf.columns.contains("part"),
      s"$path is a partitioned snapshot table — $verb a partition by " +
        "re-landing it (snapshotOverwritePartition), which keeps the " +
        "purity-proof layout")

  /** The rewrite's re-cluster key: the table's first stats column (its
    * declared layout key), so a rewritten region keeps tight per-file
    * stats instead of decaying to full-domain ranges. */
  private def dmlClusterBy(mf: Manifest): Option[Column] =
    manifestStatsCols(mf).headOption.map(col)

  /** `cond` as an exact partition selector: Some(partition value) when
    * the table is partitioned, `cond` is a bare `c = literal` on a
    * stats column, and every live file is partition-pure on `c`
    * (min = max = its declared partition — the purity
    * [[snapshotOverwritePartition]] enforces at write). Then rows
    * matching `cond` are exactly the partition's files and a DELETE is
    * the metadata-only [[snapshotDropPartition]]. */
  private def partitionEqualityValue(mf: Manifest, cond: Column)
      : Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal, EqualTo => CEq}
    // the SQL path hands conditions remapped to UnresolvedAttribute
    // (resolution happens against the re-read frame); the Scala path
    // hands resolved references — accept a bare column either way
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.nameParts.last)
      case _ => None
    }
    def check(c: String, l: Literal): Option[String] = {
      val mfCols = mf.columns.toSet
      if (l.value == null) return None
      if (!mfCols.contains(s"min_$c") || !mfCols.contains(s"max_$c")) return None
      val impure = mf.filter(col("n_rows") > 0 &&
        (col(s"min_$c").cast("string") =!= col("part") ||
          col(s"max_$c").cast("string") =!= col("part"))).size
      // render the literal through Spark's OWN cast-to-string — the
      // exact rendering the purity check above and the partition
      // stamping compare against. The Catalyst-internal value would
      // print a DateType literal as its epoch-day int ('19723'), match
      // no 'yyyy-MM-dd' partition, and silently no-op the DELETE.
      val rendered = org.apache.spark.sql.catalyst.expressions.Cast(
        l, org.apache.spark.sql.types.StringType,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        .eval() match {
          case null => return None
          case s => s.toString
        }
      if (impure > 0) None else Some(rendered)
    }
    org.apache.spark.sql.graft.Bridge.expression(cond) match {
      case CEq(x, l: Literal) if nameOf(x).isDefined => check(nameOf(x).get, l)
      case CEq(l: Literal, x) if nameOf(x).isDefined => check(nameOf(x).get, l)
      case _ => None
    }
  }

  /** Row-level DELETE of an ARBITRARY predicate — the substrate behind
    * `spark.sql("DELETE FROM <cat>.t WHERE …")`. Manifest-pruned
    * copy-on-write: only files whose stats admit a match are read and
    * rewritten with the complement (rows where `cond` is false or
    * NULL survive — SQL DELETE semantics); untouched files carry
    * verbatim. A predicate that provably touches no file is a
    * metadata no-op. On a PARTITIONED table, a bare
    * `partitionCol = literal` predicate routes to the metadata-only
    * [[snapshotDropPartition]] (retention-by-SQL, zero data work at
    * any size); any other shape refuses — partitioned tables re-land
    * whole partitions to keep the purity-proof layout.
    * `nFiles` <= 0 sizes the rewrite to the touched-file count.
    * Returns the version the table is at after the call. */
  def snapshotDeleteWhere(spark: SparkSession, path: String, cond: Column,
      nFiles: Int = -1, asOf: Option[Long] = None): Long = {
    val (baseV, mf) = dmlBase(spark, path, asOf, "DELETE")
    if (mf.columns.contains("part")) {
      val v = partitionEqualityValue(mf, cond).getOrElse(
        throw new IllegalArgumentException(
          s"$path is a partitioned snapshot table — a row-level DELETE supports " +
            "only a bare partition-equality predicate there (the " +
            "metadata-only partition drop); re-land the partition for " +
            "row-level deletes"))
      if (mf.filter(col("part") === v).isEmpty)
        return snapshotVersions(spark, path).last // no such partition: no-op
      return snapshotDropPartition(spark, path, v)
    }
    val schema = tableSchema(spark, path, Some(baseV))
    val touched = touchedFiles(mf, emptyOf(spark, schema), cond)
    if (touched.isEmpty) return snapshotVersions(spark, path).last
    val residual = alignToSchema(readDataFiles(spark, path, touched, baseV), schema)
      .filter(!coalesce(cond, lit(false)))
    val n = if (nFiles > 0) nFiles else touched.size
    rewriteFilesCommit(spark, path, mf, touched, residual, n,
      dmlClusterBy(mf), baseV)
  }

  /** Row-level UPDATE of an ARBITRARY predicate — the substrate behind
    * `spark.sql("UPDATE <cat>.t SET … WHERE …")`. Manifest-pruned
    * copy-on-write: only files whose stats admit a match are read;
    * matched rows (cond true — false/NULL rows pass through untouched,
    * SQL semantics) get the assignments applied, every value cast back
    * to the column's stored type so the rewritten files cannot drift
    * the table schema; evolved columns outside the assignment list
    * pass through. A predicate that provably touches no file is a
    * metadata no-op. Partitioned tables refuse (re-land the
    * partition). `nFiles` <= 0 sizes the rewrite to the touched-file
    * count. Returns the version the table is at after the call. */
  def snapshotUpdateWhere(spark: SparkSession, path: String, cond: Column,
      set: Seq[(String, Column)], nFiles: Int = -1,
      asOf: Option[Long] = None): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val (baseV, mf) = dmlBase(spark, path, asOf, "UPDATE")
    requireUnpartitioned(path, mf, "update")
    val schema = tableSchema(spark, path, Some(baseV))
    val touched = touchedFiles(mf, emptyOf(spark, schema), cond)
    if (touched.isEmpty) return snapshotVersions(spark, path).last
    val base = alignToSchema(readDataFiles(spark, path, touched, baseV), schema)
    set.foreach { case (n, _) =>
      require(base.columns.exists(_.equalsIgnoreCase(n)),
        s"UPDATE SET column '$n' is not a column of $path " +
          s"(${base.columns.mkString(", ")})")
    }
    val hit = coalesce(cond, lit(false))
    val updated = base.select(base.columns.toIndexedSeq.map { c =>
      set.collectFirst { case (n, v) if n.equalsIgnoreCase(c) =>
        when(hit, v.cast(base.schema(c).dataType)).otherwise(col(c)).as(c)
      }.getOrElse(col(c))
    }: _*)
    val n = if (nFiles > 0) nFiles else touched.size
    rewriteFilesCommit(spark, path, mf, touched, updated, n,
      dmlClusterBy(mf), baseV)
  }

  // ───── incremental view maintenance over version deltas ─────────────

  /** Partial-aggregate state of one frame for incremental view
    * maintenance: per `keys`, (n, sum_dec) with the sum carried as
    * DECIMAL so folds are exact and order-free. This is the
    * map-side-combine shape — states from disjoint slices of a table
    * merge by plain addition ([[ivmMerge]]). */
  def ivmState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,4)")).as("sum_dec"))

  /** Fold a delta's partial state into the materialized view: union +
    * re-add per key. Cost is O(|delta keys| + |view keys|) — the table
    * itself is never touched, which is the whole point: at 100 TB a
    * view refresh shuffles kilobytes of state, not the table. The sum
    * is re-narrowed to DECIMAL(18,4) so the view's schema is a fixed
    * point of folding (Spark widens sum(DECIMAL) by 10 digits per
    * fold; unchecked, 3 folds would hit the 38-digit ceiling). */
  def ivmMerge(view: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    view.unionByName(delta).groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_dec")).cast("decimal(18,4)").as("sum_dec"))
      // a key whose rows all left the table (a signed [[ivmDelta]]
      // cancelled it) must LEAVE the view — GROUP BY of zero rows is
      // no row, not a zero row
      .filter(col("n") =!= 0)

  /** Incremental view maintenance as a driver-visible query — the
    * capstone of the CDC surface: a per-event_type (count, sum)
    * materialized view is seeded from v1 and then maintained ONLY from
    * [[snapshotChanges]] deltas as v2 and v3 land (each refresh reads
    * the appended files and the view state, never the table). The
    * final view must equal the full-table aggregate — the oracle
    * recomputes it from the raw table, so a leaked/duplicated/missed
    * delta row anywhere in the version chain hash-fails. This is the
    * O(delta) standing-dashboard pattern the reference's nightly
    * WRITE_TRUNCATE recompute approximates at O(table) cost
    * (automated_switchback_test_analysis_script.py:173). */
  def ivmAgg(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("ivm") { p =>
      val ev = Tables.events(spark, dir)
      def third(r: Int) = ev.filter(col("event_id") % 3 === r)
      val keys = Seq("event_type")
      val v1 = snapshotWrite(third(0), p, nFiles = 4,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      var view = ivmState(readSnapshot(spark, p, Some(v1)), keys, "value")
      var last = v1
      for (r <- 1 to 2) {
        val v = snapshotAppend(third(r), p, nFiles = 4,
          statsCols = Seq("event_id"), clusterBy = Some("event_id"))
        view = ivmMerge(view,
          ivmState(snapshotChanges(spark, p, last, v), keys, "value"), keys)
        last = v
      }
      view.select(col("event_type"), col("n"),
        col("sum_dec").cast("double").as("sum_value")).orderBy("event_type")
    }

  private val ivmAggOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SIGNED state delta of one version step — the generalization of
    * "aggregate the appended files" that stays exact under ANY commit
    * shape (merge, delete, compaction, restore, partition re-land):
    * the files `toV` removed contribute their state NEGATED (their
    * rows left the table), the files it added contribute positively
    * (rewritten survivors re-enter), so view ⊕ delta is exact whatever
    * mix of the two the commit did. Cost is O(changed files) — for an
    * append that's the batch, for a pruned delete the touched files
    * twice (before + after image); only a full rewrite (compaction)
    * degenerates to O(table), which is what a compaction IS. */
  def ivmDelta(spark: SparkSession, path: String, fromV: Long, toV: Long,
      keys: Seq[String], valueCol: String): DataFrame = {
    val vs = snapshotVersions(spark, path)
    require(vs.contains(fromV) && vs.contains(toV),
      s"versions ($fromV, $toV) must both exist in $vs")
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    val before = manifestFiles(spark, path, fromV)
    val after = manifestFiles(spark, path, toV)
    def stateOf(fs: Set[String]): Option[DataFrame] =
      if (fs.isEmpty) None
      else Some(ivmState(
        Manifest.readFiles(spark,
          fs.toIndexedSeq.sorted.map(f => s"$path/data/$f"), mergeSchema = true),
        keys, valueCol))
    val pos = stateOf(after -- before)
    val neg = stateOf(before -- after).map(_.select(
      keys.map(col) ++ Seq((-col("n")).as("n"),
        (-col("sum_dec")).cast("decimal(18,4)").as("sum_dec")): _*))
    (pos, neg) match {
      case (Some(p), Some(n)) => p.unionByName(n)
      case (Some(p), None) => p
      case (None, Some(n)) => n
      case (None, None) =>
        ivmState(readSnapshot(spark, path, Some(toV)).filter(lit(false)),
          keys, valueCol)
    }
  }

  /** IVM across REWRITE commits as a driver-visible query: the view is
    * seeded from v1, folded over an append (v2) — and then over a
    * pruned row-level DELETE (v3) through the SIGNED [[ivmDelta]], so
    * the refresh subtracts the rewritten files' before-image and adds
    * their survivor image without ever re-reading the table. The
    * oracle recomputes the post-delete aggregate from the raw table;
    * a sign error, a missed before-image, or a double-counted survivor
    * row all hash-fail. With q_ivm_agg this closes the IVM story for
    * every commit shape the layer can produce. */
  def ivmRewrite(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("ivmrw") { p =>
      val ev = Tables.events(spark, dir)
      val keys = Seq("event_type")
      val v1 = snapshotWrite(ev.filter(col("event_id") % 2 === 0), p,
        nFiles = 4, statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      var view = ivmState(readSnapshot(spark, p, Some(v1)), keys, "value")
      val v2 = snapshotAppend(ev.filter(col("event_id") % 2 === 1), p,
        nFiles = 4, statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      view = ivmMerge(view, ivmDelta(spark, p, v1, v2, keys, "value"), keys)
      val v3 = snapshotDelete(spark, p, "event_id", 100L, 499L, nFiles = 2)
      view = ivmMerge(view, ivmDelta(spark, p, v2, v3, keys, "value"), keys)
      view.select(col("event_type"), col("n"),
        col("sum_dec").cast("double").as("sum_value")).orderBy("event_type")
    }

  private val ivmRewriteOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id < 100 OR event_id > 499
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ───── streaming micro-batches as snapshot versions ──────────────────

  /** Batch ids already committed to the streaming-sink table at `path`
    * (read off the LATEST manifest — each version's manifest carries
    * every file's originating batch id forward; after a
    * [[compactSnapshot]] the per-file provenance collapses to the high
    * watermark). Sink tables only: batch-op snapshot tables have no
    * batch_id column. */
  def committedBatchIds(spark: SparkSession, path: String): Set[Long] = {
    val vs = snapshotVersions(spark, path)
    if (vs.isEmpty) Set.empty
    else manifestOf(spark, path, vs.last).longs("batch_id").toSet
  }

  /** The sink's replay-skip watermark: the highest committed batch id.
    * foreachBatch ids commit in increasing order (stream execution is
    * sequential), so `id <= watermark` ⇔ already handled — EMPTY
    * batches are deliberately unrecorded, and treating a replayed empty
    * id as handled is safe because its deterministic re-execution has
    * nothing to land either. Watermark (not set-membership) is the
    * skip test so that compaction may collapse per-file provenance. */
  def sinkBatchWatermark(spark: SparkSession, path: String): Option[Long] = {
    val vs = snapshotVersions(spark, path)
    if (vs.isEmpty) None
    else manifestOf(spark, path, vs.last).longs("batch_id").maxOption
  }

  /** Read a batch-stamped snapshot table CUT at `maxId`: only the head
    * version's files whose manifest batch_id ≤ maxId enter the scan.
    * This is how a multi-table artifact (e.g. the minhash index's
    * bands + shingles pair) serves a CONSISTENT view without cross-table
    * transactions: each table commits its batch independently in a
    * fixed order, and readers cut every table at the LAST table's
    * watermark — files from a batch that crashed mid-way (committed to
    * the early tables, never to the last) are planned out, so the
    * artifact reads exactly as if that batch never ran. */
  def readSnapshotUpToBatch(spark: SparkSession, path: String,
      maxId: Long): DataFrame = {
    val mf = manifestOf(spark, path, resolveVersion(spark, path))
    require(mf.columns.contains("batch_id"),
      s"$path is not a batch-stamped snapshot table")
    // NULL batch_id = a file that predates batch stamping (a plain
    // snapshotWrite base under later sink batches) — always committed,
    // so always inside the cut
    val files = mf.filter(col("batch_id").isNull || col("batch_id") <= maxId)
      .files.map(f => s"$path/data/$f")
    if (files.isEmpty) readSnapshot(spark, path).filter(lit(false))
    else Manifest.readFiles(spark, files)
  }

  /** The head-version files of a batch-stamped table belonging to
    * EXACTLY batch `id` — how a derived table (minhash bands) rebuilds
    * one batch's slice from its primary (shingles) without re-reading
    * any source. */
  def readSnapshotBatch(spark: SparkSession, path: String, id: Long): DataFrame = {
    val mf = manifestOf(spark, path, resolveVersion(spark, path))
    require(mf.columns.contains("batch_id"),
      s"$path is not a batch-stamped snapshot table")
    val files = mf.filter(col("batch_id") === id)
      .files.map(f => s"$path/data/$f")
    if (files.isEmpty) readSnapshot(spark, path).filter(lit(false))
    else Manifest.readFiles(spark, files)
  }

  /** Commit ONE streaming micro-batch as a snapshot append version —
    * the lakehouse sink kernel. foreachBatch is at-least-once (a crash
    * after the write but before the checkpoint commit re-delivers the
    * batch), so exactly-once lands here: every manifest row records the
    * batch id that produced its file, and a re-delivered id is detected
    * and skipped BEFORE any write. A skipped replay leaves the table
    * byte-identical; an empty batch commits nothing (no version churn)
    * — UNLESS `allowEmpty` is set, which commits a zero-row version so
    * the WATERMARK itself advances: the mode a derived table needs when
    * its watermark is another table's consistency cut (the minhash
    * bands — a batch of shingle-less docs must still move the cut, or
    * the two tables' watermarks diverge forever on a healthy index).
    * While the stream runs, readers get snapshot isolation (a version
    * is visible only after its manifest rename), time travel over the
    * ingest history, and [[vacuumSnapshots]] as retention. */
  def snapshotSinkBatch(batch: DataFrame, path: String, id: Long,
      nFiles: Int = 1, allowEmpty: Boolean = false): Unit = {
    val spark = batch.sparkSession
    if (!sinkBatchWatermark(spark, path).exists(_ >= id)) {
      // persist: the isEmpty probe + write would run the batch plan twice
      batch.persist()
      try if (allowEmpty || !batch.isEmpty) {
        val prev = snapshotVersions(spark, path).lastOption
        // pinned to the manifest's base version: a concurrent writer
        // (a second sink instance, a racing compaction) surfaces as a
        // thrown conflict, never as this batch shadowing its commit
        commitSnapshot(batch, path, nFiles, fresh => {
          val stamped = fresh.frame.withColumn("batch_id", lit(id))
          prev.map(v => manifestOf(spark, path, v).frame.unionByName(stamped))
            .getOrElse(stamped)
        }, Nil, None, Some(prev.getOrElse(0L))): Unit
      } finally batch.unpersist(blocking = false): Unit
    }
  }

  /** REPLACE-shaped exactly-once sink commit — the VIEW-maintenance
    * twin of [[snapshotSinkBatch]]: each micro-batch replaces the
    * whole (small) table instead of appending, with the same
    * batch-id-watermark replay skip, so a restarted foreachBatch that
    * re-delivers a handled id leaves the table untouched. The shape a
    * streaming materialized view needs: the view state is keys-sized,
    * every batch commits its successor state as one version (the
    * view's own time travel = the dashboard as of any batch), and
    * replay-skip + deterministic per-batch input ranges give
    * exactly-once maintenance across restarts. Empty batches commit
    * too — an empty view state is a real state, and the watermark must
    * advance. */
  def snapshotSinkReplace(batch: DataFrame, path: String, id: Long,
      nFiles: Int = 1): Unit = {
    val spark = batch.sparkSession
    if (!sinkBatchWatermark(spark, path).exists(_ >= id)) {
      val prev = snapshotVersions(spark, path).lastOption
      commitSnapshot(batch, path, nFiles,
        fresh => fresh.frame.withColumn("batch_id", lit(id)),
        Nil, None, Some(prev.getOrElse(0L))): Unit
    }
  }

  /** Time travel as a driver-visible query: commit the even-event_id
    * half of events as v1, append the odd half as v2, then aggregate
    * BOTH versions — v1 must still answer exactly the pre-append table
    * after v2 exists (the whole point of snapshot isolation), v2 the
    * full table. The oracle recomputes both halves from the raw table;
    * any append-time rewrite, torn commit, or version bleed hash-fails.
    * Round9Spec pins the mechanics this query can't see: append writes
    * zero new bytes into v1's files, a crashed commit is invisible to
    * readers, and vacuum removes it without touching live versions. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val stage = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tt_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.CacheScope.defer(() => graft.sources.Sources.deleteRecursively(stage))
    val p = stage.getAbsolutePath
    val ev = Tables.events(spark, dir)
    snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 4,
      statsCols = Seq("event_id"), clusterBy = Some("event_id"))
    snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 4,
      statsCols = Seq("event_id"), clusterBy = Some("event_id"))
    import graft.functions.Compat._
    def agg(v: Long) = readSnapshot(spark, p, Some(v))
      .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(lit(v).as("version"), col("n"), col("sum_value"), col("n_users"))
    agg(1L).unionByName(agg(2L)).orderBy("version")
  }

  private val timeTravelOracle = {
    import graft.functions.Compat.rSql
    s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
       |  ${rSql("SUM(value)", 4)} AS sum_value,
       |  COUNT(DISTINCT user_id) AS n_users FROM events WHERE event_id % 2 = 0
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), COUNT(*), ${rSql("SUM(value)", 4)},
       |  COUNT(DISTINCT user_id)
       |FROM events
       |ORDER BY version""".stripMargin
  }

  /** The snapshot layer through its SQL face: stage the [[timeTravel]]
    * table (even event_ids at v1, full table at v2), register BOTH
    * versions as temp views through the DataSourceV2 provider
    * ([[graft.sources.SnapshotSource]]), and answer a pure-SQL
    * time-travel union with a range predicate — the WHERE pushes
    * through the DSv2 scan into manifest file pruning AND the parquet
    * reader (Round10Spec audits the file list; this gate hash-checks
    * the answers). This is the migration surface for the reference's
    * SQL-scripting users: versioned tables reachable from `spark.sql`
    * alone. */
  def snapshotSql(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("snapsql") { p =>
      val ev = Tables.events(spark, dir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      snapshotAppend(ev.filter(col("event_id") % 2 === 1), p, nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      def view(v: Long, name: String): Unit =
        spark.read.format("graft.sources.SnapshotSource")
          .option("asOf", v).load(p).createOrReplaceTempView(name)
      view(1L, "snap_v1")
      view(2L, "snap_v2")
      spark.sql(
        """SELECT version, event_type, n, sum_value FROM (
          |  SELECT CAST(1 AS BIGINT) AS version, event_type,
          |    COUNT(*) AS n,
          |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |  FROM snap_v1 WHERE event_id BETWEEN 100 AND 499 GROUP BY event_type
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), event_type, COUNT(*),
          |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
          |  FROM snap_v2 WHERE event_id BETWEEN 100 AND 499 GROUP BY event_type)
          |ORDER BY version, event_type""".stripMargin)
    }

  private val snapshotSqlOracle =
    """SELECT CAST(1 AS BIGINT) AS version, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_id % 2 = 0 AND event_id BETWEEN 100 AND 499
      |GROUP BY event_type
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), event_type, COUNT(*),
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE)
      |FROM events WHERE event_id BETWEEN 100 AND 499
      |GROUP BY event_type
      |ORDER BY version, event_type""".stripMargin

  /** The snapshot layer as a NAMED SQL CATALOG
    * ([[graft.sources.SnapshotCatalog]]): stage evens as v1, land the
    * odds through pure-SQL `INSERT INTO <cat>.events_t` (the catalog
    * write path must inherit the table's stats contract — an insert
    * that broke the manifest schema would throw here), then answer
    * Spark's own `VERSION AS OF 1` syntax against the head read — the
    * full CREATE-by-write → INSERT → time-travel-SQL migration story
    * with zero `.load(path)` anywhere. The catalog name is
    * per-invocation (catalog instances cache their root at first use);
    * the staged root dies with the run. */
  def snapshotCatalogQuery(spark: SparkSession, dir: String): DataFrame =
    stagedQuery("cat") { p =>
      val ev = Tables.events(spark, dir)
      snapshotWrite(ev.filter(col("event_id") % 2 === 0), s"$p/events_t",
        nFiles = 8, statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      SqlSurface.withCatalog(spark, p) { cat =>
        val view = s"${cat}_src"
        ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView(view)
        try {
          spark.sql(s"INSERT INTO $cat.events_t SELECT * FROM $view")
          spark.sql(
            s"""SELECT version, event_type, n, sum_value FROM (
               |  SELECT CAST(1 AS BIGINT) AS version, event_type,
               |    COUNT(*) AS n,
               |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
               |  FROM $cat.events_t VERSION AS OF 1 GROUP BY event_type
               |  UNION ALL
               |  SELECT CAST(2 AS BIGINT), event_type, COUNT(*),
               |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               |  FROM $cat.events_t GROUP BY event_type)
               |ORDER BY version, event_type""".stripMargin)
        } finally { spark.catalog.dropTempView(view): Unit }
      }
    }

  private val snapshotCatalogOracle =
    """SELECT CAST(1 AS BIGINT) AS version, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), event_type, COUNT(*),
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE)
      |FROM events GROUP BY event_type
      |ORDER BY version, event_type""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_compact_files", compactFiles, Some(compactFilesOracle)),
    Op("q_prune_scan", pruneScan, Some(pruneScanOracle)),
    Op("q_zorder", zorderStats, Some(zorderStatsOracle)),
    Op("q_time_travel", timeTravel, Some(timeTravelOracle)),
    // same oracle text as q_merge_upsert BY DESIGN: the snapshot merge
    // must be semantically indistinguishable from the plain-plan MERGE
    Op("q_merge_snapshot", mergeSnapshot, Some(Relational.mergeUpsertOracle)),
    Op("q_snapshot_sql", snapshotSql, Some(snapshotSqlOracle)),
    Op("q_snapshot_cdc", snapshotCdc, Some(snapshotCdcOracle)),
    Op("q_snapshot_write", snapshotWriteQuery, Some(snapshotWriteOracle)),
    Op("q_snapshot_restore", snapshotRestoreQuery, Some(snapshotRestoreOracle)),
    Op("q_snapshot_delete", snapshotDeleteQuery, Some(snapshotDeleteOracle)),
    Op("q_ivm_agg", ivmAgg, Some(ivmAggOracle)),
    Op("q_ivm_rewrite", ivmRewrite, Some(ivmRewriteOracle)),
    Op("q_snapshot_history", snapshotHistoryQuery, Some(snapshotHistoryOracle)),
    Op("q_snapshot_catalog", snapshotCatalogQuery, Some(snapshotCatalogOracle)),
    Op("q_partition_drop", partitionDropQuery, Some(partitionDropOracle)),
  )
}

/** A snapshot commit lost its base-version race: another writer
  * committed on the same base while this one was in flight. Commits
  * that commute with concurrent writers (appends) catch this inside
  * [[Maintenance.commitSnapshot]] and rebase-retry; read-modify-rewrite
  * commits surface it — their derived content is stale. */
class SnapshotCommitConflict(msg: String) extends IllegalStateException(msg)

/** Thrown by [[Maintenance.commitSnapshot]] when the rows the write job
  * consumed differ from the rows the durable files carry — a torn or
  * duplicated write is structurally un-committable (r11 verdict task 2).
  * The data-file batch is left orphaned (never referenced by a
  * manifest), so vacuum collects it. */
class SnapshotTornWrite(msg: String) extends IllegalStateException(msg)
