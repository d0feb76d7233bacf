package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Maintenance

/** SQL-visible versioned snapshot tables — the DataSourceV2 face of
  * [[graft.operators.Maintenance]]'s snapshot layer, for users who live
  * in SQL (the reference's whole interface is SQL scripting: CREATE OR
  * REPLACE TABLE chains, data_extraction_queries_automated_script
  * .sql:7+). A table written by snapshotWrite/snapshotAppend/
  * snapshotOverwritePartition reads as:
  *
  * {{{
  *   spark.read.format("graft.sources.SnapshotSource")
  *     .option("asOf", 1)          // optional time travel
  *     .load(path)
  *     .createOrReplaceTempView("t")
  *   spark.sql("SELECT ... FROM t WHERE k BETWEEN 100 AND 199")
  * }}}
  *
  * with the snapshot layer's planning intact:
  *
  *  - the version's MANIFEST resolves the file list (crashed commits
  *    invisible, historic versions readable while they survive vacuum);
  *  - pushed filters prune at the FILE level against the manifest's
  *    min/max stats before any file is listed into the scan — the
  *    [[Maintenance.readSnapshotRange]] mechanic, generalized to
  *    whatever conjunction the SQL WHERE clause pushes;
  *  - the surviving files scan through Spark's own parquet batch
  *    reader ([[ParquetScanBuilder]] over the pruned file index), so
  *    column pruning, row-group skipping, and vectorization are exactly
  *    native-parquet — this source adds planning, never a row path.
  *
  * Every pushed filter is also returned as residual: manifest stats
  * over-approximate (a key in [min,max] need not exist), so Spark
  * re-applies the predicates and results are exact whatever the
  * layout — pruning is purely a cost lever, same contract as
  * readSnapshotRange.
  */
class SnapshotSource extends TableProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {
  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "SnapshotSource needs a path: .load(<table path>)")
    p
  }

  // ───── streaming face: spark.readStream.format(...).load(path) ─────
  // tails the commit log, one micro-batch per version range — see
  // [[SnapshotStreamSource]]. SnapshotTable advertises no
  // MICRO_BATCH_READ capability, so DataStreamReader falls back to
  // this V1 StreamSourceProvider path (the FileStreamSource/Delta
  // mechanic: getBatch plans a driver-side file-diff read; the scan
  // itself is Spark's distributed parquet reader).

  private def streamPath(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "SnapshotSource needs a path: .load(<table path>)"))

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val p = streamPath(parameters)
    (s"graft_snapshot_stream($p)", schema.getOrElse(
      Maintenance.readSnapshot(sqlContext.sparkSession, p).schema))
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val p = streamPath(parameters)
    new SnapshotStreamSource(sqlContext.sparkSession, p, metadataPath,
      schema.getOrElse(Maintenance.readSnapshot(sqlContext.sparkSession, p).schema),
      fromVersion = parameters.get("fromVersion").map(_.toLong).getOrElse(0L),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong),
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean))
  }

  private def asOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("asOf")).map(_.toLong)

  private def mergeSchema(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("mergeSchema", false)

  /** `changesFrom` (exclusive base, 0 = pre-table) + optional
    * `changesTo` (default head): the batch CDC read — the version
    * diff's ADDED files only, [[Maintenance.snapshotChanges]] through
    * the DSv2 face (manifest stats pruning intact on the delta). */
  private def changesFrom(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("changesFrom")).map(_.toLong)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotTable(path(options),
      asOf(options).orElse(Option(options.get("changesTo")).map(_.toLong)),
      mergeSchema(options), changesFrom = changesFrom(options)).schema()

  // writes hand us the DataFrame's schema instead of calling
  // inferSchema — which is what lets the FIRST write create the table
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    SnapshotTable(path(opts),
      asOf(opts).orElse(Option(opts.get("changesTo")).map(_.toLong)),
      mergeSchema(opts), Option(schema).filter(_.nonEmpty),
      changesFrom = changesFrom(opts))
  }
}

/** One snapshot table pinned to one version (head when `asOf` empty —
  * resolved ONCE per table instance, so a concurrent commit mid-query
  * cannot shear the file list). `mergeSchema = true` enables the
  * schema-evolution read ([[Maintenance.readSnapshot]]'s contract):
  * the table schema is the union of every batch's footer schema, and
  * files missing an added column surface NULL for it. `declaredSchema`
  * carries a write's DataFrame schema (or a user-specified read
  * schema), which is also what lets the first write land on a
  * version-less path. */
case class SnapshotTable(path: String, asOf: Option[Long],
    mergeSchema: Boolean = false,
    declaredSchema: Option[StructType] = None,
    changesFrom: Option[Long] = None) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  private def spark = SparkSession.active

  /** `TRUNCATE TABLE` = an explicit REPLACE version holding one real
    * zero-row file (the schema stays readable; the emptied state is a
    * table version like any other — time travel and RESTORE still
    * reach the old rows until vacuum). The stats contract carries so
    * subsequent appends keep their manifest schema. */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty,
      s"TRUNCATE targets a time-travel read of $path (VERSION AS OF " +
        s"${asOf.get}) — truncation commits onto the head")
    // empty frame in the TABLE schema (recorded union, not one
    // footer): truncation must not narrow an evolved table's schema
    val empty = Maintenance.emptyOf(spark,
      Maintenance.tableSchema(spark, path, Some(pinnedVersion)))
    Maintenance.snapshotReplace(empty, path, nFiles = 1,
      Maintenance.tableStatsCols(spark, path))
    true
  }

  /** The pinned snapshot version id — resolved lazily so a pure write
    * to a not-yet-created table never asks for one. */
  lazy val pinnedVersion: Long = Maintenance.resolveVersion(spark, path, asOf)

  private lazy val dataSchema: StructType = declaredSchema
    .orElse(if (mergeSchema) None // explicit merged-footer read wins
      else Maintenance.recordedSchema(spark, path, pinnedVersion))
    .getOrElse(
      Maintenance.readSnapshot(spark, path, Some(pinnedVersion), mergeSchema).schema)

  override def name(): String = s"graft_snapshot($path)"
  override def schema(): StructType = dataSchema
  override def capabilities(): java.util.Set[TableCapability] =
    // BATCH_WRITE routes DataFrameWriter onto the V2 path at all;
    // V1_BATCH_WRITE then tells the strategy the produced Write is a
    // V1Write (InsertableRelation) rather than a DataWriterFactory
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    changesFrom.foreach { f =>
      val vs = Maintenance.snapshotVersions(spark, path)
      require(f == 0 || vs.contains(f),
        s"changesFrom version $f not in $vs (expired or never committed)")
      require(f <= pinnedVersion,
        s"changesFrom $f must be <= the read version $pinnedVersion")
    }
    new SnapshotScanBuilder(spark, path, pinnedVersion, dataSchema, options,
      changesFrom)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(path, info.options)
}

/** The write half of the DSv2 face — `df.write.format(...)` with the
  * standard modes mapped onto snapshot commits:
  *
  *  - mode("append")    → [[Maintenance.snapshotAppend]] (creates the
  *    table when none exists);
  *  - mode("overwrite") → [[Maintenance.snapshotReplace]] —
  *    WRITE_TRUNCATE as a version, the reference DAG's own upload
  *    discipline (automated_switchback_test_analysis_script.py:173)
  *    with history kept until vacuum.
  *
  * Writer options: `nFiles` (default 4), `statsCols` (comma-separated
  * — enables readSnapshotRange/DSv2 pruning on those columns),
  * `clusterBy`. The rows are produced by Spark's own parquet writer
  * through the snapshot layer's commit path, so every guarantee the
  * Scala API has (atomic marker-verified rename, base-version pinning,
  * GC-able history) holds verbatim for SQL-side users. */
class SnapshotWriteBuilder(path: String, options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              overwrite: Boolean): Unit = {
            val nFiles = Option(options.get("nFiles")).map(_.toInt).getOrElse(4)
            val explicitStats = Option(options.get("statsCols")).toSeq
              .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
            val clusterBy = Option(options.get("clusterBy")).map(_.trim)
              .filter(_.nonEmpty)
            val exists = Maintenance
              .snapshotVersions(data.sparkSession, path).nonEmpty
            if (!exists)
              Maintenance.snapshotWrite(data, path, nFiles, explicitStats,
                clusterBy): Unit
            else if (doTruncate || overwrite)
              // a REPLACE derives nothing from the old state (the
              // snapshotReplace contract) — inheriting the old stats
              // here would break a schema-changing WRITE_TRUNCATE
              // whose new frame lacks the old stats column
              Maintenance.snapshotReplace(data, path, nFiles, explicitStats,
                clusterBy): Unit
            else {
              // APPENDS inherit the table's stats contract when the
              // writer passes none (SQL INSERT INTO, a plain
              // DataFrameWriter) — an append with mismatched manifest
              // columns must never be constructible through this path
              val statsCols =
                if (explicitStats.nonEmpty) explicitStats
                else Maintenance.tableStatsCols(data.sparkSession, path)
              Maintenance.snapshotAppend(data, path, nFiles, statsCols,
                clusterBy): Unit
            }
          }
        }
    }
}

/** Scan builder: collects the pushed catalyst filters and required
  * columns, prunes the version's file list against the manifest stats,
  * then builds Spark's own ParquetScanBuilder over the pruned file
  * index and re-pushes the same filters into it (row-group skipping). */
class SnapshotScanBuilder(spark: SparkSession, path: String, version: Long,
    dataSchema: StructType, options: CaseInsensitiveStringMap,
    changesFrom: Option[Long] = None)
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns {

  private var pushedExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  private var required: StructType = dataSchema

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    pushedExprs = filters
    // everything is residual: manifest pruning over-approximates and
    // the parquet reader's row-group skip is best-effort, so Spark
    // must re-apply every predicate (exactness contract)
    filters
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty // advertise nothing as handled; all predicates re-apply

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The v1-Filter rendering of the pushed predicates — the shape the
    * manifest pruner pattern-matches on. Untranslatable expressions
    * drop out (they just don't prune). */
  private def pushedV1: Array[Filter] =
    pushedExprs.flatMap(org.apache.spark.sql.graft.Bridge.translateFilter).toArray

  override def build(): Scan = {
    // the manifest is read and pruned on the driver (no Spark job plans
    // the scan); CDC reads restrict it to the files the diff base
    // doesn't list — the snapshotChanges planning, with the same stats
    // pruning then applied ON the delta
    val head = Maintenance.manifestOf(spark, path, version)
    val mf = changesFrom match {
      case None => head
      case Some(f) =>
        val before = Maintenance.manifestFiles(spark, path, f)
        head.filter(!col("file").isin(before.toSeq: _*))
    }
    val mfCols = mf.columns.toSet
    // the snapshot layer's one pruning semantics, shared with the DML
    // verbs' pruner so the two surfaces cannot drift
    val pruned = pushedV1.flatMap(Maintenance.manifestFilePredicate(mfCols, _))
      .foldLeft(mf)((m, p) => m.filter(p))
    val files = pruned.files.map(f => new HPath(s"$path/data/$f"))
    val index = new InMemoryFileIndex(spark, files.toIndexedSeq,
      Map.empty[String, String], Some(dataSchema))
    val psb = ParquetScanBuilder(spark, index, dataSchema, dataSchema, options)
    psb.pruneColumns(required)
    // re-push the same catalyst predicates for parquet row-group
    // skipping; the builder keeps only the shapes the reader converts
    // (unsupported ones are simply not row-group-filtered — the
    // residual re-apply already guarantees exactness)
    psb.pushFilters(pushedExprs): Unit
    psb.build()
  }
}
