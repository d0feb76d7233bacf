package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One snapshot manifest held on the driver: the schema a file scan of
  * it reports and its rows, one per data file. Listing files, filtering
  * them on their stats and aggregating the bookkeeping columns are
  * driver work over these rows — no Spark job runs for them.
  *
  * [[frame]] is the manifest as a DataFrame, a LocalRelation over the
  * same rows, for the plans that go on into a job (a commit's carry
  * union, the MERGE key-range join, the public
  * [[Maintenance.snapshotManifest]]). */
private[graft] final class Manifest private (
    spark: SparkSession,
    val schema: StructType,
    val rows: IndexedSeq[InternalRow]) {

  def columns: Array[String] = schema.fieldNames
  def size: Int = rows.size
  def isEmpty: Boolean = rows.isEmpty

  /** The listed data files, relative to the table's `data/` dir. */
  def files: IndexedSeq[String] = {
    val i = schema.fieldIndex("file")
    rows.map(_.getUTF8String(i).toString)
  }

  /** The non-NULL values of a bigint bookkeeping column (`n_rows`,
    * `batch_id`). */
  def longs(c: String): IndexedSeq[Long] = {
    val i = schema.fieldIndex(c)
    require(schema(i).dataType == LongType,
      s"manifest column $c is ${schema(i).dataType.simpleString}, not bigint")
    rows.filterNot(_.isNullAt(i)).map(_.getLong(i))
  }

  /** The rows for which `cond` is true (NULL drops, as in a filter),
    * evaluated here by Spark's interpreted predicate over the rows:
    * the same semantics a DataFrame filter has, without a job or a
    * generated class. */
  def filter(cond: Column): Manifest = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val condition = Bridge.ofRows(spark, LocalRelation(attrs, Nil))
      .filter(cond).queryExecution.analyzed match {
        case f: Filter => f.condition
        case other => throw new IllegalStateException(
          s"manifest predicate $cond did not analyze to a filter: $other")
      }
    val p = Predicate.createInterpreted(
      BindReferences.bindReference(condition, new AttributeSeq(attrs)))
    p.initialize(0)
    new Manifest(spark, schema, rows.filter(p.eval))
  }

  def frame: DataFrame = Bridge.localFrame(spark, schema, rows)
}

private[graft] object Manifest {

  def local(spark: SparkSession, schema: StructType,
      rows: IndexedSeq[InternalRow]): Manifest =
    new Manifest(spark, schema, rows)

  /** The manifest committed in the version directory `dir`, read in the
    * calling thread: its parquet file(s) in path order with Spark's own
    * reader, the schema from the first one's footer — exactly what
    * inference over the directory picks — made nullable, as a file scan
    * makes it. */
  def read(spark: SparkSession, dir: String): Manifest = {
    val root = new Path(dir)
    val files = root.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(root).toIndexedSeq
      .filter(st => st.isFile && !hidden(st.getPath.getName))
      .sortBy(_.getPath.toString)
    if (files.isEmpty)
      throw new IllegalStateException(s"$dir holds no manifest file")
    val schema = Bridge.asNullable(Bridge.parquetFooterSchema(spark,
      files.head.getPath, footer(spark, files.head.getPath, rowGroups = false)))
    new Manifest(spark, schema, files.flatMap(Bridge.readParquetRows(spark, _, schema)))
  }

  // the names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName)
  private[graft] def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  def footer(spark: SparkSession, file: Path, rowGroups: Boolean): ParquetMetadata =
    ParquetFileReader.readFooter(
      HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()),
      if (rowGroups) ParquetMetadataConverter.NO_FILTER
      else ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** The schema Spark's parquet inference gives a read of `files` (full
    * paths), from footers read on the driver: the first file in path
    * order (the one inference reads), or with `mergeSchema` every
    * file's footer folded in path order (inference's merge). None when
    * the footers do not merge, so that inference raises its own error. */
  def footerSchema(spark: SparkSession, files: Seq[String],
      mergeSchema: Boolean): Option[StructType] =
    if (files.isEmpty) None
    else {
      val sorted = files.map(new Path(_)).sortBy(_.toString)
      val schemas = (if (mergeSchema) sorted else sorted.take(1)).map(p =>
        Bridge.parquetFooterSchema(spark, p, footer(spark, p, rowGroups = false)))
      scala.util.Try(schemas.reduce(Bridge.mergeSchemas(spark, _, _))).toOption
    }

  /** `spark.read.parquet(files)` given the schema [[footerSchema]]
    * derives, so planning the read runs no inference job. */
  def readFiles(spark: SparkSession, files: Seq[String],
      mergeSchema: Boolean): DataFrame = {
    val reader = spark.read.option("mergeSchema", mergeSchema.toString)
    footerSchema(spark, files, mergeSchema).fold(reader)(reader.schema)
      .parquet(files: _*)
  }

  /** [[readFiles]] merging schemas as the session's
    * `spark.sql.parquet.mergeSchema` says, as a plain
    * `spark.read.parquet(files)` does. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    readFiles(spark, files, spark.sessionState.conf.isParquetSchemaMergingEnabled)

  /** The key Spark writes into a footer whose dates and timestamps were
    * rebased to the legacy hybrid calendar. */
  private val LegacyDateTimeKey = "org.apache.spark.legacyDateTime"

  /** Manifest rows (`relPrefix` + name, n_rows, min/max per stats
    * column — the layout of `statsSchema`) for the files `names`, off
    * their full `footers`. n_rows is the sum of the row-group counts;
    * a column's min/max folds the chunk statistics, skipping all-NULL
    * chunks, so an all-NULL column or a zero-row file gets NULL stats,
    * as the aggregation gives. None — the caller aggregates instead —
    * unless every stats column is Byte, Short, Int, Long or Date (the
    * integral part of what Spark's parquet aggregate push-down trusts
    * footer min/max for), resolves case-insensitively to exactly one
    * top-level column of every file with the matching physical type,
    * every chunk holding non-NULL values carries min/max, and no footer
    * carries the legacy-datetime key. */
  def footerStats(names: Seq[String], footers: Seq[ParquetMetadata],
      statsSchema: StructType, statsCols: Seq[String],
      relPrefix: String): Option[IndexedSeq[InternalRow]] = {
    val types = statsCols.map(c => statsSchema(s"min_$c").dataType)
    val integral = types.forall {
      case ByteType | ShortType | IntegerType | LongType | DateType => true
      case _ => false
    }
    def physicalMatches(dt: DataType,
        pt: org.apache.parquet.schema.PrimitiveType): Boolean = {
      val la = pt.getLogicalTypeAnnotation
      def signedInt = la == null || (la match {
        case i: IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      })
      (dt, pt.getPrimitiveTypeName) match {
        case (DateType, INT32) => la.isInstanceOf[DateLogicalTypeAnnotation]
        case (ByteType | ShortType | IntegerType, INT32) => signedInt
        case (LongType, INT64) => signedInt
        case _ => false
      }
    }
    // [min, max] of one column over the chunks of a file; Some(None)
    // when no chunk holds a non-NULL value
    def minMax(f: ParquetMetadata, c: String,
        dt: DataType): Option[Option[(Long, Long)]] = {
      val hits = f.getFileMetaData.getSchema.getFields.asScala
        .filter(_.getName.equalsIgnoreCase(c))
      if (hits.size != 1 || !hits.head.isPrimitive ||
        !physicalMatches(dt, hits.head.asPrimitiveType)) return None
      val path = ColumnPath.get(hits.head.getName)
      var acc: Option[(Long, Long)] = None
      for (b <- f.getBlocks.asScala if b.getRowCount > 0) {
        val chunk = b.getColumns.asScala.find(_.getPath == path).orNull
        if (chunk == null) return None
        val st = chunk.getStatistics
        if (st != null && st.hasNonNullValue) {
          val (lo, hi) = (st.genericGetMin, st.genericGetMax) match {
            case (l: java.lang.Number, h: java.lang.Number) => (l.longValue, h.longValue)
            case _ => return None
          }
          acc = Some(acc.fold((lo, hi)) { case (a, z) => (a min lo, z max hi) })
        } else if (st == null || !st.isNumNullsSet ||
            st.getNumNulls != chunk.getValueCount) return None
      }
      Some(acc)
    }
    def internal(dt: DataType, v: Long): Any = dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case _ => v
    }
    if (!integral) return None
    val out = names.zip(footers).map { case (name, f) =>
      if (f.getFileMetaData.getKeyValueMetaData.containsKey(LegacyDateTimeKey))
        return None
      val stats = statsCols.zip(types).flatMap { case (c, dt) =>
        minMax(f, c, dt) match {
          case None => return None
          case Some(Some((lo, hi))) => Seq(internal(dt, lo), internal(dt, hi))
          case Some(None) => Seq(null, null)
        }
      }
      InternalRow.fromSeq(UTF8String.fromString(relPrefix + name) +:
        f.getBlocks.asScala.map(_.getRowCount).sum +: stats)
    }
    Some(out.toIndexedSeq)
  }
}
