package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the
  * bridge lives in this package purely to reach the private[sql]
  * converter for graft's native Catalyst expressions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom logical plan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The materialized internal RDD behind a locally-checkpointed
    * Dataset (its analyzed plan is a LogicalRDD). Unpersisting THAT rdd
    * is the only way to free local-checkpoint blocks —
    * `Dataset.unpersist` consults the cache manager, which doesn't know
    * about them. */
  def materializedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** `df.localCheckpoint()`, except that a generation whose
    * materializing job fails is not left behind. Spark persists the new
    * RDD and registers it with the context before that job runs; when
    * the job fails, nothing the caller holds reaches the RDD, and its
    * blocks would stay until a GC ran the context cleaner. So on
    * failure every locally checkpointed RDD created during the call is
    * unpersisted. (A local checkpoint that another thread starts in
    * that same instant would be unpersisted too; graft's runners run
    * one operator at a time per session.) */
  def localCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    val floor = sc.newRddId()
    try df.localCheckpoint()
    catch { case e: Throwable =>
      sc.getPersistentRDDs.values
        .filter(r => r.id > floor && r.checkpointData.exists(
          _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
        .foreach(_.unpersist(blocking = false))
      throw e
    }
  }

  /** Free whatever a checkpointed Dataset generation holds: the
    * executor blocks of a localCheckpoint (unpersist on the
    * materialized RDD — the one release `Dataset.unpersist` cannot
    * reach), and, for a RELIABLE checkpoint, the generation's files in
    * the checkpoint directory (Spark never deletes these on its own
    * unless the reference-tracking cleaner is enabled — an iterative
    * operator that checkpoints every round would otherwise leak one
    * directory per round for the lifetime of the job). */
  def freeCheckpointed(df: org.apache.spark.sql.DataFrame): Unit =
    materializedRdd(df).foreach { rdd =>
      if (rdd.getCheckpointFile.isDefined)
        org.apache.spark.rdd.ReliableRDDCheckpointData.cleanCheckpoint(
          rdd.sparkContext, rdd.id)
      rdd.unpersist(blocking = false)
    }

  /** Catalyst predicate → v1 source Filter (DataSourceStrategy
    * .translateFilter is protected[sql]) — the shape the snapshot
    * source's manifest pruner pattern-matches on. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** A STREAMING DataFrame over a fixed list of parquet files — the
    * micro-batch a V1 streaming Source's getBatch returns (the
    * FileStreamSource recipe: resolve a file-scoped relation, wrap it
    * in a LogicalRelation with isStreaming = true so the incremental
    * planner accepts it). The scan is Spark's own parquet batch reader;
    * this helper only exists because Dataset.ofRows and the
    * isStreaming flag are private[sql]. */
  def streamingFileBatch(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    val ds = org.apache.spark.sql.execution.datasources.DataSource(
      spark,
      className = "parquet",
      paths = files,
      userSpecifiedSchema = Some(schema))
    ofRows(spark, org.apache.spark.sql.execution.datasources.LogicalRelation(
      ds.resolveRelation(checkFilesExist = false), isStreaming = true))
  }

  /** The zero-row streaming micro-batch (an offset range that added no
    * files): a streaming-flagged empty LocalRelation in the source's
    * schema. */
  def emptyStreamingBatch(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      Nil, isStreaming = true))

  /** The Spark schema a parquet footer declares, converted exactly as
    * schema inference converts it (`ParquetFileFormat
    * .mergeSchemasInParallel`: the same session flags, the same footer
    * reader) — so a read given this schema plans the relation inference
    * would have planned, without inference's Spark job. */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
      file: org.apache.hadoop.fs.Path,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    val conf = sqlConf(spark)
    val converter = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(file, footer), converter)
  }

  /** Schema inference's merge of two file schemas (mergeSchema reads):
    * `a`'s fields first, `b`'s new fields appended, nullability OR'd;
    * throws on a same-name type conflict, as inference does. */
  def mergeSchemas(spark: org.apache.spark.sql.SparkSession,
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    a.merge(b, sqlConf(spark).caseSensitiveAnalysis)

  /** A schema with every field nullable — what a file scan reports. */
  def asNullable(st: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    st.asNullable

  /** Every row of one parquet file, read in the calling thread with
    * Spark's own parquet reader (`returning_batch=false`: rows, not
    * columnar batches) — no Spark job. For planner-scale files only
    * (a manifest): the rows are copied onto the driver heap. */
  def readParquetRows(spark: org.apache.spark.sql.SparkSession,
      file: org.apache.hadoop.fs.FileStatus,
      schema: org.apache.spark.sql.types.StructType)
      : IndexedSeq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val read = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, schema,
        new org.apache.spark.sql.types.StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        classic(spark).sessionState.newHadoopConf())
    val it = read(PartitionedFile(org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPath(file.getPath), 0L, file.getLen,
      Array.empty[String], file.getModificationTime, file.getLen))
    // outside a task no completion listener closes the reader: drain
    // and close it here
    try it.map(_.copy()).toIndexedSeq
    finally it match {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
  }

  /** A DataFrame over rows already on the driver: a LocalRelation, so
    * filters and projections over it fold on the driver. */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  private def classic(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def sqlConf(spark: org.apache.spark.sql.SparkSession) =
    classic(spark).sessionState.conf

  /** Register a native function on a live session (the extensions path
    * only works at session build time). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)
}
