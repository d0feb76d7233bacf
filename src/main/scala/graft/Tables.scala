package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Central parquet table loaders for the graft engine.
  *
  * The engine is pointed at a directory of parquet tables (the driver's
  * TPC-H-ish synthetic set). All operators read through here so that
  * column pruning / predicate pushdown is applied uniformly at the scan.
  */
object Tables {
  /** `spark.read.parquet` of the table, given the schema inference
    * would pick, read off the footer on the driver
    * ([[operators.Manifest.footerSchema]]): planning the read runs no
    * schema-inference job. A table directory with subdirectories
    * (partition discovery) infers as before. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(root)
    val listed =
      if (st.isFile) Seq(st)
      else fs.listStatus(root).toSeq.filterNot(s => operators.Manifest.hidden(s.getPath.getName))
    val schema =
      if (listed.exists(_.isDirectory)) None
      else operators.Manifest.footerSchema(spark, listed.map(_.getPath.toString),
        spark.sessionState.conf.isParquetSchemaMergingEnabled)
    schema.fold(spark.read)(spark.read.schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  /** `events.ts` has been written by the driver as parquet
    * TIMESTAMP(NANOS) in some data generations and TIMESTAMP(MICROS) in
    * others. NANOS Spark's TimestampType (µs) refuses outright, so the
    * column is read as its physical int64 (legacy nanos conf + explicit
    * LongType schema) and the unit decided by magnitude: ns-since-epoch
    * for any plausible event date is ~1e18, µs ~1e15 — 5e16 separates
    * them (a µs value that large would mean year ~3550; a ns value that
    * small, mid-1971). Per-row CASE so the check is codegen'd and a
    * mixed file would still convert correctly. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir)
      .withColumn("ts",
        expr("timestamp_micros(CASE WHEN ts > 50000000000000000 THEN ts div 1000 ELSE ts END)"))

  private[graft] def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // Scoped nanos handling: an explicit schema (ts as LONG) skips the
    // inference path, which would consult the SESSION conf; the reader
    // option lands in this relation's hadoop conf, which is what the
    // execution-time schema converter reads. No session-wide
    // spark.conf.set — later parquet reads in the session are untouched.
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // integer `div`, NOT `/`: ns-since-epoch (~1.7e18) exceeds a double's
    // 2^53 exact-integer range, so float division would round the tail.
    spark.read
      .schema(schema)
      .option("spark.sql.legacy.parquet.nanosAsLong", "true")
      .parquet(s"$dir/events.parquet")
  }

  /** Time-bounded events scan with a PUSHABLE ts predicate.
    *
    * The unit-autodetect CASE in [[events]] is a computed column, so a
    * range filter placed above it can never reach the parquet scan —
    * at 100 TB a "last 7 days" dashboard query would pay a full fact-
    * table scan. Here the [fromUs, toUs) bound is emitted against the
    * RAW int64 column under BOTH unit hypotheses OR'd — the µs range
    * (~1e15) and its ×1000 ns image (~1e18) are disjoint on either
    * side of the 5e16 autodetect threshold, so a row passes the raw
    * disjunction iff its unit-decoded timestamp is in range. Parquet
    * accepts Or(And(GtEq,Lt), And(GtEq,Lt)) → PushedFilters carries
    * the bounds and row-group statistics prune (plan-audited in
    * Round7Spec). The decoded-ts filter is re-applied above the
    * conversion as a semantic belt-and-braces (free: the pruned scan
    * already dropped the row groups). */
  def eventsRange(spark: SparkSession, dir: String, fromUs: Long, toUs: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(0 <= fromUs && fromUs <= toUs && toUs < Long.MaxValue / 1000L,
      s"eventsRange bounds out of the representable window: [$fromUs, $toUs)")
    eventsRaw(spark, dir)
      .filter((col("ts") >= fromUs && col("ts") < toUs) ||
        (col("ts") >= fromUs * 1000L && col("ts") < toUs * 1000L))
      .withColumn("ts",
        expr("timestamp_micros(CASE WHEN ts > 50000000000000000 THEN ts div 1000 ELSE ts END)"))
      .filter(col("ts") >= expr(s"timestamp_micros(${fromUs}L)") &&
        col("ts") < expr(s"timestamp_micros(${toUs}L)"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
