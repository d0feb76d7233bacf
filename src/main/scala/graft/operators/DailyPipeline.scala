package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The reference DAG's `schedule_interval='@daily'` run-shape as an
  * operator (dags/switchback_test_dag.py: the DAG re-runs the extract →
  * clean → augment → aggregate chain each day and uploads the result
  * with WRITE_TRUNCATE): each scheduled run extracts ONE day slice of
  * the fact table through the pushed-down [[Tables.eventsRange]] bounds,
  * runs the switchback pipeline stages on it, and lands the day's
  * per-test metrics into a day-partitioned results table IDEMPOTENTLY —
  * re-running day N replaces day N's partition with byte-identical
  * content and leaves every other day untouched.
  *
  * MERGE semantics: the results key is (test_name, day, on_or_off) and
  * `day` is the partition column, so the general row-level MERGE
  * (delete-matching + insert — the q_merge_upsert full-outer kernel,
  * Relational.mergeUpsert) degenerates to an atomic overwrite of the
  * day's partition directory: the day-run touches ZERO bytes of the
  * accumulated table. That is the property that holds at 100 TB — a
  * year of dailies is 365 independent partition writes, each O(one
  * day), where a row-level merge into an unpartitioned table would
  * re-shuffle the whole history every night. (For merge keys NOT
  * aligned with a partition column, q_merge_upsert is the kernel.)
  *
  * The landing discipline is exactlyOnceParquetSink's (one
  * self-contained directory per unit of work, mode Overwrite), applied
  * to batch: a crashed/re-scheduled day-run lands on top of itself.
  *
  * Scale notes: the day slice reaches the parquet scan as raw-int64
  * pushed filters (eventsRange, plan-audited in Round7Spec), the config
  * dim is broadcast, the only shuffle is the day's tiny per-test
  * aggregation, and the readout scan prunes to requested day partitions.
  */
object DailyPipeline {

  private val keyCols = Seq("test_name", "on_or_off")

  /** One day's per-test × On/Off metric moments (count + exact DECIMAL
    * value/revenue sums, double-converted once): the sb-pipeline stages
    * ([[SwitchbackPipeline.extractOrders]] → cleanOrders → augment) over
    * the pushed-down day slice only. */
  def dayDelta(spark: SparkSession, dir: String, day: java.time.LocalDate): DataFrame = {
    val fromUs = day.toEpochDay * 86400000000L
    val sliced = Tables.eventsRange(spark, dir, fromUs, fromUs + 86400000000L)
    val augmented = SwitchbackPipeline.augment(SwitchbackPipeline.cleanOrders(
      SwitchbackPipeline.extractOrders(sliced, SwitchbackPipeline.testConfigs(spark))))
    val d = DecimalType(28, 6)
    augmented.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(d)).cast(DoubleType).as("sum_value"),
        sum(col("revenue_local").cast(d)).cast(DoubleType).as("sum_revenue"))
  }

  /** Land one day: compute the delta and commit it as an atomic
    * partition-overwrite VERSION of the versioned results table
    * ([[Maintenance.snapshotOverwritePartition]]) — the idempotent
    * MERGE for day-keyed results, now with snapshot isolation (readers
    * never see a half-landed day), time travel over the run history
    * (yesterday's accumulated table is version N−1), and a thrown
    * conflict if two schedulers land concurrently. The commit carries
    * every other day's files verbatim: a year of dailies is 365
    * O(one-day) commits, exactly as the bare directory-overwrite was,
    * plus the version manifest. */
  def landDay(spark: SparkSession, dir: String, base: String,
      day: java.time.LocalDate): Unit =
    Maintenance.snapshotOverwritePartition(
      dayDelta(spark, dir, day).withColumn("day", lit(java.sql.Date.valueOf(day))),
      base, partCol = "day", partValue = day.toString, nFiles = 1): Unit

  /** The accumulated results table (a day-partitioned snapshot table). */
  def resultsTable(spark: SparkSession, base: String): DataFrame =
    Maintenance.readSnapshot(spark, base)

  /** Driver-visible query: run the daily schedule over both tests' full
    * window (2024-01-03..2024-01-28, the union of the config spans),
    * then RE-RUN a mid-window day — the idempotence the reference's
    * re-triggered Airflow day exercises — and read the table back. The
    * oracle is the from-scratch batch at day grain, so any re-run drift
    * (a doubled row, a partial partition) hash-fails the gate. */
  def pipelineDaily(spark: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_daily_${java.util.UUID.randomUUID().toString.take(8)}").getAbsolutePath
    val first = java.time.LocalDate.parse("2024-01-03")
    val last = java.time.LocalDate.parse("2024-01-28")
    val days = Iterator.iterate(first)(_.plusDays(1)).takeWhile(!_.isAfter(last)).toSeq
    days.foreach(d => landDay(spark, dir, base, d))
    landDay(spark, dir, base, java.time.LocalDate.parse("2024-01-15")) // re-run: must change nothing
    val out = resultsTable(spark, base)
      .select(col("test_name"), col("day"), col("on_or_off"),
        col("n"), col("sum_value"), col("sum_revenue"))
      .orderBy("test_name", "day", "on_or_off")
    graft.CacheScope.defer(() =>
      graft.sources.Sources.deleteRecursively(new java.io.File(base)))
    // the landing dirs are consumed before release: snapshot the result
    // into executor blocks (localCheckpoint — distributed, no driver
    // round-trip) so the returned frame outlives the deferred cleanup
    graft.CacheScope.checkpoint(out)
  }

  private val pipelineDailyOracle =
    """WITH extracted AS (
      |  SELECT e.*, cfg.test_name, CAST(e.ts AS DATE) AS day,
      |    CASE WHEN ((epoch_us(date_trunc('hour', ts)) // 3600000000) + (user_id % 10)) % 2 = 0
      |         THEN 'On' ELSE 'Off' END AS on_or_off,
      |    CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS INT) AS k
      |  FROM events e
      |  JOIN (VALUES
      |      ('test_sb_pricing', 0, 4, 'click,view,purchase', '2024-01-05', '2024-01-25'),
      |      ('test_sb_dispatch', 5, 9, 'purchase,signup,error', '2024-01-10', '2024-01-28'))
      |    AS cfg(test_name, zone_lo, zone_hi, types, test_start, test_end)
      |    ON user_id % 10 BETWEEN cfg.zone_lo AND cfg.zone_hi
      |   AND list_contains(string_split(cfg.types, ','), e.event_type)
      |   AND CAST(e.ts AS DATE) BETWEEN CAST(cfg.test_start AS DATE) AND CAST(cfg.test_end AS DATE)),
      |augmented AS (
      |  SELECT *, "value" * 0.8 + k * 0.01 AS revenue_local
      |  FROM extracted WHERE k < 90)
      |SELECT test_name, day, on_or_off, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
      |  CAST(SUM(CAST(revenue_local AS DECIMAL(28,6))) AS DOUBLE) AS sum_revenue
      |FROM augmented GROUP BY 1, 2, 3
      |ORDER BY test_name, day, on_or_off""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_pipeline_daily", pipelineDaily, Some(pipelineDailyOracle)),
  )
}
