package perfbench

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DailyPipeline, Maintenance}

/** One timed step of a pass: `run` calls into the program and returns
  * the frame whose collected rows are the step's output (None for a
  * step that only commits). `commit` marks steps that write exactly one
  * snapshot version. */
final case class Step(name: String, commit: Boolean, run: () => Option[DataFrame])

/** A workload: the steps of pass `i`, plus untimed set-up and clean-up
  * around them. */
trait Workload {
  def stage(pass: Int): Unit = ()
  def steps(pass: Int): Seq[Step]
  def cleanup(pass: Int): Unit = ()
  /** Values read off disk after the pass (file counts), checked with
    * the collected rows. */
  def facts(pass: Int): Seq[(String, Long)] = Nil
  /** Data files the pass's timed steps wrote. */
  def filesWritten(pass: Int): Long = 0L
}

/** Registry headliners, called exactly as a user of the operator API
  * calls them: `Registry.byName(name).fn(spark, tableDir)`. */
final class RegistryWorkload(spark: SparkSession, data: String, names: Seq[String])
    extends Workload {
  private val byName = graft.Registry.byName
  names.foreach(n => require(byName.contains(n), s"operator $n is not registered"))
  def steps(pass: Int): Seq[Step] =
    names.map(n => Step(n, commit = false, () => Some(byName(n).fn(spark, data))))
}

/** Writes beside reads. Part one lands a window of test days as
  * snapshot commits, re-lands one of them and reads the table back at
  * every version. Part two applies a MERGE (Scala API), a SQL DELETE
  * and a SQL OPTIMIZE ZORDER through the session's snapshot catalog to
  * an orders table staged (untimed) at the start of the pass. */
final class LakehouseWorkload(spark: SparkSession, data: String, lake: String,
    catalog: String, p: Params) extends Workload {
  private def passDir(i: Int) = s"$lake/p$i"
  private def daily(i: Int) = s"${passDir(i)}/daily"
  private def orders(i: Int) = s"${passDir(i)}/orders"
  private val days = p.landDays.map(LocalDate.parse)

  private var stagedFiles = 0L
  private def parquetFiles(i: Int): Long = {
    val root = java.nio.file.Paths.get(passDir(i))
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.count(f => f.toString.endsWith(".parquet") &&
        f.toString.contains("/data/")).toLong
      finally s.close()
    }
  }

  /** The orders table is written once, as version 1 of a template
    * table; each pass starts from a file copy of it (manifests hold
    * relative paths), which keeps the untimed staging out of the run's
    * length. */
  override def stage(i: Int): Unit = {
    val template = java.nio.file.Paths.get(s"$lake/template_orders")
    if (!java.nio.file.Files.exists(template)) {
      val o = graft.Tables.orders(spark, data)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Maintenance.snapshotWrite(o, template.toString, nFiles = LakehouseWorkload.StageFiles,
        statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey")): Unit
    }
    val target = java.nio.file.Paths.get(orders(i))
    val files = java.nio.file.Files.walk(template)
    try files.iterator().asScala.foreach { f =>
      val to = target.resolve(template.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally files.close()
    stagedFiles = parquetFiles(i)
  }

  override def filesWritten(i: Int): Long = parquetFiles(i) - stagedFiles

  def steps(i: Int): Seq[Step] = {
    val landings = days.zipWithIndex.map { case (d, k) =>
      Step(s"land_day${k + 1}", commit = true,
        () => { DailyPipeline.landDay(spark, data, daily(i), d); None })
    }
    val reland = LocalDate.parse(p.relandDay)
    val readDaily = Step("daily_versions", commit = false, () => Some(
      (1 to days.size + 1).map { v =>
        Maintenance.readSnapshot(spark, daily(i), Some(v.toLong))
          .select(lit(v).as("version"), col("test_name"), col("day"),
            col("on_or_off"), col("n"), col("sum_value"), col("sum_revenue"))
      }.reduce(_ unionByName _)))
    val table = s"$catalog.p$i.orders"
    landings ++ Seq(
      Step("reland", commit = true,
        () => { DailyPipeline.landDay(spark, data, daily(i), reland); None }),
      readDaily,
      Step("merge", commit = true, () => {
        Maintenance.snapshotMerge(spark, orders(i),
          spark.read.parquet(p.changes), "o_orderkey", nFiles = LakehouseWorkload.MergeFiles)
        None
      }),
      Step("sql_delete", commit = true, () => {
        spark.sql(s"DELETE FROM $table WHERE o_orderkey BETWEEN ${p.deleteLo} AND ${p.deleteHi}")
        None
      }),
      Step("sql_optimize_zorder", commit = true, () => {
        spark.sql(s"OPTIMIZE $table ZORDER BY (o_custkey, o_orderkey)").collect()
        None
      }),
      Step("orders_versions", commit = false, () => Some(
        (2 to 4).map { v =>
          Maintenance.readSnapshot(spark, orders(i), Some(v.toLong))
            .select(lit(v).as("version"), col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus"), col("o_totalprice"))
        }.reduce(_ unionByName _))),
    )
  }

  override def facts(i: Int): Seq[(String, Long)] =
    (1 to 4).map(v => s"orders_files_v$v" ->
      Maintenance.readSnapshot(spark, orders(i), Some(v.toLong)).inputFiles.length.toLong)

  override def cleanup(i: Int): Unit =
    graft.sources.Sources.deleteRecursively(new java.io.File(passDir(i)))
}

object LakehouseWorkload {
  /** Data files of the staged orders table, and of the table MERGE writes. */
  val StageFiles = 8
  val MergeFiles = 4
}

/** Lakehouse inputs drawn by run.py from the run's seed. */
final case class Params(landDays: Seq[String], relandDay: String, changes: String,
    deleteLo: Long, deleteHi: Long)

object Params {
  def load(path: String): Params = {
    val kv = scala.io.Source.fromFile(path).getLines()
      .map(_.split("=", 2)).collect { case Array(k, v) => k.trim -> v.trim }.toMap
    Params(kv("land_days").split(",").toSeq, kv("reland_day"), kv("changes"),
      kv("delete_lo").toLong, kv("delete_hi").toLong)
  }
}

object Workloads {
  val switchback = Seq("q_sb_pipeline", "q_sb_metrics", "q_mwu", "q_agg_groupby",
    "q_join_star", "q_sessionize", "q_asof_join")
}
