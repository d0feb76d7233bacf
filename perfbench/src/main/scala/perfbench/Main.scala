package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Json

/** One benchmark run in a fresh JVM: open a local graft session, run
  * the workload's first (cold) pass, then exactly `--warm-passes` warm
  * passes. Every pass prints one `PB {...}` line to
  * stdout with its wall and CPU time, the hypervisor steal it saw, its
  * output hash and its hygiene; with `--trace 1` it also carries the
  * pass's per-layer counters. The cold pass's outputs are written as
  * parquet to `--out` for run.py's independent checks.
  *
  * Arguments (all required): --workload --data --work --out
  * --warm-passes --trace --params. */
object Main {

  /** Spark cores: `local[2]` ran the switchback queries at least as fast
    * as `local[4]` on 4 vCPUs and leaves room for the JIT and GC threads. */
  val Cores = 2

  private def emit(json: String): Unit = { println("PB " + json); Console.out.flush() }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def janinoCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Aggregate steal ticks from /proc/stat (0 where it is not there). */
  private def stealTicks(): Long =
    try {
      val cols = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      cols.lift(7).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  /** Peak resident set of this process, in kB (VmHWM). */
  private def peakRssKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString

  /** Content hash of a step's output: its rows, order-insensitive. */
  private def digest(parts: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (name, data, work, out) = (o("workload"), o("data"), o("work"), o("out"))
    val spark = graft.GraftSession.local(Cores)
    spark.range(1).count()
    emit(s"""{"kind":"setup","first_action_ms":${System.currentTimeMillis()}}""")

    val catalog = "pb_lake"
    val wl: Workload = name match {
      case "switchback" => new RegistryWorkload(spark, data, Workloads.switchback)
      case "lakehouse" =>
        spark.conf.set(s"spark.sql.catalog.$catalog",
          classOf[graft.sources.SnapshotCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catalog.root", s"$work/lake")
        new LakehouseWorkload(spark, data, s"$work/lake", catalog, Params.load(o("params")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = if (o("trace") == "1") Some(new Tracer(spark)) else None
    val coldOutputs = mutable.ArrayBuffer.empty[(String, Array[Row], StructType)]
    var spanSeq = 0
    def spanId(): String = { spanSeq += 1; s"h$spanSeq" }

    def pass(i: Int): Unit = {
      wl.stage(i)
      val confBefore = spark.conf.getAll
      tracer.foreach(_.begin())
      val (cpu0, gc0, jit0, cg0, st0) = (cpuNs(), gcMs(), jitMs(), janinoCompiles(), stealTicks())
      val passId = spanId()
      val passStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var failed = 0
      var buildNs = 0L
      val commitMs = mutable.ArrayBuffer.empty[Double]
      val hashParts = mutable.ArrayBuffer.empty[String]
      val stepWall = mutable.ArrayBuffer.empty[String]
      val steps = wl.steps(i)
      steps.foreach { s =>
        val stepId = spanId()
        val s0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        try {
          val df = s.run()
          val n1 = System.nanoTime()
          buildNs += n1 - n0
          tracer.foreach(_.record(Span(spanId(), stepId, "build", s.name, s0,
            s0 + (n1 - n0) / 1000000L)))
          df.foreach { d =>
            val r0 = System.currentTimeMillis()
            val rows = d.collect()
            tracer.foreach(_.record(Span(spanId(), stepId, "collect", s.name, r0,
              System.currentTimeMillis())))
            hashParts += s.name + ":" + digest(rows.map(_.toString).sorted.toIndexedSeq)
            if (i == 0) coldOutputs += ((s.name, rows, d.schema))
          }
          if (s.commit) commitMs += (System.nanoTime() - n0) / 1e6
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] step ${s.name} failed: $e")
        } finally graft.CacheScope.releaseAll()
        stepWall += s"${Json.str(s.name)}:${num((System.nanoTime() - n0) / 1e9)}"
        tracer.foreach(_.record(Span(stepId, passId, "step", s.name, s0,
          System.currentTimeMillis())))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      val (gc, jit, cg, st) =
        (gcMs() - gc0, jitMs() - jit0, janinoCompiles() - cg0, stealTicks() - st0)
      tracer.foreach(_.record(Span(passId, "", "pass", s"pass $i", passStart,
        System.currentTimeMillis())))
      val layers = tracer.map { t =>
        val (c, busy) = t.end()
        def mb(k: String) = c.getOrElse(k, 0.0) / (1 << 20)
        val commits = commitMs.sorted
        val p50 = if (commits.isEmpty) 0.0 else
          if (commits.size % 2 == 1) commits(commits.size / 2)
          else (commits(commits.size / 2 - 1) + commits(commits.size / 2)) / 2
        Seq(
          "operators.build_s" -> buildNs / 1e9,
          "catalyst.analysis_ms" -> c.getOrElse("catalyst.analysis_ms", 0.0),
          "catalyst.optimization_ms" -> c.getOrElse("catalyst.optimization_ms", 0.0),
          "catalyst.planning_ms" -> c.getOrElse("catalyst.planning_ms", 0.0),
          "scheduler.jobs" -> c.getOrElse("scheduler.jobs", 0.0),
          "scheduler.stages" -> c.getOrElse("scheduler.stages", 0.0),
          "scheduler.tasks" -> c.getOrElse("scheduler.tasks", 0.0),
          "scheduler.stage_busy_s" -> busy,
          "scheduler.driver_gap_s" -> math.max(0.0, wall - busy),
          "codegen.janino_compiles" -> cg.toDouble,
          "codegen.jit_ms" -> jit.toDouble,
          "exchange.shuffle_write_mb" -> mb("exchange.shuffle_write_bytes"),
          "exchange.shuffle_read_mb" -> mb("exchange.shuffle_read_bytes"),
          "exchange.spill_mb" -> mb("exchange.spill_bytes"),
          "scan.input_mb" -> mb("scan.input_bytes"),
          "scan.input_rows" -> c.getOrElse("scan.input_rows", 0.0),
          "jvm.gc_ms" -> gc.toDouble,
          "maintenance.commits" -> commits.size.toDouble,
          "maintenance.commit_p50_ms" -> p50,
          "maintenance.files_written" -> wl.filesWritten(i).toDouble,
          "maintenance.bytes_written_mb" -> mb("maintenance.bytes_written"),
        ).map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")
      }
      val facts = wl.facts(i)
      hashParts ++= facts.map { case (k, v) => s"$k=$v" }
      val hygiene = spark.sparkContext.getPersistentRDDs.isEmpty &&
        spark.conf.getAll == confBefore
      wl.cleanup(i)
      emit(s"""{"kind":"pass","i":$i,"wall_s":${num(wall)},"cpu_s":${num(cpu)},""" +
        s""""steal_ticks":$st,"gc_ms":$gc,"jit_ms":$jit,"janino_compiles":$cg,""" +
        s""""attempted":${steps.size},"failed":$failed,"hygiene":$hygiene,""" +
        s""""hash":${Json.str(digest(hashParts.toSeq))},""" +
        s""""steps":${stepWall.mkString("{", ",", "}")},""" +
        s""""facts":${facts.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}""" +
        layers.map(l => s""","layers":$l""").getOrElse("") + "}")
    }

    // a fixed number of passes, however fast they run: every run then
    // covers the same passes, its peak RSS included
    val passes = 1 + o("warm-passes").toInt
    (0 until passes).foreach(pass)
    val peak = peakRssKb()
    tracer.foreach(_.detach())

    coldOutputs.foreach { case (step, rows, schema) =>
      spark.createDataFrame(rows.toIndexedSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$step")
    }
    tracer.foreach { t =>
      // a query execution, or a job run outside one, gets as parent the
      // step whose interval holds its start
      val steps = t.spans.filter(_.kind == "step")
      val spans = t.spans.map {
        case q if (q.kind == "query" || q.kind == "job") && q.parent.isEmpty =>
          q.copy(parent = steps.find(s => s.start <= q.start && q.start <= s.end)
            .map(_.id).getOrElse(""))
        case other => other
      }
      val w = new java.io.PrintWriter(s"$out/spans.jsonl")
      try spans.foreach { s =>
        w.println(s"""{"id":${Json.str(s.id)},"parent":${Json.str(s.parent)},""" +
          s""""kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
          s""""start_ms":${s.start},"end_ms":${s.end}}""")
      } finally w.close()
    }
    emit(s"""{"kind":"end","passes":$passes,"peak_rss_kb":$peak}""")
    spark.stop()
  }
}
