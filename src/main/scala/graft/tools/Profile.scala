package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev profiler: runs named registry queries (default: the bench
  * headliners) under a SparkListener that attributes wall-clock to jobs
  * and stages — job count, per-stage task time, shuffle bytes — plus
  * the driver gap between jobs and a main-thread stack sampler, so an
  * expensive query's cost is located without the Spark UI (disabled in
  * the bench session shape). Not part of the driver contract.
  *
  * Usage: runMain graft.tools.Profile [sfDir] [queryName ...]
  *
  * `-Dprofile.conf=key=value,key=value` sets session conf for the whole
  * run. A value written as alternatives, `key=a|b`, turns the run into
  * an interleaved same-JVM A/B: each query gets one untimed warmup per
  * alternative, then three rounds that time every alternative in turn,
  * each under its own value (cross-run contention on a shared box
  * swings wall-clock 1.3–2× invisibly to the load average, so only
  * interleaved variants are comparable). Several keys with alternatives
  * run their cross product.
  *
  * Every warmup and timed run also prints `janino=N`, the classes Spark
  * compiled for it (Janino compiles, the `CodegenMetrics` count); a
  * warm run that compiles anything missed Spark's codegen cache.
  */
object Profile {

  private final case class StageRow(name: String, tasks: Int,
      runMs: Long, cpuMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double, wallMs: Long)

  /** `key=value,key=a|b` → (conf set for the whole run, the variants to
    * interleave — one per element of the alternatives' cross product). */
  private[graft] def parseConf(spec: String)
      : (Seq[(String, String)], Seq[Seq[(String, String)]]) = {
    val kvs = spec.split(',').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match { // conf values may contain '='
        case Array(k, v) => k.trim -> v.split('|').toSeq
        case _ => throw new IllegalArgumentException(
          s"profile.conf entry '$kv' is not key=value or key=a|b")
      }
    }
    val (fixed, alts) = kvs.partition(_._2.size == 1)
    val variants = alts.foldLeft(Seq(Seq.empty[(String, String)])) {
      case (acc, (k, vs)) => for (a <- acc; v <- vs) yield a :+ (k -> v)
    }
    (fixed.map { case (k, vs) => k -> vs.head }, variants)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
      else graft.Registry.ops.filter(_.headline).map(_.name)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val (fixed, variants) = parseConf(sys.props.getOrElse("profile.conf", ""))
    fixed.foreach { case (k, v) =>
      spark.conf.set(k, v)
      println(s"[profile] conf override: $k=$v")
    }

    val stages = mutable.Buffer[StageRow]()
    val jobs = mutable.Buffer[(Int, Long)]() // jobId, wallMs
    val jobSpans = mutable.Buffer[(Long, Long)]() // startT, endT
    val jobStart = mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { t0 =>
          jobs += ((e.jobId, e.time - t0)); jobSpans += ((t0, e.time))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(0L)
        stages += StageRow(
          si.name.takeWhile(_ != '\n').take(90), si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.inputMetrics.bytesRead / 1048576.0, wall)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, sfDir).count()

    // driver stack sampler: attributes main-thread time to subsystems
    val mainThread = Thread.currentThread()
    val sampleCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val tag =
            if (st.exists(s => s.getMethodName == "park" ||
                s.getMethodName == "awaitResult" || s.getMethodName == "await" ||
                s.getMethodName.startsWith("wait"))) "blocked-waiting"
            else if (st.exists(_.getClassName.contains("janino")) ||
                st.exists(_.getClassName.contains("CodeGenerator"))) "codegen"
            else if (st.exists(_.getClassName.contains("sql.catalyst.analysis"))) "analysis"
            else if (st.exists(_.getClassName.contains("sql.catalyst.optimizer"))) "optimizer"
            else if (st.exists(_.getClassName.contains("adaptive"))) "aqe"
            else if (st.exists(_.getClassName.contains("sql.execution.exchange")) ||
                st.exists(_.getClassName.contains("ShuffleExchange"))) "exchange-prep"
            else if (st.exists(_.getClassName.contains("QueryPlanner")) ||
                st.exists(_.getClassName.contains("SparkStrateg"))) "planning"
            else if (st.exists(_.getClassName.contains("CacheManager"))) "cache-mgr"
            else if (st.exists(s => s.getClassName.contains("DAGScheduler") ||
                s.getMethodName == "awaitResult" || s.getMethodName == "awaitReady")) "await-job"
            else if (st.exists(_.getClassName.contains("TreeNode")) ||
                st.exists(_.getClassName.contains("sql.catalyst"))) "catalyst-misc"
            else st.drop(2).headOption.map(f =>
              f.getClassName.split('.').takeRight(2).mkString(".") + "." + f.getMethodName)
              .getOrElse("?")
          sampleCounts.merge(tag, 1, (a, b) => a + b)
        }
        Thread.sleep(2)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    def force(n: String): Unit =
      graft.Registry.byName(n).fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    def label(v: Seq[(String, String)]): String =
      v.map { case (k, x) => s" $k=$x" }.mkString
    def janino(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rounds = if (variants.size > 1) 3 else 1
    names.foreach { n =>
      // one untimed warmup per variant, like Bench
      variants.foreach { v =>
        val j0 = janino()
        try graft.CacheScope.withConf(spark, v: _*)(force(n))
        catch { case _: Throwable => () }
        finally graft.CacheScope.releaseAll()
        println(s"[profile] $n warmup${label(v)} janino=${janino() - j0}")
      }
      for (round <- 1 to rounds; v <- variants) {
        stages.clear(); jobs.clear(); jobSpans.clear(); sampleCounts.clear()
        val j0 = janino()
        val t0 = System.nanoTime()
        sampling = true
        try graft.CacheScope.withConf(spark, v: _*)(force(n))
        catch { case e: Throwable => println(s"[$n] FAILED: ${e.getMessage}") }
        finally { sampling = false; graft.CacheScope.releaseAll() }
        val wall = (System.nanoTime() - t0) / 1e9
        val compiles = janino() - j0
        Thread.sleep(300) // let listener events drain
        // driver-side dead time: wall minus the union of job spans
        val spans = jobSpans.sortBy(_._1)
        var covered = 0L; var cursor = 0L
        spans.foreach { case (s, e) =>
          val st = math.max(s, cursor)
          if (e > st) { covered += e - st; cursor = e } else cursor = math.max(cursor, e)
        }
        val spanTotal = if (spans.nonEmpty) spans.map(_._2).max - spans.head._1 else 0L
        val tag = if (rounds > 1) s" #$round${label(v)}" else ""
        println(f"\n### $n$tag wall=$wall%.3f s jobs=${jobs.size} stages=${stages.size} janino=$compiles " +
          f"stageWallSum=${stages.map(_.wallMs).sum / 1000.0}%.3f s " +
          f"jobCovered=${covered / 1000.0}%.3f s interJobGaps=${(spanTotal - covered) / 1000.0}%.3f s")
        import scala.jdk.CollectionConverters._
        val samples = sampleCounts.asScala.toSeq.sortBy(-_._2)
        val totSamples = samples.map(_._2.toInt).sum.max(1)
        println("  driver main-thread samples: " + samples.take(10).map { case (k, v) =>
          f"$k=${v.toInt * 100.0 / totSamples}%.0f%%"
        }.mkString(" "))
        stages.sortBy(-_.wallMs).take(12).foreach { s =>
          println(f"  stage wall=${s.wallMs}%5d ms run=${s.runMs}%6d cpu=${s.cpuMs}%6d " +
            f"tasks=${s.tasks}%3d in=${s.inputMB}%7.1fMB sr=${s.shufReadMB}%7.2fMB " +
            f"sw=${s.shufWriteMB}%7.2fMB  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
