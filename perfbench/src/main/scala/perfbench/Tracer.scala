package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one unit of work with its place in the pass → step →
  * query execution → job → stage tree. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Long, end: Long)

/** The traced run's recorder, attached from outside the program: a
  * SparkListener for the scheduler, exchange and scan counters, a
  * QueryExecutionListener for Catalyst's planning phases. Spans stay in
  * memory and are written out when the run ends; counters are read per
  * pass as deltas. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  // per-pass accumulators, reset by `begin`
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val sqlStart = mutable.Map.empty[Long, (Long, String)]

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add("scheduler.jobs", 1)
      val sqlId = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map("q" + _).getOrElse("")
      jobStart(e.jobId) = (e.time, sqlId)
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        spans += Span(s"j${e.jobId}", parent, "job", s"job ${e.jobId}", t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      add("scheduler.stages", 1)
      add("scheduler.tasks", si.numTasks)
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        stageIntervals += ((t0, t1))
        spans += Span(s"s${si.stageId}.${si.attemptNumber()}",
          jobOfStage.get(si.stageId).map("j" + _).getOrElse(""), "stage", si.name, t0, t1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        add("exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exchange.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exchange.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("maintenance.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlStart(s.executionId) = (s.time, s.description)
        case s: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(s.executionId).foreach { case (t0, d) =>
            spans += Span(s"q${s.executionId}", "", "query", d.take(80), t0, s.time)
          }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Start a pass: clear the per-pass accumulators. */
  def begin(): Unit = { drain(); synchronized { c.clear(); stageIntervals.clear() } }

  /** End a pass: wait for its events, then return its counters and the
    * summed length of the time during which at least one stage ran. */
  def end(): (Map[String, Double], Double) = {
    drain()
    synchronized {
      val busyMs = stageIntervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((acc, hi), (s, e)) =>
          if (e <= hi) (acc, hi)
          else (acc + e - math.max(s, hi), e)
      }._1
      (c.toMap, busyMs / 1000.0)
    }
  }

  def record(s: Span): Unit = synchronized { spans += s }

  private def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
