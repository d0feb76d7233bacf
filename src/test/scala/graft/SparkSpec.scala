package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs, and the helpers the specs
  * share: the replays' rounding and hashing, temp stage dirs, data-file
  * listing, cache cleanup and a job counter. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  // half away from zero on a 10^-n grid: the engine's r2/r4/r6
  private def roundTo(x: Double, scale: Double): Double =
    math.signum(x) * math.floor(math.abs(x) * scale + 0.5) / scale
  protected def r2d(x: Double): Double = roundTo(x, 1e2)
  protected def r4d(x: Double): Double = roundTo(x, 1e4)
  protected def r6d(x: Double): Double = roundTo(x, 1e6)
  protected def bd6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
  /** The engine's DECIMAL sum of 6-dp terms. */
  protected def dsum(xs: Seq[Double]): Double = xs.map(bd6).sum.toDouble

  /** The portable two-round LCG of the sampling operators (the
    * q_permutation recipe). */
  protected def lcg(k: Long, salt: Long): Long = {
    val s1 = ((k % 2147483648L) * 1103515245L + (12345L + salt * 1013904223L)) % 2147483648L
    (s1 * 1103515245L + 12345L) % 2147483648L
  }

  protected def rm(f: java.io.File): Unit = sources.Sources.deleteRecursively(f)

  /** Run `body` on a fresh temp dir, removed afterwards whatever `body` does. */
  protected def withStage[T](prefix: String)(body: String => T): T = {
    val stage = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(stage.getAbsolutePath) finally rm(stage)
  }

  /** Every `.parquet` file under `dir`, at any depth. */
  protected def parquetFiles(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).map(_.getAbsolutePath).filter(_.endsWith(".parquet")).toSet
  }

  /** Drop every cache and persisted RDD earlier runs left behind. */
  protected def clearCaches(): Unit = {
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** `body`'s result and the Spark jobs started while it ran. The
    * listener bus is drained before and after, so the count is exact. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** How often `needle` occurs in a plan's text. */
  protected def occurrences(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)
}

object SparkSpec {
  // the library front door IS the test session — configs can't drift
  lazy val session: SparkSession = GraftSession.local(4)
}
