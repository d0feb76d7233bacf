package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Maintenance._

/** The snapshot commit protocol under failure: a commit whose data write
  * throws publishes nothing and leaves the session as it found it. */
class SnapshotCommitSpec extends SparkSpec {

  /** Rows `lo until hi` keyed `k`; a task that reaches key `failAt` throws. */
  private def rows(lo: Long, hi: Long, failAt: Long = -1L): DataFrame = {
    val check = udf((k: Long) =>
      if (k == failAt) throw new IllegalStateException(s"injected write failure at $k") else k)
    spark.range(lo, hi).select(check(col("id")).as("k"), (col("id") % 7).as("g"))
  }

  private def keys(df: DataFrame): Set[Long] = df.select("k").collect().map(_.getLong(0)).toSet

  test("a commit whose data write throws publishes no version and leaves no cache or conf") {
    val confBefore = spark.conf.getAll
    withStage("graft_commit_fail_") { p =>
      snapshotWrite(rows(0, 100), p, nFiles = 2, statsCols = Seq("k"))
      val versions = snapshotVersions(spark, p)
      clearCaches()
      for (commit <- Seq[DataFrame => Long](
        snapshotAppend(_, p, nFiles = 2, statsCols = Seq("k")),
        snapshotReplace(_, p, nFiles = 2, statsCols = Seq("k")))) {
        intercept[Exception](commit(rows(100, 200, failAt = 199)))
        assert(snapshotVersions(spark, p) === versions)
        assert(keys(readSnapshot(spark, p)) === (0L until 100L).toSet)
        val live = spark.sparkContext.getPersistentRDDs
        assert(live.isEmpty, s"leaked: ${live.values.mkString("; ")}")
        assert(spark.conf.getAll === confBefore)
      }
    }
  }

  test("a sink batch whose write throws keeps the watermark and frees its batch; a replay commits it") {
    withStage("graft_sink_fail_") { p =>
      snapshotSinkBatch(rows(0, 50), p, id = 0L)
      clearCaches()
      // the failing key is in the last partition, so the batch's
      // emptiness probe passes and the write's job is the one that throws
      val failing = rows(50, 100, failAt = 99)
      intercept[Exception](snapshotSinkBatch(failing, p, id = 1L))
      assert(sinkBatchWatermark(spark, p) === Some(0L))
      assert(snapshotVersions(spark, p) === Seq(1L))
      assert(failing.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      val live = spark.sparkContext.getPersistentRDDs
      assert(live.isEmpty, s"leaked: ${live.values.mkString("; ")}")
      // the replay of the same id is not skipped
      snapshotSinkBatch(rows(50, 100), p, id = 1L)
      assert(sinkBatchWatermark(spark, p) === Some(1L))
      assert(keys(readSnapshot(spark, p)) === (0L until 100L).toSet)
    }
  }
}
