package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.operators.DailyPipeline

/** What `GraftSession` sets, checked on the session every spec shares. */
class GraftSessionSpec extends SparkSpec {

  private def janinoCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated pass compiles no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    val stage = Files.createTempDirectory("graft_codegen_").toFile
    // one pass: the seven switchback headliners, then one landDay commit
    // into a table of its own, so both passes commit the same way
    def pass(i: Int): Unit = {
      Seq("q_sb_pipeline", "q_sb_metrics", "q_mwu", "q_agg_groupby",
          "q_join_star", "q_sessionize", "q_asof_join").foreach { q =>
        try Registry.byName(q).fn(spark, sfDir).collect()
        finally CacheScope.releaseAll()
      }
      DailyPipeline.landDay(spark, sfDir, s"$stage/daily$i",
        java.time.LocalDate.parse("2024-01-12"))
    }
    try {
      pass(1)
      val before = janinoCompiles()
      pass(2)
      // with Spark's default of 100 entries the second pass compiled
      // its classes again
      assert(janinoCompiles() - before === 0L)
    } finally sources.Sources.deleteRecursively(stage)
  }
}
