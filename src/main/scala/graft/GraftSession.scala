package graft

import org.apache.spark.sql.SparkSession

/** The library's session front door: one place that knows the Spark
  * configuration every operator here was designed and plan-audited
  * under. A user migrating off the reference DAG starts with
  * `GraftSession.builder()` (cluster) or `GraftSession.local(n)`
  * (tests, single box) and gets the graft SQL functions
  * (minhash_sketch, topk_items, quantile_sketch, …) plus the planner
  * rules registered via [[graft.plans.GraftExtensions]].
  *
  * Why each setting, at 100 TB:
  *
  *  - AQE on (with skew-join splitting and partition coalescing):
  *    the operators deliberately leave small data-dependent join
  *    sides unbroadcast and let AQE size them at runtime; the skew
  *    notes in Dedup/Relational assume AQE's skew-join splitter is
  *    available as the backstop; and the per-stage coalescer is what
  *    makes one static shuffle-partition count workable across a
  *    pipeline whose intermediate sizes span orders of magnitude.
  *  - `spark.sql.session.timeZone=UTC`: every date/window operator
  *    and every oracle is UTC-pinned; a local-zone session would
  *    silently shift day boundaries (SURVEY §4 discipline).
  *  - shuffle partitions: default 2×cores locally; on a cluster set
  *    it near 2-3× total executor cores (or rely on AQE coalescing
  *    from a higher initial count) so the largest shuffled stage's
  *    partitions fit in executor memory — the spill lever.
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]:
  *    Spark keeps the classes it generates in one JVM-wide LRU of 100
  *    entries by default, fewer than one pass of graft work generates.
  *    Measured distinct classes (Janino compiles with an unbounded
  *    cache): a switchback pass of the seven headliners at sf0.01 113,
  *    a lakehouse pass of daily commits, MERGE, DELETE and OPTIMIZE 95,
  *    the 19 bench headliners at sf0.01 534, and a full `graft.Verify`
  *    of all 223 queries at sf0.01 4,358. With 100 entries every
  *    repeated pass in a long-lived session — the daily re-run —
  *    compiled its classes again (58 per warm switchback pass), and the
  *    JIT compiled them again after that. 2,000 holds the largest of
  *    those passes with room to spare; a cached class costs about 31 KB
  *    of heap and 9 KB of metaspace (the full Verify's 4,358 held
  *    136 MB and 37 MB), so a full cache costs about 60 MB and 17 MB.
  *    The value is a bound, not 0: in Spark 4.1 a 0 removes the bound
  *    instead of turning the cache off. The key is static, and
  *    `CodeGenerator` builds its LRU once per JVM from the conf of the
  *    session active when the first class is generated: a session
  *    created without graft earlier in the same JVM keeps 100, and
  *    `spark.conf.set` refuses the key.
  *
  * Deliberately NOT set here: memory sizes, executor counts, and
  * `spark.sql.files.maxPartitionBytes` — cluster-shape decisions that
  * belong to deployment, not the library.
  */
object GraftSession {

  /** Bound of Spark's JVM-wide generated-class cache (see "Why each
    * setting"). */
  val CodegenCacheEntries = 2000

  /** Cluster-oriented builder: recommended conf + graft extensions,
    * master/deploy left to spark-submit. */
  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r13: let AQE coalesce CACHED plans' output too (default false).
      // The iterative operators persist their loop-invariant frames,
      // and with the default every cache lands at the raw
      // shuffle-partition count — each cache-reading stage per
      // iteration then schedules that many tasks over KB-sized slices.
      // Coalescing is advisory-size-driven (same policy as every other
      // stage), so at 100 TB big caches keep their partition counts and
      // their hash layout; only below-advisory caches shrink.
      // Interleaved A/B at sf0.1 (tools/profile_r13_cachepart_ab.txt,
      // last in the tree at commit a428ae9):
      // q_pagerank 2.4-3.0 s → 1.5-1.8 s (tasks 345 → 35),
      // q_dedup_clusters 2.8-3.2 → 2.0-2.2 (423 → 51), q_sql_merge
      // 7.1-7.7 → 6.3-6.6 (370 → 138); values partition-invariant
      // (oracle-pinned).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(new graft.plans.GraftExtensions)

  /** Local session for tests/benchmarks/profilers: `cores` threads,
    * shuffle partitions = cores (the driver-contract shape — at local
    * scale a 200-partition default just adds scheduling overhead),
    * no UI. This is THE session every dev main in this repo runs on,
    * so their configs cannot drift apart. */
  def local(cores: Int, quiet: Boolean = true): SparkSession = {
    val spark = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    if (quiet) spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
