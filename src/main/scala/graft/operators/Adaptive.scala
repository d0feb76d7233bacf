package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive layout helpers (r13 — guide §2.2/§2.4/§5). */
object Adaptive {

  /** Pre-partition an iteration-invariant frame on its per-round join
    * key ONLY when the frame is big enough for co-partitioning to pay.
    *
    * The r12 shape repartitioned unconditionally: one setup exchange
    * buys an exchange-free heavy side in every iteration — the right
    * trade at 100 TB, but at bench scale AQE broadcasts the other join
    * side anyway, so the setup exchange buys nothing AND the cache
    * lands in `spark.sql.shuffle.partitions` slices (32 locally), so
    * every iteration's scan of the cache schedules 32 tasks over a
    * KB-sized frame (the r12 verdict's measured cost: ~35–100 ms per
    * stage round-trip × ~350 bench actions). Skipping the repartition
    * below the threshold keeps the frame in its natural (usually
    * single-digit, AQE-coalesced) partitioning — fewer tasks per round
    * and one exchange less at setup.
    *
    * The gate reads Catalyst's size ESTIMATE (driver-side planning
    * metadata — no job) and engages at
    * `spark.graft.copartition.minBytes` (default 64 MB: below that the
    * per-round shuffle it would save moves single-digit MB, and the
    * planner broadcasts the other side anyway; above it the
    * iteration-loop argument from r12 applies unchanged). The estimate
    * errs LARGE for join-derived frames, which fails safe: an engaged
    * gate is exactly the r12 shape. Partitioning is layout-only —
    * values, and every graph/dedup oracle, are identical on both
    * branches (spec-pinned in Round13OptSpec).
    */
  def copartitionByKey(df: DataFrame, key: Column): DataFrame = {
    val confKey = "spark.graft.copartition.minBytes"
    val minBytes = df.sparkSession.conf.getOption(confKey).map { v =>
      v.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$confKey must be a non-negative byte count, got '$v'"))
    }.getOrElse(64L << 20)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(minBytes)) df
    else df.repartition(key)
  }
}
