package graft

/** Plan-shape pins, one table row each. A row names a query, the
  * operators its executed plan must not contain, and how often others
  * must occur. The values are pinned elsewhere (the DuckDB oracles and
  * the replays in the other specs); the rows pin the shape, so a later
  * change cannot silently bring back a join, a re-scan or an uncached
  * iteration that the shape removed. One test per row, named for it. */
class PlanShapeSpec extends SparkSpec {

  private case class Shape(name: String, query: String,
      mustNot: Seq[String] = Nil, counts: Map[String, Range] = Map.empty)

  private def exactly(n: Int): Range = n to n
  private def atLeast(n: Int): Range = n to Int.MaxValue

  private val shapes = Seq(
    // pagerank's union-zero shape: no node re-join per iteration, and
    // every iteration reads the edge and node lists from cache
    Shape("pagerank iterations are union+aggregate: no per-iteration sort-merge join, cached edges",
      "q_pagerank", mustNot = Seq("SortMergeJoin"),
      counts = Map("InMemoryTableScan" -> atLeast(10))),
    // the metrics and the MWU rank table fuse into one aggregation after
    // the window: events are scanned once, nothing is persisted, and no
    // metrics⋈pvals join is left (the config dim's nested-loop join is
    // the only join)
    Shape("switchback pipeline evaluates the extract chain once: single fused aggregation, no cache, no join",
      "q_sb_pipeline", mustNot = Seq("SortMergeJoin", "BroadcastHashJoin", "InMemoryTableScan"),
      counts = Map("Scan parquet" -> exactly(1))),
    // cand and both candShingles sides of the verify joins read caches;
    // the one candShingles job fills cand on its way
    Shape("dedup_minhash serves the verify joins from caches without a separate cand job",
      "q_dedup_minhash", counts = Map("InMemoryTableScan" -> atLeast(3))))

  for (s <- shapes) test(s.name) {
    val plan = try Registry.byName(s.query).fn(spark, sfDir).queryExecution.executedPlan.toString
      finally CacheScope.releaseAll()
    s.mustNot.foreach(op => assert(!plan.contains(op), s"${s.query} plans $op:\n$plan"))
    s.counts.foreach { case (op, allowed) =>
      val n = occurrences(plan, op)
      assert(allowed.contains(n), s"${s.query} plans $op $n times, expected $allowed")
    }
  }
}
