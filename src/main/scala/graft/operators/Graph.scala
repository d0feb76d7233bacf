package graft.operators

import graft.{CacheScope, Op, Tables}
import graft.CacheScope.CheckpointOps
import graft.functions.Compat._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Distributed graph centrality (SURVEY.md §2 block C): damped
  * PageRank over a deterministic document-link graph — the link-
  * analysis quality signal large-scale corpus curation uses to weight
  * hub/reference documents (and the canonical "iterative joins"
  * workload a Spark-native engine must handle without driver round
  * trips; the CC collapse in Dedup.scala is its min-label sibling).
  *
  * The graph derives from the data, not an RNG: within each source the
  * docs (ordered by doc_id) form a ring (i → next, cyclic) and every
  * non-hub doc also links to the source's hub (min doc_id) — a
  * hub-and-spoke-with-ring shape giving genuinely varied in-degrees.
  *
  * Determinism (SURVEY §4): ranks live on the 1e-6 grid — each edge
  * contribution pr/outdeg is r6-rounded, per-node sums run in DECIMAL
  * (accumulation-order invariant), and the damped update re-rounds.
  * The oracle replays all five iterations as an unrolled CTE chain.
  *
  * Scale: edges/degrees build once from a window over the dimension
  * table and persist (CacheScope); each iteration is one |edges|
  * hash-join + one |nodes| aggregation — the standard Pregel-as-joins
  * shape, no collect, no growing lineage blowup at 5 iterations.
  */
object Graph {

  private val iters = 5

  /** Directed edge list: ring-within-source ∪ spoke-to-hub. */
  private[graft] def rawEdges(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    val ord = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("nxt", lead("doc_id", 1).over(w))
      .withColumn("hub", min("doc_id").over(Window.partitionBy("source")))
    val ring = ord.select(col("doc_id").as("src"),
        coalesce(col("nxt"), col("hub")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val spoke = ord.filter(col("doc_id") =!= col("hub"))
      .select(col("doc_id").as("src"), col("hub").as("dst"))
    // r13 (guide §2.4 share-one-exchange): route the distinct's own
    // shuffle onto src — hash(src) satisfies the (src, dst) clustering
    // the distinct needs (equal (src,dst) rows co-locate), so the
    // dedup aggregation runs exchange-free on top of it. Exchange count
    // is unchanged HERE, but every downstream consumer keyed on src
    // (pagerank's out-degree aggregation and degree join, khop's
    // per-hop frontier join) now inherits hash(src) from the cache
    // instead of paying its own exchange. Out-degree is structurally
    // ≤ 2 (ring next + hub spoke), so hash(src) cannot skew. The
    // repartition carries no explicit partition count — AQE coalescing
    // still sizes it (REPARTITION_BY_COL stays coalescible).
    ring.unionAll(spoke).repartition(col("src")).distinct()
  }

  /** Edge list + out-degrees. */
  private[graft] def edgesWithDeg(spark: SparkSession, dir: String): DataFrame = {
    val edges = rawEdges(spark, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outd"))
    edges.join(deg, "src")
  }

  /** Per-source triangle count over the undirected document-link graph,
    * by degree-ordered orientation (the classic bounded-wedge scheme):
    * every undirected edge {u,v} is oriented from the (degree, id)-
    * smaller endpoint to the larger, which turns the graph into a DAG
    * under a total order. Each triangle then has EXACTLY one vertex
    * with two outgoing oriented edges, so counting (a→b, a→c, b→c)
    * paths counts each triangle once — and, crucially for scale, the
    * wedge set generated by the self-join is Σ outdeg(a)², which
    * orientation bounds by O(m·√m) on ANY graph (out-degrees are
    * capped near √m because high-degree vertices only RECEIVE edges).
    * A naive wedge join on the undirected list is Σ deg² — quadratic
    * in the hub degree, the thing that dies first on a power-law graph
    * at 100 TB.
    *
    * All joins are hash joins on vertex keys; the per-source rollup
    * joins the pivot vertex back to `documents` (vertices of a
    * triangle share one source by construction — ring and spoke edges
    * never cross sources). Pure integer arithmetic end to end. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val und = rawEdges(spark, dir)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("x")).unionAll(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    // orient: (deg, id)-smaller endpoint → larger
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("du")).otherwise(col("dv")).as("da"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"),
      when(uFirst, col("dv")).otherwise(col("du")).as("db"))
    val e1 = oriented.select(col("a"), col("b").as("w1"), col("db").as("dw1"))
    val e2 = oriented.select(col("a"), col("b").as("w2"), col("db").as("dw2"))
    // wedges a→w1, a→w2 with w1 before w2 in the orientation order —
    // the closing edge, if the triangle exists, is then exactly w1→w2
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("dw1") < col("dw2") ||
        (col("dw1") === col("dw2") && col("w1") < col("w2")))
    val closing = oriented.select(col("a").as("w1"), col("b").as("w2"))
    val tri = wedges.join(closing, Seq("w1", "w2")).select(col("a"))
    val docSrc = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    tri.join(docSrc, tri("a") === docSrc("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_triangles"))
      .orderBy("source")
  }

  private val trianglesOracle: String =
    s"""WITH ord AS (
       |  SELECT doc_id, source,
       |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nxt,
       |    MIN(doc_id) OVER (PARTITION BY source) AS hub
       |  FROM documents),
       |rawedges AS (
       |  SELECT doc_id AS src, COALESCE(nxt, hub) AS dst FROM ord
       |    WHERE COALESCE(nxt, hub) <> doc_id
       |  UNION ALL
       |  SELECT doc_id AS src, hub AS dst FROM ord WHERE doc_id <> hub),
       |und AS (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM rawedges),
       |deg AS (
       |  SELECT x, COUNT(*) AS d FROM (
       |    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
       |  GROUP BY 1),
       |oriented AS (
       |  SELECT
       |    CASE WHEN (dg1.d < dg2.d) OR (dg1.d = dg2.d AND u < v) THEN u ELSE v END AS a,
       |    CASE WHEN (dg1.d < dg2.d) OR (dg1.d = dg2.d AND u < v) THEN v ELSE u END AS b,
       |    CASE WHEN (dg1.d < dg2.d) OR (dg1.d = dg2.d AND u < v) THEN dg2.d ELSE dg1.d END AS db
       |  FROM und JOIN deg dg1 ON und.u = dg1.x JOIN deg dg2 ON und.v = dg2.x),
       |tri AS (
       |  SELECT e1.a
       |  FROM oriented e1 JOIN oriented e2 ON e1.a = e2.a
       |    AND ((e1.db < e2.db) OR (e1.db = e2.db AND e1.b < e2.b))
       |  JOIN oriented e3 ON e3.a = e1.b AND e3.b = e2.b)
       |SELECT d.source, COUNT(*) AS n_triangles
       |FROM tri JOIN documents d ON tri.a = d.doc_id
       |GROUP BY 1 ORDER BY source""".stripMargin

  /** Five damped (d = 0.85) PageRank iterations; top-20 nodes by final
    * rank (deterministic tie-break on doc_id). */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankIters(spark, dir, iters)

  /** Damped PageRank with a caller-chosen iteration count. Every ~10
    * iterations the rank frame is checkpointed via
    * [[graft.CacheScope.checkpoint]] (the CC-collapse discipline,
    * Dedup.connectedComponents): an unrolled 30+-iteration chain would
    * otherwise grow the logical plan — and the closure of un-persisted
    * intermediates — without bound, which is the classic
    * iterative-Spark lineage hazard. Checkpointing only truncates
    * lineage; every rank lives on the 1e-6 decimal grid, so the values
    * (and the 5-iteration oracle) are unchanged. Cluster mode: set
    * `spark.graft.checkpointDir` → generations use RELIABLE
    * `Dataset.checkpoint` and the job survives executor loss
    * (localCheckpoint, the local default, does not). */
  def pagerankIters(spark: SparkSession, dir: String, iterations: Int): DataFrame = {
    val dec = DecimalType(28, 6)
    val docs = Tables.documents(spark, dir)
    val nodes = docs.select(col("doc_id"))
    // ONE driver count job (r8): the damping terms 1/n and 0.15/n are
    // scalars — as a crossJoin(broadcast(agg)) the count subplan sat in
    // every iteration of the unrolled plan (6+ broadcast stages for one
    // number). Driver and executor divide the same doubles, so every
    // rank value (and the oracle) is bit-unchanged.
    val nDocs = docs.count().toDouble
    // r12 (guide §2.4): the edge list is iteration-invariant and joined
    // on src every round — persist it PRE-PARTITIONED on the join key so
    // no iteration ever re-shuffles |E| rows (at scale the cached
    // hash(src) partitioning is what lets every round's join run
    // exchange-free on the edge side). r13: the partitioning now comes
    // FREE from rawEdges' src-keyed distinct exchange — edgesWithDeg's
    // degree aggregation and join both run on hash(src) and preserve
    // it, so the r12 setup repartition (and its 32-slice local cache
    // layout, measured 0.3 s slower in the interleaved A/B) is gone.
    val edges = CacheScope.track(edgesWithDeg(spark, dir).persist())
    // nodes are re-read every round (zero-contribution rows); persist
    // the 1-column frame instead of re-scanning parquet per iteration
    val nodeCache = CacheScope.track(nodes.persist())
    // superseded localCheckpoint generations are freed as soon as the
    // next one materializes (the connectedComponents discipline) — a
    // deep run would otherwise accumulate one |nodes|-sized cached RDD
    // per 10 iterations until nondeterministic ContextCleaner GC
    var lastCp: Option[DataFrame] = None
    var ranks = nodeCache.select(col("doc_id"), r6(lit(1.0 / nDocs)).as("pr"))
    for (i <- 1 to iterations) {
      // r12 (guide §2.4): the old shape was groupBy(dst) THEN a
      // left-outer join back to nodes — two exchanges + a sort-merge
      // join per iteration. Union-ing an exact-zero contribution row
      // per node into the SAME aggregation keeps every node present
      // (isolated nodes sum to 0.0 exactly, as coalesce(cs, 0.0) did)
      // and shares the one groupBy exchange: one shuffle per iteration,
      // no join, no sorts. Decimal addition of 0 is exact, so every
      // rank value is bit-identical to the joined shape.
      val contribs = edges.join(ranks, edges("src") === ranks("doc_id"))
        .select(col("dst"), r6(col("pr") / col("outd")).as("c"))
      ranks = contribs
        .unionAll(nodeCache.select(col("doc_id").as("dst"), lit(0.0).as("c")))
        .groupBy("dst")
        .agg(sum(col("c").cast(dec)).cast(DoubleType).as("cs"))
        .select(col("dst").as("doc_id"),
          r6(lit(0.15 / nDocs) + lit(0.85) * col("cs")).as("pr"))
      if (i % 10 == 0 && i < iterations) {
        val cp = ranks.graftCheckpoint()
        lastCp.foreach(CacheScope.freeCheckpoint)
        lastCp = Some(cp)
        ranks = cp
      }
    }
    // TakeOrderedAndProject (distributed top-k) FIRST, then the global
    // row_number window runs over 20 rows only — never a full sort of
    // the node table on one partition.
    val top = ranks.orderBy(col("pr").desc, col("doc_id")).limit(20)
    val byRank = Window.orderBy(col("pr").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(byRank))
      .select(col("rank"), col("doc_id"), col("pr"))
      .orderBy("rank")
  }

  private val pagerankOracle: String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst, ${rSql("(r.pr / e.outd)", 6)} AS c
         |  FROM edges e JOIN $prev r ON e.src = r.doc_id),
         |s$i AS (
         |  SELECT dst, CAST(SUM(CAST(c AS DECIMAL(28,6))) AS DOUBLE) AS cs
         |  FROM c$i GROUP BY 1),
         |r$i AS (
         |  SELECT nodes.doc_id,
         |    ${rSql("(CAST(0.15 AS DOUBLE) / n_docs + CAST(0.85 AS DOUBLE) * COALESCE(cs, 0.0))", 6)} AS pr
         |  FROM nodes CROSS JOIN n LEFT JOIN s$i ON s$i.dst = nodes.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT doc_id FROM documents),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |ord AS (
       |  SELECT doc_id, source,
       |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nxt,
       |    MIN(doc_id) OVER (PARTITION BY source) AS hub
       |  FROM documents),
       |rawedges AS (
       |  SELECT doc_id AS src, COALESCE(nxt, hub) AS dst FROM ord
       |    WHERE COALESCE(nxt, hub) <> doc_id
       |  UNION ALL
       |  SELECT doc_id AS src, hub AS dst FROM ord WHERE doc_id <> hub),
       |dedges AS (SELECT DISTINCT src, dst FROM rawedges),
       |deg AS (SELECT src, COUNT(*) AS outd FROM dedges GROUP BY 1),
       |edges AS (SELECT dedges.src, dst, outd FROM dedges JOIN deg ON dedges.src = deg.src),
       |r0 AS (
       |  SELECT doc_id, ${rSql("(CAST(1.0 AS DOUBLE) / n_docs)", 6)} AS pr
       |  FROM nodes CROSS JOIN n),
       |$steps
       |SELECT "rank", doc_id, pr FROM (
       |  SELECT doc_id, pr,
       |    ROW_NUMBER() OVER (ORDER BY pr DESC, doc_id) AS "rank"
       |  FROM r$iters)
       |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin
  }

  // --------------------------------------------------- k-hop reachability

  private val khopMax = 6

  /** Bounded multi-seed BFS: the hop distance from every document to
    * its nearest FLAGGED document (seeds: doc_id % 7 = 0 — the spam/
    * policy-flag propagation pattern: "how close does each doc sit to
    * known-bad content?"), capped at 6 hops, rolled up per source as a
    * distance histogram (h0..h6 + unreached). TrustRank-style
    * neighborhood analysis over the same deterministic ring+spoke doc
    * graph PageRank and the triangle count use.
    *
    * The cap is the scale contract: a FIXED number of rounds (each one
    * |edges| hash-join + one min-aggregation over the persisted edge
    * list) — never chase an unbounded diameter; at 100 TB the k-hop
    * frontier is the only affordable BFS, and 6 hops is the working
    * radius trust-propagation systems actually use. Pure integer
    * arithmetic end to end; the oracle unrolls the same 6 rounds. */
  def khop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    // r12 (guide §2.4): the frontier joins edges on src every hop —
    // persist the edge list pre-partitioned on the join key. r13: the
    // hash(src) layout now comes FREE from rawEdges' src-keyed distinct
    // exchange (column select preserves it), so the extra setup
    // repartition is gone at every scale.
    val edges = CacheScope.track(
      rawEdges(spark, dir).select(col("src"), col("dst")).persist())
    // each round references `reach` twice (carry + expand), so the
    // lazy plan doubles per hop; a mid-loop CacheScope.checkpoint
    // (retired CC-style when superseded; reliable under
    // spark.graft.checkpointDir) caps the unrolled segment at 2³ plan
    // copies however far khopMax is raised, while keeping the tail
    // rounds lazy for the plan-audit's cache-reuse assertion
    var lastCp: Option[DataFrame] = None
    var reach = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("id"), lit(0).as("hop"))
    for (k <- 1 to khopMax) {
      val next = reach.filter(col("hop") === k - 1)
        .join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), lit(k).as("hop"))
      reach = reach.unionAll(next).groupBy("id").agg(min("hop").as("hop"))
      if (k % 3 == 0 && k < khopMax) {
        val cp = reach.graftCheckpoint()
        lastCp.foreach(CacheScope.freeCheckpoint)
        lastCp = Some(cp)
        reach = cp
      }
    }
    val hopCols = (0 to khopMax).map(k =>
      sum(when(col("hop") === k, 1L).otherwise(0L)).as(s"h$k"))
    docs.join(reach, docs("doc_id") === reach("id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), hopCols: _*)
      .withColumn("unreached",
        col("n_docs") - (0 to khopMax).map(k => col(s"h$k")).reduce(_ + _))
      .orderBy("source")
  }

  private val khopOracle: String = {
    val rounds = (1 to khopMax).map { k =>
      s"""r$k AS (
         |  SELECT id, MIN(hop) AS hop FROM (
         |    SELECT id, hop FROM r${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, $k AS hop
         |    FROM r${k - 1} f JOIN rawedges e ON f.id = e.src
         |    WHERE f.hop = ${k - 1})
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    val hopCols = (0 to khopMax).map(k =>
      s"CAST(COUNT(*) FILTER (WHERE hop = $k) AS BIGINT) AS h$k").mkString(",\n  ")
    s"""WITH ord AS (
       |  SELECT doc_id, source,
       |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nxt,
       |    MIN(doc_id) OVER (PARTITION BY source) AS hub
       |  FROM documents),
       |rawedges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT doc_id AS src, COALESCE(nxt, hub) AS dst FROM ord
       |      WHERE COALESCE(nxt, hub) <> doc_id
       |    UNION ALL
       |    SELECT doc_id AS src, hub AS dst FROM ord WHERE doc_id <> hub)),
       |r0 AS (SELECT doc_id AS id, 0 AS hop FROM documents WHERE doc_id % 7 = 0),
       |$rounds
       |SELECT d.source, COUNT(*) AS n_docs,
       |  $hopCols,
       |  CAST(COUNT(*) FILTER (WHERE hop IS NULL) AS BIGINT) AS unreached
       |FROM documents d LEFT JOIN r$khopMax r ON d.doc_id = r.id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // --------------------------------------------------- k-core decomposition

  private val kcoreK = 4
  private val kcoreRounds = 6

  /** 4-core extraction by iterative peeling: each round drops every
    * vertex whose CURRENT degree is < k (and its incident edges),
    * because removing a low-degree vertex can demote its neighbors —
    * the standard core-decomposition recurrence. The densely-linked
    * kernel that survives is the link-analysis "trust core" corpus
    * curation keeps when pruning spam tails (a spam farm is exactly a
    * low-core subgraph: numerous but never densely cross-linked).
    *
    * The graph is the doc-link graph (ring + hub spokes, rawEdges)
    * enriched with an editorial kernel: the 5 lowest doc_ids per
    * source cross-reference each other (a 5-clique). Peeling at k=4
    * then exercises a genuine cascade — ring nodes (degree 3) fall in
    * round 1, which strips the hub's spokes and leaves exactly the
    * clique (internal degree 4) standing in round 2.
    *
    * Like q_khop, a BOUNDED round count (6) is the 100 TB contract:
    * each round is one degree aggregation + one endpoint semi-join on
    * the current edge list, and the oracle replays the same 6 rounds
    * as a CTE chain. Peeling only ever REMOVES edges, so an unchanged
    * edge count means the cascade has settled and every remaining
    * round is the identity — the count rides each checkpoint
    * materialization via observe() (zero extra jobs, the CC
    * discipline) and the loop exits at the first removal-free round.
    * The oracle's stable tail rounds change nothing, so the output is
    * identical; a production run raises the cap, not the shape. Pure
    * integer arithmetic, so cross-engine exact.
    *
    * Lineage: each round references the edge list three times (two
    * degree scans + the join), so the plan would grow 3^R without the
    * khop discipline — every round checkpoints the new edge list via
    * [[graft.CacheScope.checkpoint]] (reliable under
    * `spark.graft.checkpointDir`, localCheckpoint by default) and
    * retires the superseded generation. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    def degrees(edges: DataFrame): DataFrame =
      edges.select(col("u").as("x")).unionAll(edges.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
    val picks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("source"))
    val clique = picks.as("a")
      .join(picks.as("b"), col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    val obs0 = org.apache.spark.sql.Observation(s"kcore_init_${System.nanoTime()}")
    var edges = rawEdges(spark, dir).unionAll(clique)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .observe(obs0, count(lit(1)).as("n"))
      .graftCheckpoint()
    var prevN = Option(obs0.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
    var stable = prevN == 0L
    var round = 1
    while (round <= kcoreRounds && !stable) {
      val alive = degrees(edges).filter(col("d") >= kcoreK).select(col("x"))
      val obs = org.apache.spark.sql.Observation(s"kcore_round_${round}_${System.nanoTime()}")
      val next = edges
        .join(alive.withColumnRenamed("x", "u"), Seq("u"))
        .join(alive.withColumnRenamed("x", "v"), Seq("v"))
        .observe(obs, count(lit(1)).as("n"))
        .graftCheckpoint()
      val n = Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
      CacheScope.freeCheckpoint(edges)
      edges = next
      stable = n == prevN // removal-free round: the peel has settled
      prevN = n
      round += 1
    }
    val core = degrees(edges).filter(col("d") >= kcoreK).select(col("x"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    docs.join(core, docs("doc_id") === core("x"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("x")).as("n_core"))
      .withColumn("core_ratio", r4(col("n_core") / col("n_docs")))
      .orderBy("source")
  }

  private val kcoreOracle: String = {
    def degSql(e: String) =
      s"(SELECT x, COUNT(*) AS d FROM (SELECT u AS x FROM $e UNION ALL SELECT v AS x FROM $e) GROUP BY 1)"
    // AS MATERIALIZED: each round references its predecessor ~7×
    // (two degree scans + the two-sided semi-join); inlined CTEs would
    // re-evaluate the whole chain 7^R times
    val rounds = (1 to kcoreRounds).map { r =>
      s"""v$r AS MATERIALIZED (SELECT x FROM ${degSql(s"e${r - 1}")} WHERE d >= $kcoreK),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN v$r a ON e.u = a.x JOIN v$r b ON e.v = b.x)""".stripMargin
    }.mkString(",\n")
    s"""WITH ord AS (
       |  SELECT doc_id, source,
       |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nxt,
       |    MIN(doc_id) OVER (PARTITION BY source) AS hub
       |  FROM documents),
       |rawedges AS (
       |  SELECT doc_id AS src, COALESCE(nxt, hub) AS dst FROM ord
       |    WHERE COALESCE(nxt, hub) <> doc_id
       |  UNION ALL
       |  SELECT doc_id AS src, hub AS dst FROM ord WHERE doc_id <> hub),
       |picks AS (
       |  SELECT doc_id, source FROM (
       |    SELECT doc_id, source,
       |      row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn <= 5),
       |clique AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM picks a JOIN picks b
       |    ON a.source = b.source AND a.doc_id < b.doc_id),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM (SELECT src, dst FROM rawedges
       |        UNION ALL SELECT src, dst FROM clique)),
       |$rounds,
       |core AS (SELECT x FROM ${degSql(s"e$kcoreRounds")} WHERE d >= $kcoreK)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(COUNT(c.x) AS BIGINT) AS n_core,
       |  ${rSql("(COUNT(c.x) / COUNT(*))", 4)} AS core_ratio
       |FROM documents d LEFT JOIN core c ON d.doc_id = c.x
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // ---------------------------------------------- label propagation

  private val lpaRounds = 3

  /** Synchronous label propagation (community detection) over the
    * undirected document-link graph — the cheap community pass corpus
    * curation runs to group documents that cite/continue each other
    * (PageRank's sibling: same edges, mode-of-neighbors instead of
    * sum-of-ranks). Every node starts as its own label; each round
    * every node adopts its neighbors' most frequent label, ties to the
    * SMALLEST label, for a fixed [[lpaRounds]] rounds (synchronous +
    * deterministic tie-break = reproducible communities; classic async
    * LPA is run-order dependent, unusable under a hash-match gate).
    *
    * Scale: the symmetric edge list builds and persists once; each
    * round is one |E| hash join + two hash aggregations — the argmax
    * is max(struct(count, -label)), an AGGREGATION, never a
    * row_number window (which would add a per-round sort). Fixed
    * round count, no convergence loop, no driver round trips; output
    * is the per-community rollup, not the node table. */
  def lpa(spark: SparkSession, dir: String): DataFrame = {
    val e = rawEdges(spark, dir)
    // r12 (guide §2.4): joined on w every round — persist pre-partitioned
    // on the join key (distinct already shuffles; route its output onto
    // the key the per-round join needs instead of (u, w)). r13:
    // size-gated, see [[Adaptive.copartitionByKey]].
    val sym = CacheScope.track(
      Adaptive.copartitionByKey(
        e.select(col("src").as("u"), col("dst").as("w"))
          .unionAll(e.select(col("dst").as("u"), col("src").as("w")))
          .distinct(), col("w")).persist())
    var labels = Tables.documents(spark, dir)
      .select(col("doc_id").as("v"), col("doc_id").as("lbl"))
    for (_ <- 1 to lpaRounds) {
      val cnt = sym.join(labels, sym("w") === labels("v"))
        .groupBy(sym("u"), col("lbl")).agg(count(lit(1)).as("c"))
      val pick = cnt.groupBy("u")
        .agg(max(struct(col("c"), (col("lbl") * -1).as("neg"))).as("m"))
        .select(col("u"), (col("m.neg") * -1).as("plbl"))
      // isolated nodes (single-doc sources) keep their own label
      labels = labels.join(pick, labels("v") === pick("u"), "left")
        .select(col("v"), coalesce(col("plbl"), col("lbl")).as("lbl"))
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min("v").as("min_member"), max("v").as("max_member"))
      .orderBy("community")
  }

  private val lpaOracle: String = {
    val steps = (1 to lpaRounds).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""c$i AS (
         |  SELECT s.u, l.lbl, COUNT(*) AS c
         |  FROM sym s JOIN $prev l ON s.w = l.v GROUP BY 1, 2),
         |p$i AS (
         |  SELECT u, lbl FROM (
         |    SELECT u, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l$i AS (
         |  SELECT l.v, COALESCE(p.lbl, l.lbl) AS lbl
         |  FROM $prev l LEFT JOIN p$i p ON l.v = p.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH ord AS (
       |  SELECT doc_id, source,
       |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nxt,
       |    MIN(doc_id) OVER (PARTITION BY source) AS hub
       |  FROM documents),
       |rawedges AS (
       |  SELECT doc_id AS src, COALESCE(nxt, hub) AS dst FROM ord
       |    WHERE COALESCE(nxt, hub) <> doc_id
       |  UNION ALL
       |  SELECT doc_id AS src, hub AS dst FROM ord WHERE doc_id <> hub),
       |dedges AS (SELECT DISTINCT src, dst FROM rawedges),
       |sym AS (SELECT src AS u, dst AS w FROM dedges
       |        UNION SELECT dst, src FROM dedges),
       |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),
       |$steps
       |SELECT lbl AS community, COUNT(*) AS n_members,
       |  MIN(v) AS min_member, MAX(v) AS max_member
       |FROM l$lpaRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q_pagerank", pagerank, Some(pagerankOracle), headline = true),
    Op("q_triangles", triangles, Some(trianglesOracle)),
    Op("q_khop", khop, Some(khopOracle)),
    Op("q_kcore", kcore, Some(kcoreOracle), headline = true),
    Op("q_lpa", lpa, Some(lpaOracle)),
  )
}
