package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for caches an operator creates while BUILDING its plan but
  * whose lifetime must extend until the caller has materialized the
  * returned DataFrame (e.g. Dedup.dedupMinhash's candidate-pair cache,
  * read by three downstream branches). The operator registers the cache
  * here; the runner (Verify / Bench / specs) calls `releaseAll()` after
  * forcing the result, so no cached or locally-checkpointed blocks
  * accumulate across operator runs in a long-lived session.
  *
  * Blocks freed here for a PERSISTED frame are recoverable (lineage
  * intact — a late re-read just recomputes); for a locally-CHECKPOINTED
  * frame they are not, so release only after consumption — which is
  * exactly the runner contract.
  *
  * The registry is thread-confined: each thread has its own buffer, and
  * `releaseAll()` frees only what the calling thread registered. A run
  * is therefore "build → force → releaseAll on one thread", and two
  * runners on two threads cannot free each other's caches. Every
  * registration site in the operators runs on the caller's thread.
  */
object CacheScope {
  private val pending = ThreadLocal.withInitial(() => mutable.Buffer.empty[() => Unit])

  /** Track a persisted DataFrame for deferred unpersist. */
  def track(df: DataFrame): DataFrame = {
    pending.get += (() => df.unpersist(blocking = false))
    df
  }

  /** Track an arbitrary release action (e.g. freeing a locally-
    * checkpointed generation's materialized RDD, which
    * `Dataset.unpersist` cannot reach). */
  def defer(f: () => Unit): Unit = pending.get += f

  /** Run `body` with the given session conf overrides in force, then put
    * each key back to its earlier value (or unset it if it had none),
    * whether `body` returns or throws. For an override that only has to
    * hold while a plan is BUILT — e.g. around `persist()`, which fixes a
    * cached plan's conf when it registers the cache. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Checkpoint a loop generation for lineage truncation — the shared
    * entry of every iterative operator (CC, pagerank, khop, kcore).
    *
    * Default: `localCheckpoint` — executor-block storage, no extra I/O,
    * right for dev/local runs, but a single lost executor makes the
    * truncated lineage unrecoverable and fails the job.
    *
    * Cluster mode: set `spark.graft.checkpointDir` to an HDFS/object-
    * store path and generations go through RELIABLE `Dataset
    * .checkpoint` instead — an hours-long 100 TB iterative job survives
    * executor loss, at the cost of one write+read of the generation per
    * round. Retirement ([[freeCheckpoint]]) deletes the superseded
    * generation's files, so the directory holds at most two
    * generations per operator at any time.
    *
    * Every generation is also registered for release: a loop frees
    * superseded generations as it goes, and `releaseAll()` frees the
    * rest — the one the caller reads, or the live one of a loop that
    * threw. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = materialize(df)
    defer(() => freeCheckpoint(cp))
    cp
  }

  private def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        // setCheckpointDir appends a fresh UUID subdir on EVERY call,
        // and retirement resolves rdd-N paths against the CURRENT dir —
        // so set it only when the base dir actually changed, or retired
        // generations from earlier calls would never be found on disk
        if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
        // persist first: an unpersisted reliable checkpoint runs the
        // plan TWICE (the count job, then ReliableRDDCheckpointData's
        // file write re-executes it — Spark's documented caveat), which
        // at the advertised hours-long-100TB scale doubles every round
        // and double-fires any observe() metric riding the plan.
        // An ALREADY-persisted input keeps its caller-owned cache:
        // persistence is not refcounted, so unpersisting here would
        // silently evict the caller's blocks (and the double-execution
        // hazard the pair guards against doesn't exist — the existing
        // cache already backs both reads).
        if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          df.checkpoint()
        else {
          df.persist()
          try df.checkpoint()
          finally df.unpersist(blocking = false)
        }
      case _ => org.apache.spark.sql.graft.Bridge.localCheckpoint(df)
    }
  }

  /** `.graftCheckpoint()` postfix syntax for [[checkpoint]], so loop
    * bodies read like the `.localCheckpoint()` they replace. */
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def graftCheckpoint(): DataFrame = CacheScope.checkpoint(df)
  }

  /** Free a retired checkpoint generation — local-checkpoint executor
    * blocks, or a reliable generation's files + cache. Shared by every
    * iterative operator so checkpoint-retirement semantics can never
    * diverge between them. Only call once the SUCCESSOR generation has
    * materialized: a checkpoint has no lineage, so nothing can
    * recompute a freed one. */
  def freeCheckpoint(df: DataFrame): Unit =
    org.apache.spark.sql.graft.Bridge.freeCheckpointed(df)

  /** Run and drop every action the calling thread registered. Every
    * action runs even if an earlier one throws; the first failure is
    * then rethrown with the others attached as suppressed. Safe to call
    * repeatedly — a second call finds nothing to do. */
  def releaseAll(): Unit = {
    val actions = pending.get.toList
    pending.remove()
    var first: Throwable = null
    actions.foreach { f =>
      try f()
      catch {
        case e: Throwable =>
          if (first == null) first = e
          else if (e ne first) first.addSuppressed(e)
      }
    }
    if (first != null) throw first
  }
}
