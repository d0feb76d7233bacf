package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline query set on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. A trivial warmup action first so JVM/
  * codegen startup isn't attributed to the first query. */
object Bench {

  /** Time `ops` on `sfDir`: one UNTIMED execution per query, then best
    * of 2 timed runs. The untimed run pays the one-off janino codegen,
    * C1/C2 JIT, and AQE planning costs that a fresh JVM (the driver's
    * bench harness) otherwise attributes to the query; steady-state
    * throughput is what compares across engines.
    *
    * Forcing is a noop-sink WRITE, not count(): count() lets Catalyst
    * prune every column (and the windows/sorts feeding them) out of
    * the measured plan; a write materializes all output columns and
    * keeps the final orderBy, so the timed work is the real query.
    *
    * A failing query must be VISIBLE: it records "err" (not a bogus
    * short time) and main exits nonzero, so a regression can never
    * produce a green-looking bench line. BenchSpec guards this.
    *
    * @return the report: single-line JSON, failure count, and the bare
    *         `queries`/`total`/`retimed` fragments — returned
    *         structurally so no caller ever re-parses the report text:
    *         an error message containing braces/quotes would defeat any
    *         textual extraction
    */
  def run(spark: SparkSession, sfDir: String, ops: Seq[Op],
      timedRuns: Int = 2): Report = {
    val results: Seq[(String, Either[String, Double], Seq[Double], Boolean)] = ops.map { op =>
      try op.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // failure re-surfaces in the timed runs
      finally CacheScope.releaseAll()
      def timeOnce(): Either[String, Double] = {
        val t0 = System.nanoTime()
        try {
          op.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
        } finally CacheScope.releaseAll() // free scoped caches between runs
      }
      val first = (1 to timedRuns).map(_ => timeOnce())
      val ok0 = first.collect { case Right(t) => t }
      // self-healing against box contention: two runs >1.5× apart means
      // at least one was contended — take two more so a one-off outlier
      // can never be the recorded best-of (BENCH_r07's contaminated
      // headline would have re-timed itself)
      val retimed = ok0.size >= 2 && ok0.max / ok0.min > 1.5
      val runs = if (retimed) first ++ (1 to 2).map(_ => timeOnce()) else first
      val ok = runs.collect { case Right(t) => t }
      (op.name,
        if (ok.nonEmpty) Right(ok.min)
        else runs.collectFirst { case Left(m) => Left(m) }.get,
        ok, retimed)
    }
    val qs = results.map {
      case (k, Right(t), _, _) => Json.str(k) + ":" + fmt3(t)
      case (k, Left(m), _, _)  => Json.str(k) + ":" + Json.str("err: " + m)
    }.mkString("{", ",", "}")
    // every timed run, not just the best-of: a one-off outlier (GC,
    // box contention) must be diagnosable from the artifact alone
    val perRun = results.map { case (k, _, ok, _) =>
      Json.str(k) + ":" + ok.map(fmt3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val retimedArr = results.collect { case (k, _, _, true) => Json.str(k) }
      .mkString("[", ",", "]")
    val total = fmt3(results.collect { case (_, Right(t), _, _) => t }.sum)
    val errs = results.count(_._2.isLeft)
    Report(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$perRun,"retimed":$retimedArr,"errors":$errs,"sf":${Json.str(sfDir)}}""",
      errs, qs, total, retimedArr)
  }

  /** One bench report: the full single-line JSON plus its fragments,
    * kept structural so callers never re-parse the text. */
  final case class Report(json: String, errs: Int, queries: String,
      total: String, retimed: String)

  /** Millisecond-rounded decimal rendering ("0.272", never
    * "0.27199999"): wall-clock below 1 ms is noise, and compact values
    * keep the whole stdout report inside the driver's bounded log-tail
    * window (2,000 chars observed) — the r06..r08 artifacts all came
    * back `"parsed": null` because full-precision doubles pushed the
    * line past the window and its FRONT was chopped. Locale-safe (no
    * printf comma decimal separators). */
  private def fmt3(t: Double): String =
    BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.toPlainString

  /** 1-minute load average — recorded in the artifact so a contended
    * box is self-diagnosing (Linux-only; absent elsewhere). */
  private def loadAvg(): Option[Double] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble)
    catch { case _: Throwable => None }

  /** Aggregate cpu ticks from /proc/stat's first line:
    * (user+nice+system+irq+softirq, idle+iowait, steal, total).
    * Recorded per attempt (r12 verdict task 8) because the clean-window
    * load gate cannot see hypervisor vCPU contention: five same-tree
    * runs spanned 19.3–26.5 s at load ≤ 1.4. A per-attempt busy/total
    * tick delta lets the NEXT round's PERF comparison normalize drift
    * mechanically instead of adjudicating it from untouched-query
    * gauges alone. Linux-only; None elsewhere (recorded as null). */
  private def cpuTicks(): Option[(Long, Long, Long, Long)] =
    try Some(parseCpuLine(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()))
    catch { case _: Throwable => None }

  /** (busy, idle, steal, total) of one `/proc/stat` cpu line. Columns:
    * user nice system idle iowait irq softirq steal guest guest_nice.
    * The kernel already counts guest time inside user (and guest_nice
    * inside nice), so the total sums the first eight columns only. */
  private[graft] def parseCpuLine(line: String): (Long, Long, Long, Long) = {
    val cols = line.trim.split("\\s+").drop(1).map(_.toLong)
    val busy = cols(0) + cols(1) + cols(2) + cols.lift(5).getOrElse(0L) +
      cols.lift(6).getOrElse(0L)
    val idle = cols(3) + cols.lift(4).getOrElse(0L)
    val steal = cols.lift(7).getOrElse(0L)
    (busy, idle, steal, cols.take(8).sum)
  }

  /** JSON fragment of the tick deltas between two cpuTicks() samples. */
  private def cpuDeltaJson(before: Option[(Long, Long, Long, Long)],
      after: Option[(Long, Long, Long, Long)]): String =
    (before, after) match {
      case (Some((b1, i1, s1, t1)), Some((b2, i2, s2, t2))) =>
        s""","cpu_busy_ticks":${b2 - b1},"cpu_idle_ticks":${i2 - i1},""" +
          s""""cpu_steal_ticks":${s2 - s1},"cpu_total_ticks":${t2 - t1}"""
      case _ => ""
    }

  /** Per-query times (one untimed warmup + one timed run each) — the
    * cheap probe behind the scale readout. */
  private def timesAt(spark: SparkSession, sfDir: String, ops: Seq[Op]): Report =
    run(spark, sfDir, ops, timedRuns = 1)

  /** Per-verb wall-times for the lakehouse maintenance path (r11
    * verdict task 4): OPTIMIZE, OPTIMIZE ZORDER (2- and 3-column),
    * MERGE INTO, and DML DELETE each stage a fresh snapshot table
    * (staging untimed) and time the VERB — the z rewrite pays three
    * exact aggregation passes since its r11 derandomization, and that
    * cost must be visible round-over-round, not just correct. Best of
    * two runs each; the block records its own load sample. */
  private def maintenanceBench(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Maintenance, SqlSurface}
    val lb = loadAvg()
    def staged(body: String => Double): Double = {
      val stage = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_mbench_${java.util.UUID.randomUUID().toString.take(8)}")
      try body(stage.getAbsolutePath)
      finally graft.sources.Sources.deleteRecursively(stage)
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def bestOf2(mk: () => Double): Double = math.min(mk(), mk())
    def events = Tables.events(spark, sfDir)
    def evProj = events.select(col("event_id"), (col("user_id") % 64).as("u"),
      (col("event_id") % 64).as("e"), floor(col("value") * 10).cast("long").as("v"))
    def liProj = Tables.lineitem(spark, sfDir).select(col("l_orderkey"),
      (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"),
      col("l_quantity"))
    val verbs: Seq[(String, () => Double)] = Seq(
      "m_optimize" -> (() => staged { p =>
        Maintenance.snapshotWrite(events, s"$p/t", nFiles = 64,
          statsCols = Seq("event_id"), clusterBy = Some("event_id"))
        timed(Maintenance.compactSnapshot(spark, s"$p/t",
          targetBytes = 128L << 20): Unit)
      }),
      "m_zorder" -> (() => staged { p =>
        Maintenance.snapshotWrite(liProj, s"$p/t", nFiles = 8,
          statsCols = Seq("x"), clusterBy = Some("x"))
        timed(Maintenance.compactSnapshotZorder(spark, s"$p/t", Seq("x", "y"),
          targetBytes = 128L << 20, bits = 8): Unit)
      }),
      "m_zorder3" -> (() => staged { p =>
        Maintenance.snapshotWrite(evProj, s"$p/t", nFiles = 8,
          statsCols = Seq("u"), clusterBy = Some("u"))
        timed(Maintenance.compactSnapshotZorder(spark, s"$p/t",
          Seq("u", "e", "v"), targetBytes = 128L << 20, bits = 8): Unit)
      }),
      "m_merge" -> (() => staged { p =>
        val o = Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        Maintenance.snapshotWrite(o, s"$p/t", nFiles = 8,
          statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey"))
        val v = s"graft_mbench_chg_${java.util.UUID.randomUUID().toString.take(8)}"
        o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + lit(100.0)).as("price"))
          .createOrReplaceTempView(v)
        try timed(SqlSurface.withCatalog(spark, p) { cat =>
          spark.sql(s"MERGE INTO $cat.t t USING $v c " +
            "ON t.o_orderkey = c.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET o_totalprice = c.price " +
            "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, " +
            "o_totalprice) VALUES (c.o_orderkey, 'N', c.price)"): Unit
        }) finally spark.catalog.dropTempView(v): Unit
      }),
      "m_delete" -> (() => staged { p =>
        Maintenance.snapshotWrite(events, s"$p/t", nFiles = 8,
          statsCols = Seq("event_id"), clusterBy = Some("event_id"))
        timed(SqlSurface.withCatalog(spark, p) { cat =>
          spark.sql(s"DELETE FROM $cat.t WHERE event_id BETWEEN 100 AND 4999"): Unit
        })
      }))
    val entries = verbs.map { case (name, mk) =>
      val t = try Right(bestOf2(mk)) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(120))
      }
      Json.str(name) + ":" + t.fold(m => Json.str("err: " + m), fmt3)
    }
    val loadFrag = lb.map(l => s""""load_before":$l,""").getOrElse("")
    s"{$loadFrag${entries.mkString(",")}}"
  }

  /** The expected WARN flood classes (checkpoint-generation retirement,
    * large-broadcast notices) drown a real error in the artifact tail —
    * raise just those loggers to ERROR so anything visible is signal. */
  private def quietExpectedWarns(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Seq(
      "org.apache.spark.rdd.MapPartitionsRDD",  // "was locally checkpointed …"
      "org.apache.spark.rdd.ParallelCollectionRDD",
      "org.apache.spark.scheduler.DAGScheduler", // "Broadcasting large task binary …"
      "org.apache.spark.storage.BlockManager",   // "Block … already exists"
      // "No Partition Defined" — deliberate tiny global windows (top-20
      // rank frames etc., each plan-audited to run over bounded rows)
      "org.apache.spark.sql.execution.window.WindowExec"
    ).foreach(Configurator.setLevel(_, Level.ERROR))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    quietExpectedWarns()

    // warmup: touch each table once (fs metadata, codec init, codegen)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).count()

    val heads = Registry.ops.filter(_.headline)
    // Clean-window protocol (the r10 lesson: the primary artifact was
    // taken at box load 4.4→7.0 and read 1.18× for scheduling-delay
    // reasons, not code): the primary point re-runs — bounded — while
    // the load sampled BEFORE an attempt says the box is contended,
    // and the RECORDED numbers are the cleanest-window attempt's. The
    // sleep between attempts lets our own 1-min load contribution
    // decay (~e^{-45/60}), so the next sample mostly sees EXTERNAL
    // load. Every attempt's (load, total) stays in the artifact: a
    // contended bench is self-diagnosing, never silently averaged in.
    final case class Attempt(lb: Option[Double], r: Report,
        la: Option[Double], cpuJson: String, busy: Option[Long])
    def attemptOnce(): Attempt = {
      val lb = loadAvg()
      val t0 = cpuTicks()
      val r = run(spark, sfDir, heads)
      val t1 = cpuTicks()
      Attempt(lb, r, loadAvg(), cpuDeltaJson(t0, t1),
        for (a <- t0; b <- t1) yield b._1 - a._1)
    }
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt
    val attempts = scala.collection.mutable.Buffer(attemptOnce())
    // Clean-window retry, tick-aware since r13. The r12 verdict (and
    // this round's own runs) showed the 1-min load gate blind to
    // hypervisor contention: identical suites burned 12.6k busy ticks
    // in a clean window and 29-34k in degraded ones, all at load ≤ 1.9.
    // Busy ticks for a FIXED workload are a direct contention gauge but
    // need a same-workload reference, so (when tick sampling works and
    // more than one attempt is allowed) a second attempt always runs,
    // and further ones while the busy-tick spread says at least one
    // window was contended. The load rule is kept as the fallback; only
    // a MEASURED signal can declare the window dirty (or clean) — an
    // unreadable /proc stays None/null, never a fake clean reading.
    // The timed 19-query loop is untouched; every attempt stays in the
    // artifact.
    def allBusies = attempts.flatMap(_.busy)
    def ticksWork = allBusies.size == attempts.size
    while (attempts.size < maxAttempts && (
        attempts.forall(_.lb.exists(_ > 2.0)) ||
        (ticksWork && attempts.size < 2) ||
        (ticksWork && allBusies.max.toDouble / allBusies.min.toDouble > 1.4))) {
      Thread.sleep(45000)
      attempts += attemptOnce()
    }
    // record the cleanest attempt: least busy ticks when every attempt
    // has them (the direct gauge), else least load (the r10-r12 rule)
    val best =
      if (ticksWork && attempts.size > 1) attempts.minBy(_.busy.get)
      else attempts.minBy(_.lb.getOrElse(Double.MaxValue))
    val (loadBefore, rep, loadAfter) = (best.lb, best.r, best.la)
    def jload(o: Option[Double]): String = o.map(_.toString).getOrElse("null")
    val attemptsJson = attempts.map { a =>
      s"""{"load_before":${jload(a.lb)},"total":${a.r.total},"load_after":${jload(a.la)}${a.cpuJson}}"""
    }.mkString("[", ",", "]")

    // maintenance verbs, timed AFTER the primary point so their staged
    // writes never contend with the headline attempt
    val maintJson = maintenanceBench(spark, sfDir)

    // scale evidence: per-query times at the sibling scale factors
    // (single timed run each — the scaling EXPONENT is the signal;
    // best-of-2 stays reserved for the primary point). A super-linear
    // operator is visible in the artifact alone.
    val parent = new java.io.File(sfDir).getParentFile
    val siblings = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(n => new java.io.File(parent, n))
      .filter(f => f.isDirectory && f.getAbsolutePath != new java.io.File(sfDir).getAbsolutePath)
      .map(_.getAbsolutePath)
    // scaling keys are the short sf names ("sf0.001"), not absolute
    // paths — the stdout report must stay compact (see fmt3); the
    // primary point reuses the best-of-2 numbers already measured
    def sfKey(d: String) = Json.str(new java.io.File(d).getName)
    val sibReps = siblings.map(d => d -> timesAt(spark, d, heads))
    val sibScaling = sibReps.map { case (d, r) => sfKey(d) + ":" + r.queries }
    val sibErrs = sibReps.map(_._2.errs).sum
    // a fourth decade, when present: GenScale's sf1 under the checkout
    // (or any dirs in SPARK_GRAFT_EXTRA_SF_DIRS). Per-query numbers go
    // to the FILE artifact only; stdout carries just the totals — the
    // compact line must stay inside the driver's ~2,000-char log-tail
    // window (the r06..r08 lesson)
    // dedup against the primary and siblings BY KEY (canonical name):
    // benching AT sf1 must not re-time the whole suite as an "extra",
    // and a colliding basename would emit duplicate JSON keys that most
    // parsers silently collapse
    val usedKeys = (sfDir +: siblings)
      .map(d => new java.io.File(d).getName).toSet
    val extraDirs = (sys.env.get("SPARK_GRAFT_EXTRA_SF_DIRS").toSeq
        .flatMap(_.split(',').toSeq.filter(_.nonEmpty)) :+
        new java.io.File(sys.props("user.dir"), "testdata/sf1").getAbsolutePath)
      .map(new java.io.File(_)).filter(_.isDirectory)
      .map(_.getCanonicalFile.getAbsolutePath).distinct
      .filterNot(d => usedKeys.contains(new java.io.File(d).getName))
      .distinctBy(d => new java.io.File(d).getName)
    val extraReps = extraDirs.map(d => d -> timesAt(spark, d, heads))
    val extraScaling = extraReps.map { case (d, r) => sfKey(d) + ":" + r.queries }
    // totals AND error counts: a query that crashes only at the extra
    // scale is a real regression signal — it must be visible in the
    // compact line and fail the run, not silently shrink the total
    val extraTotals = extraReps.flatMap { case (d, r) =>
      (sfKey(d).dropRight(1) + "_total\":" + r.total) +:
        (if (r.errs > 0) Seq(sfKey(d).dropRight(1) + s"""_errors":${r.errs}""")
         else Nil)
    }
    val extraErrs = extraReps.map(_._2.errs).sum
    val scalingFull = ((sibScaling :+ (sfKey(sfDir) + ":" + rep.queries)) ++
      extraScaling).mkString("{", ",", "}")
    val loads = (loadBefore.map(l => s""""load_before":$l""") ++
      loadAfter.map(l => s""""load_after":$l""")).mkString(",")
    // default next to the checkout, not a hardcoded machine path: the
    // working directory is where sbt (and the driver) run the bench
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(sys.props("user.dir"), "bench_out.json").getAbsolutePath)
    // FULL artifact (per-run times, all three scaling points) goes to
    // the dedicated file; numbers recoverable only from a log tail
    // defeat the point of a machine-readable bench line
    val fileLine = rep.json.dropRight(1) + s""","scaling":$scalingFull""" +
      s""","attempts":$attemptsJson""" +
      s""","maintenance":$maintJson""" +
      (if (loads.nonEmpty) s",$loads}" else "}")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fileLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] cannot write $outFile: $e") }
    // stdout gets a COMPACT twin that must fit ENTIRELY inside the
    // driver's 2,000-char log-tail window (r06..r08 `"parsed": null`
    // root cause: the line's front scrolled out of the window): no
    // per-run arrays, sibling scaling only (the primary point IS
    // `queries`), ms-rounded values. ~1.5 KB at 18 headline queries.
    val stdoutLine =
      s"""{"metric":"total","value":${rep.total},"unit":"sec","queries":${rep.queries},"retimed":${rep.retimed},"errors":${rep.errs},"sf":${Json.str(sfDir)},"scaling":${sibScaling.mkString("{", ",", "}")}""" +
        (if (extraTotals.nonEmpty) extraTotals.mkString(",", ",", "") else "") +
        (if (loads.nonEmpty) s",$loads" else "") +
        s""","attempts":$attemptsJson""" +
        s""","maintenance":$maintJson""" +
        // r10 A/B root-cause pointer: load-sensitivity analysis of the
        // r8→r9 drift lives in PERF_r10.md (+ tools/ab_*.json, last in
        // the tree at commit a428ae9)
        s""","perf_note":"PERF_r10.md","detail":${Json.str(outFile)}}"""
    println(stdoutLine)
    spark.stop()
    if (rep.errs + sibErrs + extraErrs > 0) sys.exit(1)
  }
}
