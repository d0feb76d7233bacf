package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, ExprId, Expression, PlanExpression, EqualTo => CEq}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, V2CommandExec}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.operators.Maintenance
import graft.sources.SnapshotTable

/** SQL DML on versioned snapshot tables — the planner half of the
  * "users live in SQL" migration surface. With
  * [[GraftExtensions]] installed and a
  * [[graft.sources.SnapshotCatalog]] registered,
  *
  * {{{
  *   spark.sql("DELETE FROM lake.t WHERE k BETWEEN 100 AND 499")
  *   spark.sql("UPDATE lake.t SET v = v * 1.1 WHERE status = 'O'")
  *   spark.sql("""MERGE INTO lake.t USING changes c ON t.k = c.k
  *                WHEN MATCHED AND c.op = 'D' THEN DELETE
  *                WHEN MATCHED THEN UPDATE SET v = c.v
  *                WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k, c.v)""")
  * }}}
  *
  * land on the snapshot layer's copy-on-write verbs
  * ([[Maintenance.snapshotDeleteWhere]]/[[Maintenance.snapshotUpdateWhere]]/
  * [[SnapshotDml.mergeInto]]) with every Scala-API guarantee intact:
  * manifest-stats file pruning (only files that can hold affected rows
  * are rewritten), untouched files carried verbatim, the
  * marker-verified atomic commit, and base-version pinning (a
  * concurrent commit in the read-rewrite window throws instead of
  * silently losing an update).
  *
  * Mechanically this is the route (c) extension shape: Spark's parser
  * and analyzer already produce fully-resolved
  * DeleteFromTable/UpdateTable/MergeIntoTable plans over any V2
  * relation (assignments aligned and cast to the target schema); the
  * built-in strategies then REJECT tables that don't implement
  * SupportsRowLevelOperations. This injected strategy runs before
  * them and claims exactly the plans whose target is a
  * [[SnapshotTable]] — mirroring how Delta Lake routes the same three
  * commands onto its own transaction log rather than implementing the
  * group-based rewrite protocol.
  *
  * The reference never issues row-level DML (its BigQuery scripts are
  * CREATE-OR-REPLACE chains — data_extraction_queries_automated_script
  * .sql:7+), but its WRITE_TRUNCATE-shaped daily loop is exactly what
  * these verbs replace with O(touched-files) work at 100 TB.
  */
object SnapshotDml {

  /** Match a DML target plan down to its snapshot table + output
    * attributes (the analyzer may leave a SubqueryAlias; the optimizer
    * may have converted the relation to a scan relation). */
  private[plans] object SnapTarget {
    def unapply(plan: LogicalPlan): Option[(SnapshotTable, Seq[AttributeReference])] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case r: DataSourceV2Relation => r.table match {
          case t: SnapshotTable => Some((t, r.output.map(_.asInstanceOf[AttributeReference])))
          case _ => None
        }
        case r: DataSourceV2ScanRelation => r.relation.table match {
          case t: SnapshotTable => Some((t, r.output.map(_.asInstanceOf[AttributeReference])))
          case _ => None
        }
        case _ => None
      }
  }

  /** A resolved catalyst expression as a Column over RENAMED frames:
    * every attribute is rewritten by exprId to the name the target
    * frame carries. Subqueries are refused — a DML predicate here is a
    * row predicate, not a query. */
  private[plans] def remap(e: Expression, ids: Map[ExprId, String]): Column = {
    require(!e.exists(_.isInstanceOf[PlanExpression[_]]),
      "subqueries are not supported in snapshot-table DML predicates")
    Bridge.column(e.transform {
      case a: AttributeReference => ids.get(a.exprId) match {
        case Some(n) => UnresolvedAttribute.quoted(n)
        case None => throw new IllegalArgumentException(
          s"DML expression references out-of-scope attribute '${a.name}'")
      }
    })
  }

  /** Identity remap: target attributes resolve against a frame that
    * kept the table's own column names. */
  private[plans] def selfIds(attrs: Seq[AttributeReference]): Map[ExprId, String] =
    attrs.map(a => a.exprId -> a.name).toMap

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** SQL MERGE INTO a snapshot table, copy-on-write with manifest
    * pruning. Semantics follow the standard (and Delta):
    *
    *  - clauses are evaluated IN ORDER, first match wins;
    *  - a target row matching multiple source rows is a cardinality
    *    violation and throws (a silent multi-update would be
    *    nondeterministic);
    *  - unmatched target rows pass through unchanged (unless a
    *    NOT MATCHED BY SOURCE clause says otherwise);
    *  - unmatched source rows insert through the first matching
    *    NOT MATCHED clause, or drop.
    *
    * Pruning: every `targetCol = sourceExpr` equality conjunct of the
    * ON clause with manifest stats restricts the touched set to files
    * whose [min,max] contains at least one source key
    * ([[Maintenance.keyRangeFiles]], the helper
    * [[Maintenance.snapshotMerge]] prunes with); NOT MATCHED BY SOURCE
    * clauses force a full-table touch (they rewrite rows no source key
    * points at). Inserts land even when no file is touched. Evolved
    * columns outside the relation schema pass through on target rows
    * and surface NULL on inserts. */
  // The work runs at execution (not planning) time; everything the
  // closure needs is captured resolved.
  private[plans] def mergeInto(spark: SparkSession, path: String,
      targetAttrs: Seq[AttributeReference], sourcePlan: LogicalPlan,
      mergeCond: Expression, matched: Seq[MergeAction],
      notMatched: Seq[MergeAction], nmbs: Seq[MergeAction]): Long = {
    val tIds: Map[ExprId, String] = targetAttrs.map(a => a.exprId -> s"__t_${a.name}").toMap
    val sAttrs = sourcePlan.output
    val sIds: Map[ExprId, String] = sAttrs.zipWithIndex.map { case (a, i) => a.exprId -> s"__s_$i" }.toMap
    val ids = tIds ++ sIds
    val attrById: Map[ExprId, AttributeReference] = targetAttrs.map(a => a.exprId -> a).toMap

    val (baseV, mf) = Maintenance.dmlBase(spark, path, None, "MERGE")
    Maintenance.requireUnpartitioned(path, mf, "merge into")

    val srcDf = Bridge.ofRows(spark, sourcePlan)
    val src = srcDf.toDF(sAttrs.indices.map(i => s"__s_$i"): _*)
      .withColumn("__s_exists", lit(true))

    // ── touched set: equality-key range pruning against the manifest ──
    val mfCols = mf.columns.toSet
    val eqKeys: Seq[(String, Column)] = conjuncts(mergeCond).collect {
      case CEq(a: AttributeReference, rhs)
          if tIds.contains(a.exprId) && rhs.references.forall(r => sIds.contains(r.exprId)) =>
        (a.name, remap(rhs, sIds))
      case CEq(rhs, a: AttributeReference)
          if tIds.contains(a.exprId) && rhs.references.forall(r => sIds.contains(r.exprId)) =>
        (a.name, remap(rhs, sIds))
    }.filter { case (n, _) =>
      mfCols.contains(s"min_$n") && mfCols.contains(s"max_$n")
    }
    // collected only when a branch below needs the whole file list
    lazy val allFiles: Set[String] = mf.files.toSet
    val touched: Set[String] =
      if (nmbs.nonEmpty || eqKeys.isEmpty) allFiles
      else eqKeys.map { case (n, kc) =>
        Maintenance.keyRangeFiles(mf, src.select(kc), n)
      }.reduce(_ intersect _)

    if (touched.isEmpty && notMatched.isEmpty)
      return Maintenance.snapshotVersions(spark, path).last

    // base aligned to the TABLE schema (not the touched files'
    // footers): a merge whose touched set is pre-evolution must still
    // see, set, and carry evolution-added columns. The row id is the
    // STABLE (file path, row index) identity off the parquet scan's
    // _metadata column — monotonically_increasing_id would renumber if
    // a cached partition of the joined frame is lost and recomputed
    // (executor failure between the cardinality-check action and the
    // output action), silently shearing the dup check against the
    // pass-through/update selection
    val withKey = {
      val dataRead = Maintenance.readDataFiles(spark, path, touched, baseV)
      // the `_metadata` row identity exists only on a parquet-backed
      // read; a ZERO-data-file table (the empty CREATE TABLE … then
      // MERGE fill chain) falls back to a LocalRelation empty frame
      // with no `_metadata` to resolve — and no rows to identify, so a
      // typed NULL rowid is the correct identity there
      if (touched.isEmpty && allFiles.isEmpty)
        dataRead.withColumn("__t_rowid", lit(null).cast("string"))
      else dataRead.withColumn("__t_rowid", concat_ws("#",
        col("_metadata.file_path"), col("_metadata.row_index")))
    }
    val aligned = Maintenance.alignToSchema(withKey,
      Maintenance.tableSchema(spark, path, Some(baseV)))
    val baseCols = aligned.columns.filterNot(_ == "__t_rowid").toIndexedSeq
    val baseRaw = aligned.select(baseCols.map(col): _*)
    val base = aligned
      .select(baseCols.map(c => col(s"`$c`").as(s"__t_$c")) :+ col("__t_rowid"): _*)
      .withColumn("__t_exists", lit(true))

    val joined = base.join(src, remap(mergeCond, ids), "full_outer").persist()
    try {
      val isMatched = col("__t_exists").isNotNull && col("__s_exists").isNotNull
      val isTargetOnly = col("__t_exists").isNotNull && col("__s_exists").isNull
      val isSourceOnly = col("__t_exists").isNull && col("__s_exists").isNotNull

      // standard-mandated cardinality check, on the touched slice only
      val dup = joined.filter(isMatched).groupBy(col("__t_rowid"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).limit(1).count() > 0
      if (dup) throw new IllegalStateException(
        "MERGE cardinality violation: a target row matched more than one " +
          "source row — deduplicate the source on the ON keys")

      // first-match-wins clause selector (-1 = no clause fires)
      def selector(actions: Seq[MergeAction], gate: Column): Column =
        actions.zipWithIndex.foldRight(lit(-1)) { case ((a, i), els) =>
          val cond = a.condition.map(remap(_, ids)).getOrElse(lit(true))
          when(gate && coalesce(cond, lit(false)), lit(i)).otherwise(els)
        }
      val mSel = selector(matched, isMatched)
      val nSel = selector(nmbs, isTargetOnly)
      val iSel = selector(notMatched, isSourceOnly)

      def deleteIdxs(actions: Seq[MergeAction]): Seq[Int] =
        actions.zipWithIndex.collect { case (_: DeleteAction, i) => i }
      def updates(actions: Seq[MergeAction]): Seq[(Int, Seq[Assignment])] =
        actions.zipWithIndex.collect {
          case (u: UpdateAction, i) => (i, u.assignments)
        }

      // per-column value on target-carried rows: the firing clause's
      // assignment if it has one for this column, else pass-through
      def targetValue(c: String): Column = {
        def chain(sel: Column, ups: Seq[(Int, Seq[Assignment])], acc: Column): Column =
          ups.foldRight(acc) { case ((i, assigns), els) =>
            assigns.collectFirst {
              case Assignment(k: AttributeReference, v)
                  if attrById.get(k.exprId).exists(_.name == c) => v
            } match {
              case Some(v) => when(sel === i, remap(v, ids)).otherwise(els)
              case None => els
            }
          }
        chain(mSel, updates(matched),
          chain(nSel, updates(nmbs), col(s"__t_$c"))).as(c)
      }
      val mDel = deleteIdxs(matched)
      val nDel = deleteIdxs(nmbs)
      def hitsAny(sel: Column, idxs: Seq[Int]): Column =
        if (idxs.isEmpty) lit(false) else sel.isin(idxs.map(Int.box): _*)
      val keep = !(hitsAny(mSel, mDel) || hitsAny(nSel, nDel))

      val outTarget = joined.filter(isMatched || isTargetOnly)
        .filter(keep)
        .select(baseCols.map(targetValue): _*)

      // inserts: the firing NOT MATCHED clause's aligned assignments;
      // evolved columns outside the relation schema surface NULL
      val insertUpdates: Seq[(Int, Seq[Assignment])] =
        notMatched.zipWithIndex.collect {
          case (a: InsertAction, i) => (i, a.assignments)
        }
      def insertValue(c: String): Column = {
        val dt = baseRaw.schema(c).dataType
        insertUpdates.foldRight(lit(null).cast(dt)) { case ((i, assigns), els) =>
          assigns.collectFirst {
            case Assignment(k: AttributeReference, v)
                if attrById.get(k.exprId).exists(_.name == c) => v
          } match {
            case Some(v) => when(iSel === i, remap(v, ids).cast(dt)).otherwise(els)
            case None => els
          }
        }.as(c)
      }
      val outInsert = joined.filter(isSourceOnly && iSel >= 0)
        .select(baseCols.map(insertValue): _*)

      val merged = outTarget.unionByName(outInsert)
      val nOut = math.max(1, touched.size)
      val clusterBy = eqKeys.headOption.map { case (n, _) => col(n) }
      Maintenance.rewriteFilesCommit(spark, path, mf, touched, merged, nOut,
        clusterBy, baseV)
    } finally {
      joined.unpersist(): Unit
    }
  }
}

/** One executed DML statement: the verb runs driver-side inside the
  * command's eager execution (the snapshot layer's verbs drive their
  * own distributed jobs); the statement itself returns no rows, like
  * every table format's DML. */
case class SnapshotDmlExec(verb: String, table: String, work: () => Long)
    extends V2CommandExec with org.apache.spark.sql.execution.LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override protected def run(): Seq[InternalRow] = { work(): Unit; Nil }
  override def simpleString(maxFields: Int): String =
    s"SnapshotDmlExec $verb $table"
}

/** The injected planner strategy claiming DELETE/UPDATE/MERGE whose
  * target is a snapshot table (built-in strategies would reject the
  * non-row-level-operation table). Time-travel targets refuse: DML
  * derives from and commits onto the HEAD. */
object SnapshotDmlStrategy extends SparkStrategy {
  import SnapshotDml._

  private def requireHead(t: SnapshotTable, verb: String): Unit =
    require(t.asOf.isEmpty,
      s"$verb targets a time-travel read of ${t.path} (VERSION AS OF " +
        s"${t.asOf.get}) — DML commits onto the head; RESTORE first if " +
        "the old version is the intended base")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeleteFromTable(SnapTarget(t, attrs), cond) =>
      requireHead(t, "DELETE")
      val c = remap(cond, selfIds(attrs))
      SnapshotDmlExec("DELETE", t.path, () =>
        Maintenance.snapshotDeleteWhere(SparkSession.active, t.path, c)) :: Nil

    case UpdateTable(SnapTarget(t, attrs), assignments, condition) =>
      requireHead(t, "UPDATE")
      val ids = selfIds(attrs)
      val c = condition.map(remap(_, ids)).getOrElse(lit(true))
      val set = assignments.map {
        case Assignment(k: AttributeReference, v) => (k.name, remap(v, ids))
        case Assignment(k, _) => throw new IllegalArgumentException(
          s"UPDATE supports only top-level columns, got ${k.sql}")
      }
      SnapshotDmlExec("UPDATE", t.path, () =>
        Maintenance.snapshotUpdateWhere(SparkSession.active, t.path, c, set)) :: Nil

    case m @ MergeIntoTable(SnapTarget(t, attrs), source, cond,
        matchedA, notMatchedA, nmbsA, withSchemaEvolution) =>
      requireHead(t, "MERGE")
      require(!withSchemaEvolution,
        "MERGE WITH SCHEMA EVOLUTION is not supported on snapshot tables " +
          "— evolution is an append-time property (mergeSchema reads)")
      m.matchedActions.foreach(checkAction)
      m.notMatchedActions.foreach(checkAction)
      m.notMatchedBySourceActions.foreach(checkAction)
      SnapshotDmlExec("MERGE", t.path, () =>
        mergeInto(SparkSession.active, t.path, attrs, source, cond,
          matchedA, notMatchedA, nmbsA)) :: Nil

    case m: SnapshotMaintenance => SnapshotMaintenanceExec(m) :: Nil

    case _ => Nil
  }

  private def checkAction(a: MergeAction): Unit = a match {
    case _: UpdateAction | _: DeleteAction | _: InsertAction => ()
    case other => throw new IllegalArgumentException(
      s"unsupported MERGE action ${other.getClass.getSimpleName} — " +
        "star actions should have been aligned by the analyzer")
  }
}
