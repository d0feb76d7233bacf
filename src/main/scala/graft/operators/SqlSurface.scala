package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pure-SQL DML migration surface, gate-checked end to end: each
  * query stages a snapshot table behind a per-run
  * [[graft.sources.SnapshotCatalog]], issues real
  * `spark.sql("DELETE/UPDATE/MERGE …")` statements against it (planned
  * by [[graft.plans.SnapshotDmlStrategy]] onto the copy-on-write
  * verbs), and answers an aggregate over the post-DML table read back
  * through the snapshot reader — so the DuckDB oracle hash-checks the
  * WHOLE chain: SQL parse → analyzer-aligned assignments → manifest
  * file pruning → rewrite → atomic commit → versioned read.
  *
  * The reference's users write BigQuery SQL scripts
  * (data_extraction_queries_automated_script.sql); these queries are
  * the proof that a user migrating a DML-shaped statement needs no
  * Scala at all. Round10cSpec pins the cost side the oracles can't
  * see: DML rewrites only stats-intersecting files, no-op predicates
  * commit nothing, and a partition-equality DELETE on a partitioned
  * table is metadata-only.
  */
object SqlSurface {

  /** Register a per-run snapshot catalog rooted at `root`, hand its
    * name to `body`, and drop the conf keys after (the catalog
    * INSTANCE stays cached by its unique name — harmless). */
  private[graft] def withCatalog[T](spark: SparkSession, root: String)(
      body: String => T): T = {
    val cat = s"graft_sql_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.CacheScope.withConf(spark,
      s"spark.sql.catalog.$cat" -> classOf[graft.sources.SnapshotCatalog].getName,
      s"spark.sql.catalog.$cat.root" -> root)(body(cat))
  }

  import graft.functions.Compat._

  /** SQL DELETE: stage events key-clustered into 8 stats-carrying
    * files, delete a range with a residual (non-stats) conjunct —
    * `event_id BETWEEN 100 AND 499 AND event_type <> 'purchase'`
    * prunes on the id stats and re-filters on type row-level — and
    * aggregate the survivors. */
  def sqlDelete(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqldel") { p =>
      val ev = Tables.events(spark, dir)
      Maintenance.snapshotWrite(ev, s"$p/ev", nFiles = 8,
        statsCols = Seq("event_id"), clusterBy = Some("event_id"))
      withCatalog(spark, p) { cat =>
        spark.sql(s"DELETE FROM $cat.ev WHERE event_id BETWEEN 100 AND 499 " +
          "AND event_type <> 'purchase'")
      }
      Maintenance.readSnapshot(spark, s"$p/ev")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("sum_value"))
        .orderBy("event_type")
    }

  private val sqlDeleteOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_id < 100 OR event_id > 499 OR event_type = 'purchase'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SQL UPDATE: stage orders key-clustered, bump every open order in
    * the low key range (`o_orderkey <= 1000 AND o_orderstatus = 'O'`
    * — stats-pruned on the key, residual on status) by an
    * exactly-representable +1000.0 and flip it to 'R', then aggregate
    * by status. The +1000.0 is additive ON PURPOSE: bit-identical in
    * any engine, so the oracle hash-checks the assignment itself. */
  def sqlUpdate(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlupd") { p =>
      val o = Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Maintenance.snapshotWrite(o, s"$p/orders_t", nFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey"))
      withCatalog(spark, p) { cat =>
        spark.sql(s"UPDATE $cat.orders_t SET o_totalprice = o_totalprice " +
          "+ 1000.0, o_orderstatus = 'R' " +
          "WHERE o_orderkey <= 1000 AND o_orderstatus = 'O'")
      }
      Maintenance.readSnapshot(spark, s"$p/orders_t")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy("status")
    }

  private val sqlUpdateOracle =
    """SELECT CASE WHEN o_orderkey <= 1000 AND o_orderstatus = 'O'
      |    THEN 'R' ELSE o_orderstatus END AS status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN o_orderkey <= 1000 AND o_orderstatus = 'O'
      |    THEN o_totalprice + 1000.0 ELSE o_totalprice END
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  /** The MERGE changeset, defined ONCE as SQL over a table named
    * `$orders` so the Spark side (temp view) and the DuckDB oracle
    * (parquet table) evaluate the identical statement: updates for
    * keys ≡0 (mod 7) (excluding the deletes), deletes for keys ≡0
    * (mod 11), inserts above the key space. Keys are disjoint across
    * ops and unique — the standard's cardinality precondition. */
  private def changesetSql(orders: String): String =
    s"""SELECT o_orderkey, 'U' AS op, o_totalprice + 500.0 AS price
       |FROM $orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
       |UNION ALL
       |SELECT o_orderkey, 'D', 0.0 FROM $orders WHERE o_orderkey % 11 = 0
       |UNION ALL
       |SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM $orders), 'I',
       |  o_totalprice + 250.0
       |FROM $orders WHERE o_orderkey % 13 = 0""".stripMargin

  /** SQL MERGE: the full three-clause statement — conditional DELETE,
    * UPDATE, and conditional INSERT — against the staged orders
    * snapshot, with the pruning path live (ON is an equality on the
    * stats column). */
  def sqlMerge(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlmrg") { p =>
      val o = Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Maintenance.snapshotWrite(o, s"$p/orders_t", nFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Some("o_orderkey"))
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val srcView = s"graft_sqlmrg_orders_$tag"
      val chgView = s"graft_sqlmrg_chg_$tag"
      o.createOrReplaceTempView(srcView)
      try {
        spark.sql(s"CREATE OR REPLACE TEMP VIEW $chgView AS " +
          changesetSql(srcView))
        withCatalog(spark, p) { cat =>
          spark.sql(
            s"""MERGE INTO $cat.orders_t t USING $chgView c
               |ON t.o_orderkey = c.o_orderkey
               |WHEN MATCHED AND c.op = 'D' THEN DELETE
               |WHEN MATCHED AND c.op = 'U' THEN UPDATE SET o_totalprice = c.price
               |WHEN NOT MATCHED AND c.op = 'I' THEN
               |  INSERT (o_orderkey, o_orderstatus, o_totalprice)
               |  VALUES (c.o_orderkey, 'N', c.price)""".stripMargin)
        }
      } finally {
        spark.catalog.dropTempView(chgView): Unit
        spark.catalog.dropTempView(srcView): Unit
      }
      Maintenance.readSnapshot(spark, s"$p/orders_t")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy("status")
    }

  private val sqlMergeOracle = {
    val chg = changesetSql("orders")
    s"""WITH chg AS ($chg),
       |base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       |merged AS (
       |  SELECT b.o_orderkey, b.o_orderstatus,
       |    CASE WHEN c.op = 'U' THEN c.price ELSE b.o_totalprice END
       |      AS o_totalprice
       |  FROM base b LEFT JOIN chg c ON b.o_orderkey = c.o_orderkey
       |  WHERE c.op IS NULL OR c.op <> 'D'
       |  UNION ALL
       |  SELECT c.o_orderkey, 'N', c.price FROM chg c
       |  WHERE c.op = 'I'
       |    AND NOT EXISTS (SELECT 1 FROM base b
       |                    WHERE b.o_orderkey = c.o_orderkey))
       |SELECT o_orderstatus AS status, COUNT(*) AS n,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       |FROM merged GROUP BY 1 ORDER BY status""".stripMargin
  }

  /** CREATE OR REPLACE TABLE … AS SELECT through the staging catalog —
    * the reference DAG's exact write idiom
    * (data_extraction_queries_automated_script.sql:7+: every step is a
    * CoR chain), landed as snapshot VERSIONS: the first CTAS commits
    * v1 (the even half), the re-land replaces it as v2 (WRITE_TRUNCATE
    * with history), and the answer unions `VERSION AS OF 1` with the
    * head — a replace that dropped/recreated the table instead of
    * versioning it would have no v1 to answer and fail the gate. */
  def sqlCtas(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlctas") { p =>
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val view = s"graft_sqlctas_ev_$tag"
      Tables.events(spark, dir).createOrReplaceTempView(view)
      try withCatalog(spark, p) { cat =>
        val props = "TBLPROPERTIES('statsCols'='event_id'," +
          "'clusterBy'='event_id','nFiles'='4')"
        spark.sql(s"CREATE TABLE $cat.ev_daily $props AS " +
          s"SELECT event_id, event_type, value FROM $view WHERE event_id % 2 = 0")
        spark.sql(s"CREATE OR REPLACE TABLE $cat.ev_daily $props AS " +
          s"SELECT event_id, event_type, value FROM $view")
        spark.sql(
          s"""SELECT version, event_type, n, sum_value FROM (
             |  SELECT CAST(1 AS BIGINT) AS version, event_type,
             |    COUNT(*) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |  FROM $cat.ev_daily VERSION AS OF 1 GROUP BY event_type
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT), event_type, COUNT(*),
             |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |  FROM $cat.ev_daily GROUP BY event_type)
             |ORDER BY version, event_type""".stripMargin)
      } finally spark.catalog.dropTempView(view): Unit
    }

  private val sqlCtasOracle =
    """SELECT CAST(1 AS BIGINT) AS version, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), event_type, COUNT(*),
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE)
      |FROM events GROUP BY event_type
      |ORDER BY version, event_type""".stripMargin

  /** A whole reference-shaped SQL SCRIPT through [[graft.SqlScript]]:
    * DECLARE a session variable, CoR-create the extraction table
    * bounded by it, re-SET the variable and re-land (the daily run),
    * then answer both versions — the BQ-script migration story run as
    * ONE flat text, no Scala between statements. The oracle inlines
    * the two variable values, so the gate checks variable substitution
    * actually reached both CTAS bodies. */
  def sqlScript(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlscript") { p =>
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val view = s"graft_sqlscript_o_$tag"
      val cutVar = s"graft_cut_$tag"
      Tables.orders(spark, dir).createOrReplaceTempView(view)
      try withCatalog(spark, p) { cat =>
        val props = "TBLPROPERTIES('statsCols'='o_orderkey'," +
          "'clusterBy'='o_orderkey','nFiles'='4')"
        graft.SqlScript.run(spark,
          s"""-- the reference DAG's extraction chain, as one script
             |DECLARE $cutVar BIGINT DEFAULT 500;
             |CREATE OR REPLACE TABLE $cat.sq_orders $props AS
             |  SELECT o_orderkey, o_orderstatus, o_totalprice
             |  FROM $view WHERE o_orderkey <= $cutVar;  -- first land
             |SET VAR $cutVar = 1000;
             |CREATE OR REPLACE TABLE $cat.sq_orders $props AS
             |  SELECT o_orderkey, o_orderstatus, o_totalprice
             |  FROM $view WHERE o_orderkey <= $cutVar;  /* re-land */
             |SELECT version, status, n, revenue FROM (
             |  SELECT CAST(1 AS BIGINT) AS version, o_orderstatus AS status,
             |    COUNT(*) AS n,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |      AS revenue
             |  FROM $cat.sq_orders VERSION AS OF 1 GROUP BY o_orderstatus
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT), o_orderstatus, COUNT(*),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |  FROM $cat.sq_orders GROUP BY o_orderstatus)
             |ORDER BY version, status""".stripMargin)
      } finally {
        spark.catalog.dropTempView(view): Unit
        spark.sql(s"DROP TEMPORARY VARIABLE IF EXISTS $cutVar"): Unit
      }
    }

  private val sqlScriptOracle =
    """SELECT CAST(1 AS BIGINT) AS version, o_orderstatus AS status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders WHERE o_orderkey <= 500 GROUP BY o_orderstatus
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), o_orderstatus, COUNT(*),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |FROM orders WHERE o_orderkey <= 1000 GROUP BY o_orderstatus
      |ORDER BY version, status""".stripMargin

  /** The maintenance verbs end to end, pure SQL (the
    * [[graft.plans.GraftSqlParser]] grammar): build a 5-version
    * lifecycle — CTAS (v1), INSERT (v2), DML DELETE (v3),
    * OPTIMIZE (v4, a compaction commit), RESTORE TO v2 (v5,
    * metadata-only) — read it back through DESCRIBE HISTORY, then
    * VACUUM down to the head and count it. The answer unions the
    * history's per-version row counts with the post-vacuum head
    * count (version 99), so the gate checks every verb changed (or
    * provably didn't change) the table's row-visible state: a
    * compaction that lost rows, a restore that didn't flip the head,
    * or a vacuum that broke the head read all hash-fail. */
  def sqlMaintenance(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlmaint") { p =>
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val view = s"graft_sqlmaint_ev_$tag"
      Tables.events(spark, dir).createOrReplaceTempView(view)
      try withCatalog(spark, p) { cat =>
        val props = "TBLPROPERTIES('statsCols'='event_id'," +
          "'clusterBy'='event_id','nFiles'='8')"
        graft.SqlScript.runAll(spark,
          s"""CREATE TABLE $cat.ev $props AS
             |  SELECT event_id, event_type, value FROM $view
             |  WHERE event_id % 2 = 0;
             |INSERT INTO $cat.ev
             |  SELECT event_id, event_type, value FROM $view
             |  WHERE event_id % 2 = 1;
             |DELETE FROM $cat.ev WHERE event_id BETWEEN 100 AND 499;
             |OPTIMIZE $cat.ev TARGET 134217728 BYTES;
             |RESTORE $cat.ev TO VERSION AS OF 2""".stripMargin): Unit
        val hist = spark.sql(s"DESCRIBE HISTORY $cat.ev")
          .select(col("version"), col("n_rows"))
        val histRows = hist.collect().toIndexedSeq // materialize pre-vacuum
        spark.sql(s"VACUUM $cat.ev KEEP 1 VERSIONS")
        val head = spark.sql(
          s"SELECT CAST(99 AS BIGINT) AS version, COUNT(*) AS n_rows FROM $cat.ev")
        spark.createDataFrame(java.util.Arrays.asList(histRows: _*), hist.schema)
          .unionByName(head).orderBy("version")
      } finally spark.catalog.dropTempView(view): Unit
    }

  private val sqlMaintenanceOracle =
    """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows
      |FROM events WHERE event_id % 2 = 0
      |UNION ALL SELECT 2, COUNT(*) FROM events
      |UNION ALL SELECT 3, COUNT(*) FROM events
      |  WHERE event_id < 100 OR event_id > 499
      |UNION ALL SELECT 4, COUNT(*) FROM events
      |  WHERE event_id < 100 OR event_id > 499
      |UNION ALL SELECT 5, COUNT(*) FROM events
      |UNION ALL SELECT 99, COUNT(*) FROM events
      |ORDER BY version""".stripMargin

  /** Schema evolution visible through pure SQL (NEW r10c): the table's
    * union schema rides every commit as a `_schema.json` sidecar
    * ([[Maintenance.recordedSchema]]), so a catalog read of an evolved
    * table resolves all columns from ONE small file — no merged-footer
    * job, and no silent loss of evolution-added columns in SQL. The
    * gate stages evens (2 columns), appends odds WITH an added column,
    * and answers a group-by ON the evolved column through the catalog:
    * old rows surface NULL for it (COALESCE'd to a sentinel group), so
    * a read that dropped the column, nulled the wrong rows, or split
    * groups wrongly hash-fails. */
  def sqlEvolution(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlevo") { p =>
      val ev = Tables.events(spark, dir)
      Maintenance.snapshotWrite(
        ev.filter(col("event_id") % 2 === 0).select("event_id", "value"),
        s"$p/ev", nFiles = 4, statsCols = Seq("event_id"),
        clusterBy = Some("event_id"))
      Maintenance.snapshotAppend(
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("value"), col("event_type").as("etype")),
        s"$p/ev", nFiles = 4, statsCols = Seq("event_id"),
        clusterBy = Some("event_id"))
      withCatalog(spark, p) { cat =>
        spark.sql(
          s"""SELECT COALESCE(etype, 'pre-evolution') AS etype,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM $cat.ev GROUP BY 1 ORDER BY etype""".stripMargin)
      }
    }

  private val sqlEvolutionOracle =
    """SELECT CASE WHEN event_id % 2 = 1 THEN event_type
      |  ELSE 'pre-evolution' END AS etype,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY etype""".stripMargin

  /** OPTIMIZE … ZORDER BY through pure SQL (NEW r10c): stage a
    * two-key projection of lineitem x-sorted, z-order it on (x, y) via
    * the parser verb ([[Maintenance.compactSnapshotZorder]] —
    * quantile-bucketed Morton clustering), and answer a 2D range
    * aggregate read back through the catalog. The oracle recomputes
    * from raw lineitem, so a z-rewrite that lost/duplicated rows or
    * mis-bucketed the layout's CONTENT hash-fails; the layout's
    * pruning win (the point of z-ordering) is pinned by Round10cSpec's
    * file-count audit, which an answer-level oracle can't see. */
  def sqlZorder(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlzo") { p =>
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), (col("l_partkey") % 256).as("x"),
          (col("l_suppkey") % 256).as("y"), col("l_quantity"))
      def diag = Invariants.snapshotDiagnostics(spark, s"$p/t")
      Maintenance.snapshotWrite(li, s"$p/t", nFiles = 8,
        statsCols = Seq("x"), clusterBy = Some("x"))
      // loud in-query invariants (r11 verdict task 1): every stage of
      // the chain is content-checked against the raw source, so a
      // divergence ANYWHERE — including in environments we can't attach
      // to — throws a stage-naming, state-carrying error instead of
      // surfacing as a mute hash mismatch in the driver's artifact
      Invariants.assertSameContent("zorder2/staging-write(v1 vs source)",
        li, Maintenance.readSnapshot(spark, s"$p/t"), diag)
      withCatalog(spark, p) { cat =>
        spark.sql(s"OPTIMIZE $cat.t TARGET 134217728 BYTES ZORDER BY (x, y)")
        Invariants.assertSameContent("zorder2/rewrite(v2 vs source)",
          li, Maintenance.readSnapshot(spark, s"$p/t"), diag)
        Invariants.assertSameContent("zorder2/catalog-full-read",
          li, spark.sql(s"SELECT * FROM $cat.t"), diag)
        val ans = spark.sql(
          s"""SELECT x, COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS qty
             |FROM $cat.t WHERE x BETWEEN 20 AND 99 AND y BETWEEN 0 AND 99
             |GROUP BY x ORDER BY x""".stripMargin)
        val expected = li
          .filter(col("x").between(20, 99) && col("y").between(0, 99))
          .groupBy("x")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("bigint")).as("qty"))
          .orderBy("x")
        Invariants.assertSameAnswer("zorder2/pruned-catalog-read",
          expected, ans, diag)
      }
    }

  private val sqlZorderOracle =
    // CAST(SUM(..) AS BIGINT): DuckDB promotes an integer SUM to HUGEINT,
    // which the driver's checker materializes as float64 ("123.0") while
    // Spark's column is int64 ("123") — rows/schema matched but the
    // content hash didn't (CORRECTNESS r10..r12). Every other oracle in
    // the repo already casts its integer sums; these two were the only
    // final outputs that didn't. Values are unchanged — type-only fix.
    """SELECT l_partkey % 256 AS x, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |WHERE l_partkey % 256 BETWEEN 20 AND 99
      |  AND l_suppkey % 256 BETWEEN 0 AND 99
      |GROUP BY 1 ORDER BY x""".stripMargin

  /** CDC through the DSv2 options (NEW r10c): `changesFrom`/`changesTo`
    * on the snapshot source plan EXACTLY the version diff's added
    * files ([[Maintenance.snapshotChanges]] behind the SQL face), with
    * manifest-stats pruning applied ON the delta — the "what landed
    * since I last looked" read every downstream incremental consumer
    * runs, O(delta) at any table size. The gate stages evens as v1,
    * appends odds as v2, and answers a RANGE-filtered aggregate over
    * the 1→2 delta through a temp view: a diff that leaked a carried
    * file (evens) or missed an added one hash-fails against the
    * odd-half oracle. */
  def sqlChanges(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlcdc") { p =>
      val ev = Tables.events(spark, dir)
      Maintenance.snapshotWrite(ev.filter(col("event_id") % 2 === 0),
        s"$p/ev", nFiles = 4, statsCols = Seq("event_id"),
        clusterBy = Some("event_id"))
      Maintenance.snapshotAppend(ev.filter(col("event_id") % 2 === 1),
        s"$p/ev", nFiles = 4, statsCols = Seq("event_id"),
        clusterBy = Some("event_id"))
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val view = s"graft_sqlcdc_$tag"
      spark.read.format("graft.sources.SnapshotSource")
        .option("changesFrom", 1).option("changesTo", 2)
        .load(s"$p/ev").createOrReplaceTempView(view)
      try spark.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
           |FROM $view WHERE event_id >= 100
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
      finally spark.catalog.dropTempView(view): Unit
    }

  private val sqlChangesOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id % 2 = 1 AND event_id >= 100
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** CREATE TABLE without data, then the CoR-idiomatic INSERT INTO
    * chain (NEW r11): the reference's BigQuery scripts create empty
    * tables and fill them in steps
    * (data_extraction_queries_automated_script.sql's CREATE-then-
    * INSERT discipline); this gate pins that the SQL catalog accepts
    * the empty CREATE (empty-manifest v1 + schema sidecar), that the
    * declared statsCols contract is INHERITED by the first insert and
    * every later one, and that the filled table answers through the
    * snapshot reader. The oracle recomputes from raw events, so a
    * dropped/duplicated insert batch hash-fails. */
  def sqlCreate(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlcrt") { p =>
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val view = s"graft_sqlcrt_$tag"
      Tables.events(spark, dir).createOrReplaceTempView(view)
      try withCatalog(spark, p) { cat =>
        spark.sql(
          s"""CREATE TABLE $cat.ev (
             |  event_id BIGINT, user_id BIGINT, event_type STRING,
             |  value DOUBLE)
             |TBLPROPERTIES ('statsCols' = 'event_id')""".stripMargin)
        // the created-but-empty table is readable and correctly typed
        require(spark.sql(s"SELECT * FROM $cat.ev").isEmpty,
          "freshly created table must read as empty")
        spark.sql(s"INSERT INTO $cat.ev SELECT event_id, user_id, " +
          s"event_type, value FROM $view WHERE event_id % 2 = 0")
        spark.sql(s"INSERT INTO $cat.ev SELECT event_id, user_id, " +
          s"event_type, value FROM $view WHERE event_id % 2 = 1")
        spark.sql(
          s"""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      } finally spark.catalog.dropTempView(view): Unit
    }

  private val sqlCreateOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** OPTIMIZE … ZORDER BY over THREE columns through pure SQL (NEW
    * r11): the N-column interleave behind the 2-column gate above —
    * stage a three-key projection of events, z-order on (u, e, v)
    * via the parser verb, and answer a 3D range aggregate through the
    * catalog. The oracle recomputes from raw events; Round10cSpec
    * audits the per-axis file pruning the oracle can't see. */
  def sqlZorder3(spark: SparkSession, dir: String): DataFrame =
    Maintenance.stagedQuery("sqlzo3") { p =>
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), (col("user_id") % 64).as("u"),
          (col("event_id") % 64).as("e"),
          floor(col("value") * 10).cast("long").as("v"))
      def diag = Invariants.snapshotDiagnostics(spark, s"$p/t")
      Maintenance.snapshotWrite(ev, s"$p/t", nFiles = 8,
        statsCols = Seq("u"), clusterBy = Some("u"))
      // same loud invariant chain as [[sqlZorder]] — see the comment
      // there; three columns exercise the N-column interleave
      Invariants.assertSameContent("zorder3/staging-write(v1 vs source)",
        ev, Maintenance.readSnapshot(spark, s"$p/t"), diag)
      withCatalog(spark, p) { cat =>
        spark.sql(s"OPTIMIZE $cat.t TARGET 134217728 BYTES ZORDER BY (u, e, v)")
        Invariants.assertSameContent("zorder3/rewrite(v2 vs source)",
          ev, Maintenance.readSnapshot(spark, s"$p/t"), diag)
        Invariants.assertSameContent("zorder3/catalog-full-read",
          ev, spark.sql(s"SELECT * FROM $cat.t"), diag)
        val ans = spark.sql(
          s"""SELECT u, COUNT(*) AS n, SUM(e) AS se, SUM(v) AS sv
             |FROM $cat.t
             |WHERE u BETWEEN 8 AND 39 AND e BETWEEN 0 AND 31 AND v >= 20
             |GROUP BY u ORDER BY u""".stripMargin)
        val expected = ev
          .filter(col("u").between(8, 39) && col("e").between(0, 31) &&
            col("v") >= 20)
          .groupBy("u")
          .agg(count(lit(1)).as("n"), sum("e").as("se"), sum("v").as("sv"))
          .orderBy("u")
        Invariants.assertSameAnswer("zorder3/pruned-catalog-read",
          expected, ans, diag)
      }
    }

  private val sqlZorder3Oracle =
    // CAST(SUM(..) AS BIGINT) — see sqlZorderOracle: HUGEINT-vs-int64
    // hash divergence in the driver's checker; type-only fix.
    """WITH t AS (
      |  SELECT user_id % 64 AS u, event_id % 64 AS e,
      |    CAST(FLOOR("value" * 10) AS BIGINT) AS v
      |  FROM events)
      |SELECT u, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS se,
      |  CAST(SUM(v) AS BIGINT) AS sv
      |FROM t WHERE u BETWEEN 8 AND 39 AND e BETWEEN 0 AND 31 AND v >= 20
      |GROUP BY u ORDER BY u""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_sql_create", sqlCreate, Some(sqlCreateOracle)),
    Op("q_sql_zorder3", sqlZorder3, Some(sqlZorder3Oracle)),
    Op("q_sql_delete", sqlDelete, Some(sqlDeleteOracle)),
    Op("q_sql_update", sqlUpdate, Some(sqlUpdateOracle)),
    Op("q_sql_merge", sqlMerge, Some(sqlMergeOracle)),
    Op("q_sql_ctas", sqlCtas, Some(sqlCtasOracle)),
    Op("q_sql_script", sqlScript, Some(sqlScriptOracle)),
    Op("q_sql_maintenance", sqlMaintenance, Some(sqlMaintenanceOracle)),
    Op("q_sql_evolution", sqlEvolution, Some(sqlEvolutionOracle)),
    Op("q_sql_zorder", sqlZorder, Some(sqlZorderOracle)),
    Op("q_sql_changes", sqlChanges, Some(sqlChangesOracle)),
  )
}
