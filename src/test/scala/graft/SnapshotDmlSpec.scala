package graft

import org.apache.spark.sql.functions._
import graft.operators.Maintenance._
import graft.operators.SqlSurface

/** The snapshot layer's row-level verbs share one copy-on-write path:
  * the Scala `snapshotDelete`/`snapshotMerge` and the SQL DML land on
  * the same admission, pruning and commit pieces. These specs pin what
  * that sharing promises across the two surfaces. */
class SnapshotDmlSpec extends SparkSpec {

  /** file → (n_rows, min_k, max_k) of one version's manifest. */
  private def fileStats(table: String, v: Long): Map[String, (Long, Long, Long)] =
    snapshotManifest(spark, table, Some(v))
      .select(col("file"), col("n_rows"), col("min_k").cast("long"), col("max_k").cast("long"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  for (keyType <- Seq("bigint", "int"))
    test(s"Scala and SQL DELETE of a key range agree on files, stats and rows ($keyType key)") {
      withStage("graft_dml_del_") { p =>
        val df = spark.range(0, 400)
          .select(col("id").cast(keyType).as("k"), (col("id") % 7).as("g"),
            (col("id") * 1.5).as("v"))
        val (lo, hi) = (120L, 219L)
        for (t <- Seq("a", "b"))
          snapshotWrite(df, s"$p/$t", nFiles = 8, statsCols = Seq("k"),
            clusterBy = Some("k"))
        val v1 = fileStats(s"$p/a", 1L)
        val expectTouched = v1.count { case (_, (_, mn, mx)) => mn <= hi && mx >= lo }
        assert(expectTouched > 0 && expectTouched < v1.size,
          s"the range must cut a proper file subset, got $expectTouched/${v1.size}")

        assert(snapshotDelete(spark, s"$p/a", "k", lo, hi, nFiles = expectTouched) == 2L)
        SqlSurface.withCatalog(spark, p) { cat =>
          spark.sql(s"DELETE FROM $cat.b WHERE k BETWEEN $lo AND $hi")
        }
        assert(snapshotVersions(spark, s"$p/b") == Seq(1L, 2L))

        // per copy: the stats of the carried files and of the rewritten
        // ones — file names differ between copies (batch ids), stats not
        def outcome(t: String) = {
          val before = fileStats(s"$p/$t", 1L)
          val after = fileStats(s"$p/$t", 2L)
          val carried = after.keySet.intersect(before.keySet)
          (carried.toSeq.map(before).sorted,
            after.keySet.diff(before.keySet).toSeq.map(after).sorted)
        }
        val (carriedA, rewrittenA) = outcome("a")
        val (carriedB, rewrittenB) = outcome("b")
        assert(carriedA.size == v1.size - expectTouched,
          "the Scala verb did not prune to the range-intersecting files")
        assert(carriedA == carriedB)
        assert(rewrittenA == rewrittenB)
        def rows(t: String) = readSnapshot(spark, s"$p/$t").orderBy("k")
          .collect().map(r => (r.get(0).toString, r.getLong(1), r.getDouble(2))).toSeq
        assert(rows("a") == rows("b"))
        assert(rows("a").size == 400 - (hi - lo + 1))
      }
    }

  test("snapshotMerge refuses a partitioned table before writing anything") {
    withStage("graft_dml_pmerge_") { p =>
      import spark.implicits._
      val t = s"$p/t"
      def day(d: String, from: Long) =
        (from until from + 20).map(k => (k, d, k * 2.0)).toDF("k", "day", "v")
      snapshotOverwritePartition(day("d1", 0L), t, "day", "d1", nFiles = 2,
        statsCols = Seq("k"))
      snapshotOverwritePartition(day("d2", 100L), t, "day", "d2", nFiles = 2,
        statsCols = Seq("k"))
      val filesBefore = parquetFiles(s"$t/data")
      val changes = Seq((5L, "U", "d1", -1.0), (500L, "I", "d2", 1.0))
        .toDF("k", "op", "day", "v")
      val e = intercept[IllegalArgumentException] {
        snapshotMerge(spark, t, changes, "k", nFiles = 1)
      }
      assert(e.getMessage.contains("snapshotOverwritePartition"))
      assert(parquetFiles(s"$t/data") == filesBefore, "the refused merge left a data file behind")
      assert(snapshotVersions(spark, t) == Seq(1L, 2L))
    }
  }
}
