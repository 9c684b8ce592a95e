package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Backup, MutableTable, Publish, StatsStore}
import graft.sql.GraftSql

/** The write path's table-state contract: a read sees the state (schema
  * included) the last write published, a stats manifest describes the
  * files on disk after every kind of write, and a small pruned write runs
  * a bounded number of Spark jobs. */
class WritePathSpec extends AnyFunSuite {
  import TestSession._

  private def freshDir(name: String) = s"/tmp/graft_state/${name}_${System.nanoTime()}"

  /** A 20,000-row table clustered on `k` into 16 files, with a manifest. */
  private def manifestTable(name: String): (String, MutableTable) = {
    val dir = freshDir(name)
    StatsStore.write(spark.range(20000).select(col("id").as("k"), (col("id") % 97).as("v")),
      dir, "k", numFiles = 16)
    (dir, new MutableTable(spark, dir, Some("k")))
  }

  /** A 100-key range scan through the manifest reads few files and agrees
    * with a plain filter over the directory. */
  private def assertRangeScanAgrees(dir: String, lo: Long): Unit = {
    def digest(df: DataFrame) = df.agg(count(lit(1)), sum(col("v"))).head()
    val (pruned, read, total) = StatsStore.rangeScan(spark, dir, "k", lo, lo + 99)
    assert(digest(pruned) == digest(spark.read.parquet(dir).filter(col("k").between(lo, lo + 99))))
    assert(read < total, s"read $read of $total files")
  }

  test("an UPDATE over the pruned-key limit keeps the stats manifest in step with the files") {
    val (dir, t) = manifestTable("wp_bigupdate")
    val (n, _, _) = t.update(col("k") < 15000, Seq("v" -> (col("v") + 1000)))
    assert(n == 15000)
    assertRangeScanAgrees(dir, 100)
    assertRangeScanAgrees(dir, 17000)
  }

  test("an INSERT on a manifest table keeps the stats manifest in step with the files") {
    val (dir, t) = manifestTable("wp_insert")
    assert(t.insert(spark.range(20000, 20100).select(col("id").as("k"), lit(5L).as("v"))) == 100)
    assertRangeScanAgrees(dir, 100)
    assertRangeScanAgrees(dir, 20000)
  }

  test("a schema-evolving INSERT is visible to the next read of the table") {
    val dir = freshDir("wp_evolve")
    val t = MutableTable.copyOf(spark, spark.range(10).select(col("id").as("k")), dir)
    assert(t.df.columns.toSeq == Seq("k"))
    t.insert(spark.range(10, 12).select(col("id").as("k"), lit("x").as("extra")))
    assert(t.df.columns.toSeq == Seq("k", "extra"))
    assert(t.df.filter(col("extra") === "x").count() == 2)
  }

  test("a Publish.overwrite with a different schema is seen by the next cached read") {
    val dir = freshDir("wp_publish")
    Publish.overwrite(spark.range(5).select(col("id").as("a")), dir)
    assert(Tables.readCached(spark, dir).columns.toSeq == Seq("a"))
    Publish.overwrite(spark.range(5).select(col("id").cast("string").as("b"), lit(1).as("c")), dir)
    val after = Tables.readCached(spark, dir)
    assert(after.schema.map(f => f.name -> f.dataType.simpleString) == Seq("b" -> "string", "c" -> "int"))
    assert(after.count() == 5)
  }

  test("a cached read of an empty directory raises Spark's own AnalysisException") {
    val dir = freshDir("wp_empty")
    Files.createDirectories(Paths.get(dir))
    val plain = intercept[AnalysisException](spark.read.parquet(dir))
    val cached = intercept[AnalysisException](Tables.readCached(spark, dir))
    assert(cached.getCondition == plain.getCondition)
    assert(cached.getMessage == plain.getMessage)
  }

  test("a 20-key pruned UPDATE on a 16-file manifest table runs a bounded number of Spark jobs") {
    val (dir, t) = manifestTable("wp_jobs")
    // the reads before a write have seen the table and its manifest
    assert(StatsStore.rangeScan(spark, dir, "k", 0, 99)._1.count() == 100)
    val keys = 5000L until 5020L
    val ((n, _, _), jobs) = jobsDuring(t.update(col("k").isin(keys: _*), Seq("v" -> (col("v") + 1))))
    assert(n == 20)
    assert(jobs <= 10, s"$jobs Spark jobs")
    assertRangeScanAgrees(dir, 5000)
  }

  /** A 2,000-row type `tdml` (columns `k` and `v`) on a fresh directory,
    * an SQL statement runner on it, and a check that an index-pruned
    * SELECT over `k` in [lo, hi] agrees with a plain filter over the files. */
  private def sqlTable(name: String, v: Column = col("id") % 7): (String, String => Unit,
      (Long, Long) => Unit, graft.schema.TypeCatalog) = {
    val dir = freshDir(name)
    spark.range(2000).select(col("id").as("k"), v.as("v")).write.parquet(dir)
    val cat = graft.schema.TypeCatalog.fresh()
    cat.createType("tdml", "DOCUMENT", path = Some(_ => dir))
    def sql(text: String): Unit = { GraftSql.statement(spark, sfDir, text, cat).collect(); () }
    def agrees(lo: Long, hi: Long): Unit = {
      val pruned = GraftSql.query(spark, sfDir, s"SELECT k, v FROM tdml WHERE k >= $lo AND k <= $hi", cat)
      val plain = spark.read.parquet(dir).filter(col("k").between(lo, hi)).select("k", "v")
      assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty, s"k in [$lo, $hi]")
    }
    (dir, sql, agrees, cat)
  }

  test("SQL DML on an indexed type keeps its manifest in step with the files") {
    val (dir, sql, agrees, _) = sqlTable("wp_sqldml")
    sql("CREATE INDEX ON tdml (k) UNIQUE")
    sql("INSERT INTO tdml (k, v) VALUES (5000, 1)")
    agrees(4990, 5010)
    agrees(0, 99)
    sql("UPDATE tdml SET v = 100 WHERE k < 50")
    agrees(0, 99)
    sql("DELETE FROM tdml WHERE k >= 1990")
    agrees(1900, 5010)
    assert(spark.read.parquet(dir).count() === 1990L) // 2,000 + 1 inserted - 11 deleted
    // the index key does not turn on the change feed
    assert(!Files.exists(Paths.get(s"$dir-cdf")))
  }

  test("a ROLLBACK restores an indexed type's manifest with its files") {
    val (dir, sql, agrees, cat) = sqlTable("wp_sqlrollback")
    sql("CREATE INDEX ON tdml (k) UNIQUE")
    graft.sql.Script.run(spark, sfDir,
      """BEGIN;
        |UPDATE tdml SET v = 100 WHERE k < 50;
        |INSERT INTO tdml (k, v) VALUES (5000, 1);
        |DELETE FROM tdml WHERE k >= 1990;
        |ROLLBACK;""".stripMargin, cat).collect()
    assert(spark.read.parquet(dir).count() === 2000L)
    agrees(0, 99)
    agrees(1900, 5010)
  }

  test("an UPDATE over the pruned-key limit on a manifest table runs a bounded number of Spark jobs") {
    val (dir, t) = manifestTable("wp_bigjobs")
    // the reads before a write have seen the table and its manifest
    assert(StatsStore.rangeScan(spark, dir, "k", 0, 99)._1.count() == 100)
    val ((n, _, _), jobs) = jobsDuring(t.update(col("k") < 15000, Seq("v" -> (col("v") + 1000))))
    assert(n == 15000)
    assert(jobs <= 14, s"$jobs Spark jobs")
    assertRangeScanAgrees(dir, 100)
  }

  /** `v` is a permutation of `k`, so files clustered on one of them span
    * the whole range of the other. */
  private val permuted = col("id") * 7919 % 2000

  test("an index on a second column leaves an index-pruned SELECT on the first one correct") {
    val (_, sql, agrees, _) = sqlTable("wp_second_index", permuted)
    sql("CREATE INDEX ON tdml (k)")
    sql("CREATE INDEX ON tdml (v)")
    agrees(100, 199)
  }

  test("a Z-order index over a single-column index's key still serves its pruned SELECT") {
    val (_, sql, agrees, _) = sqlTable("wp_range_then_z", permuted)
    sql("CREATE INDEX ON tdml (k)")
    sql("CREATE INDEX ON tdml (k, v)")
    agrees(100, 199)
  }

  test("SQL DML on a Z-order-indexed type keeps its manifest in step with the files") {
    val (dir, sql, agrees, _) = sqlTable("wp_zdml", permuted)
    sql("CREATE INDEX ON tdml (k, v)")
    sql("UPDATE tdml SET v = v + 1 WHERE k < 50")
    val plain = spark.read.parquet(dir)
    for ((key, lo, hi) <- Seq(("k", 0L, 99L), ("k", 100L, 199L), ("v", 100L, 199L))) {
      val (pruned, read, total) = StatsStore.rangeScan(spark, dir, key, lo, hi)
      val expected = plain.filter(col(key).between(lo, hi))
      assert(pruned.exceptAll(expected).isEmpty && expected.exceptAll(pruned).isEmpty, s"$key in [$lo, $hi]")
      assert(read < total, s"$key in [$lo, $hi]: read $read of $total files")
    }
    agrees(100, 199)
  }

  test("a restore from backup keeps an indexed type's manifest in step with the files") {
    val (dir, sql, agrees, _) = sqlTable("wp_restore", permuted)
    val backupDir = freshDir("wp_restore_backup")
    Backup.backup(spark, Map("tdml" -> dir), backupDir)
    sql("CREATE INDEX ON tdml (k)")
    Backup.restore(spark, backupDir, Map("tdml" -> dir))
    assert(spark.read.parquet(dir).count() === 2000L)
    agrees(100, 199)
  }
}
