package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
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
    assert(jobs <= 3, s"$jobs Spark jobs")
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
    assert(jobs <= 5, s"$jobs Spark jobs")
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

  test("a restore reads the backup manifest without DataSource ignoring its path") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = freshDir("wp_backup_log")
    spark.range(100).select(col("id").as("k")).write.parquet(dir)
    val backupDir = freshDir("wp_backup_log_backup")
    Backup.backup(spark, Map("t" -> dir), backupDir)
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("backup-restore-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warned.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.setLevel(Level.WARN)
    logger.addAppender(capture)
    try Backup.restore(spark, backupDir, Map("t" -> dir))
    finally { logger.removeAppender(capture); logger.setLevel(level); capture.stop() }
    assert(warned.isEmpty, s"DataSource warned: ${warned.toArray.mkString("; ")}")
    assert(spark.read.parquet(dir).count() === 100L)
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

  /** The data files of `dir`: the names Spark reads. */
  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  /** The manifest of `dir`, as its stats file holds it, describes `keys`,
    * names every data file of `dir`, and equals the per-file stats Spark
    * computes over them: same file names, row counts and key bounds, with
    * null bounds for a file without rows. */
  private def assertManifestMatchesFiles(dir: String, keys: Seq[String]): Unit = {
    assert(StatsStore.keys(spark, dir) == keys)
    val entries = StatsStore.fileStats(spark, dir)
    assert(entries.map(_.file).toSet == dataFiles(dir))
    val empty = entries.filter(_.cnt == 0)
    assert(empty.forall(f => f.min.toSeq.forall(_ == null) && f.max.toSeq.forall(_ == null)))
    val computed = spark.read.parquet(dir)
      .groupBy(col("_metadata.file_name").as("file"))
      .agg(count(lit(1)).as("cnt"),
        struct(keys.map(k => min(col(k)).as(k)): _*).as("min"),
        struct(keys.map(k => max(col(k)).as(k)): _*).as("max"))
    val written = spark.createDataFrame(entries.filter(_.cnt > 0)
      .map(f => Row(f.file, f.cnt, f.min, f.max)).asJava, computed.schema)
    assert(written.exceptAll(computed).isEmpty && computed.exceptAll(written).isEmpty,
      s"manifest ${entries.mkString(", ")} vs files ${computed.collect().mkString(", ")}")
  }

  test("footer stats of a pruned UPDATE and a pruned DELETE equal Spark's per-file stats") {
    val (dir, t) = manifestTable("wp_footer_1d")
    assertManifestMatchesFiles(dir, Seq("k"))
    t.update(col("k").isin(5000L until 5020L: _*), Seq("v" -> (col("v") + 1)))
    assertManifestMatchesFiles(dir, Seq("k"))
    assert(t.delete(col("k").isin(9000L until 9020L: _*)) == 20)
    assertManifestMatchesFiles(dir, Seq("k"))
  }

  test("footer stats of a Z-order manifest after SQL DML equal Spark's per-file stats") {
    val (dir, sql, _, _) = sqlTable("wp_footer_z", permuted)
    sql("CREATE INDEX ON tdml (k, v)")
    assertManifestMatchesFiles(dir, Seq("k", "v"))
    sql("UPDATE tdml SET v = v + 1 WHERE k < 50")
    assertManifestMatchesFiles(dir, Seq("k", "v"))
    sql("DELETE FROM tdml WHERE k >= 1990")
    assertManifestMatchesFiles(dir, Seq("k", "v"))
  }

  test("a manifest on a non-integral key is statted by a Spark job and equals Spark's stats") {
    def written(name: String, key: Column) = {
      val dir = freshDir(name)
      val df = spark.range(2000).select(key.as("k"), (col("id") % 97).as("v"))
      (dir, jobsDuring(StatsStore.write(df, dir, "k", numFiles = 4))._2)
    }
    val (integralDir, integralJobs) = written("wp_footer_long", col("id"))
    for ((name, key) <- Seq("wp_footer_double" -> (col("id") / 3.0),
        "wp_footer_string" -> format_string("%05d", col("id")))) {
      val (dir, jobs) = written(name, key)
      assertManifestMatchesFiles(dir, Seq("k"))
      assert(jobs > integralJobs, s"$name: $jobs jobs, integral key: $integralJobs")
    }
    assertManifestMatchesFiles(integralDir, Seq("k"))
  }

  test("a file whose key column is all null gets null bounds, as Spark's min and max give") {
    val dir = freshDir("wp_footer_null")
    val df = spark.range(300).select(
      when(col("id") < 100, col("id")).as("k"), (col("id") % 7).as("v"))
    StatsStore.write(df, dir, "k", numFiles = 3)
    assertManifestMatchesFiles(dir, Seq("k"))
    val nullFiles = StatsStore.fileStats(spark, dir).filter(_.min.isNullAt(0))
    assert(nullFiles.nonEmpty, "no file holds only null keys")
    assert(nullFiles.forall(f => f.max.isNullAt(0) && f.cnt > 0))
    // a pruned write that nulls every key of one file
    val first = StatsStore.rangeScan(spark, dir, "k", 0, 99)._1.select("k").collect().map(_.getLong(0))
    StatsStore.mergeSet(spark, dir, "k", first.toSeq, Seq("k" -> lit(null).cast("long")))
    assertManifestMatchesFiles(dir, Seq("k"))
    assert(spark.read.parquet(dir).filter(col("k").isNull).count() == 300)
  }

  test("an empty file a pruned DELETE stages gets no manifest row and is removed") {
    val (dir, _) = manifestTable("wp_footer_empty")
    val (_, read, _) = StatsStore.rangeScan(spark, dir, "k", 0, 0)
    assert(read == 1)
    val firstFile = StatsStore.fileStats(spark, dir).find(_.min.getLong(0) == 0).get
    val keys = 0L until firstFile.cnt
    val (rewritten, _) = StatsStore.mergeDelete(spark, dir, "k", keys)
    assert(rewritten == 1)
    assertManifestMatchesFiles(dir, Seq("k"))
    assert(StatsStore.fileStats(spark, dir).forall(_.cnt > 0))
    assert(spark.read.parquet(dir).count() == 20000 - keys.length)
  }

  /** A range scan of `k` in [lo, lo + 99] equals a plain filter over the
    * files of `dir`, row for row. */
  private def assertScanEqualsFilter(dir: String, lo: Long): Unit = {
    val scanned = StatsStore.rangeScan(spark, dir, "k", lo, lo + 99)._1
    val plain = spark.read.parquet(dir).filter(col("k").between(lo, lo + 99))
    assert(scanned.exceptAll(plain).isEmpty && plain.exceptAll(scanned).isEmpty, s"k in [$lo, ${lo + 99}]")
  }

  test("a range scan after a second handle's write sees that write") {
    val (dir, t) = manifestTable("wp_memo_handle")
    assertScanEqualsFilter(dir, 5000)
    val other = new MutableTable(spark, dir, Some("k"))
    other.update(col("k").isin(5000L until 5020L: _*), Seq("v" -> (col("v") + 1000)))
    assertScanEqualsFilter(dir, 5000)
    other.delete(col("k").between(5050L, 5060L))
    assertScanEqualsFilter(dir, 5000)
    t.update(col("k") === 5001L, Seq("v" -> lit(-1L)))
    assertScanEqualsFilter(dir, 5000)
  }

  test("a range scan after StatsStore.write with other data sees the new data") {
    val (dir, _) = manifestTable("wp_memo_rewrite")
    assertScanEqualsFilter(dir, 5000)
    StatsStore.write(spark.range(4000, 9000).select(col("id").as("k"), lit(3L).as("v")),
      dir, "k", numFiles = 16)
    assertScanEqualsFilter(dir, 5000)
    assertScanEqualsFilter(dir, 3950)
  }

  test("a range scan after Backup.restore sees the restored table") {
    val (dir, t) = manifestTable("wp_memo_restore")
    val backupDir = freshDir("wp_memo_restore_backup")
    Backup.backup(spark, Map("t" -> dir), backupDir)
    t.update(col("k").isin(5000L until 5020L: _*), Seq("v" -> (col("v") + 1000)))
    assertScanEqualsFilter(dir, 5000)
    Backup.restore(spark, backupDir, Map("t" -> dir))
    assertScanEqualsFilter(dir, 5000)
    assert(spark.read.parquet(dir).filter(col("v") >= 1000).isEmpty)
  }

  test("a range scan after DROP INDEX reads the whole table") {
    val (dir, sql, _, _) = sqlTable("wp_memo_drop")
    sql("CREATE INDEX ON tdml (k)")
    val (_, read, total) = StatsStore.rangeScan(spark, dir, "k", 100, 199)
    assert(read < total)
    sql("DROP INDEX tdml[k]")
    val (_, readAfter, totalAfter) = StatsStore.rangeScan(spark, dir, "k", 100, 199)
    assert(readAfter == totalAfter)
    assertScanEqualsFilter(dir, 100)
  }

  test("a 20-key pruned DELETE on a 16-file manifest table runs a bounded number of Spark jobs") {
    val (dir, t) = manifestTable("wp_deljobs")
    // the reads before a write have seen the table and its manifest
    assert(StatsStore.rangeScan(spark, dir, "k", 0, 99)._1.count() == 100)
    val keys = 5000L until 5020L
    val (n, jobs) = jobsDuring(t.delete(col("k").isin(keys: _*)))
    assert(n == 20)
    assert(jobs <= 3, s"$jobs Spark jobs")
    assertRangeScanAgrees(dir, 5000)
  }

  test("a range scan of a manifest this session wrote runs no Spark job until its frame is read") {
    val (dir, t) = manifestTable("wp_scanjobs")
    t.update(col("k").isin(5000L until 5020L: _*), Seq("v" -> (col("v") + 1)))
    // the first read of the new table state infers its schema once
    assert(t.df.columns.toSeq == Seq("k", "v"))
    val ((scan, read, total), jobs) = jobsDuring(StatsStore.rangeScan(spark, dir, "k", 5000, 5099))
    assert(jobs == 0, s"$jobs Spark jobs")
    assert(read < total, s"read $read of $total files")
    assert(scan.count() == 100)
  }

  test("an UPDATE RETURN BEFORE on the pruned path returns the pre-image after the swap") {
    val (_, sql, agrees, cat) = sqlTable("wp_return_before")
    sql("CREATE INDEX ON tdml (k)")
    val before = GraftSql.statement(spark, sfDir,
      "UPDATE tdml SET v = v + 100 RETURN BEFORE WHERE k < 5", cat)
    val rows = before.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 5L).map(k => (k, k % 7)))
    assert(GraftSql.query(spark, sfDir, "SELECT k FROM tdml WHERE v >= 100", cat).count() == 5)
    agrees(0, 99)
  }

  test("a pruned MutableTable.update returns its pre- and post-image and feeds exactly the changed keys") {
    val (_, t) = manifestTable("wp_images")
    val keys = 7000L until 7020L
    val (n, before, after) = t.update(col("k").isin(keys: _*), Seq("v" -> (col("v") + 1000)))
    assert(n == 20)
    def pairs(df: DataFrame) = df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(before) == keys.map(k => (k, k % 97)))
    assert(pairs(after) == keys.map(k => (k, k % 97 + 1000)))
    assert(pairs(t.df.filter(col("k").isin(keys: _*))) == keys.map(k => (k, k % 97 + 1000)))
    val feed = t.changeFeed.collect().map(r => (r.getAs[String]("op"), r.getAs[Long]("key"))).sorted.toSeq
    assert(feed == keys.map(k => ("update", k)))
  }

  test("an UPDATE of rows with a null manifest key on a manifest table rewrites them") {
    val dir = freshDir("wp_nullkey")
    val df = spark.range(2010).select(
      when(col("id") < 2000, col("id")).as("k"), (col("id") % 97).as("v"))
    StatsStore.write(df, dir, "k", numFiles = 8)
    val t = new MutableTable(spark, dir, Some("k"))
    val (n, _, _) = t.update(col("k").isNull, Seq("v" -> lit(-1L)))
    assert(n == 10)
    assert(t.df.filter(col("v") === -1L).count() == 10)
    assertManifestMatchesFiles(dir, Seq("k"))
    assertScanEqualsFilter(dir, 100)
  }

  /** A copy of the files of `dir` (its stats file included) at a fresh
    * path, which no memo has seen. */
  private def copyFiles(dir: String, name: String): String = {
    val copy = freshDir(name)
    Files.createDirectories(Paths.get(copy))
    new java.io.File(dir).listFiles().filter(_.isFile)
      .foreach(f => Files.copy(f.toPath, Paths.get(copy, f.getName)))
    copy
  }

  test("a range scan after a plain parquet overwrite of a manifest table returns what a filter returns") {
    val (dir, _) = manifestTable("wp_plain_overwrite")
    assertScanEqualsFilter(dir, 5000)
    spark.range(100000, 100100).select(col("id").as("k"), lit(1L).as("v"))
      .write.mode("overwrite").parquet(dir)
    assert(StatsStore.rangeScan(spark, dir, "k", 100000, 100099)._1.count() == 100)
    assertScanEqualsFilter(dir, 100000)
    assertScanEqualsFilter(dir, 5000)
  }

  test("a range scan after a plain parquet append to a manifest table sees the appended rows") {
    val (dir, _) = manifestTable("wp_plain_append")
    assertScanEqualsFilter(dir, 5000)
    spark.range(5000, 5010).select(col("id").as("k"), lit(-1L).as("v"))
      .write.mode("append").parquet(dir)
    assert(StatsStore.rangeScan(spark, dir, "k", 5000, 5099)._1.count() == 110)
    assertScanEqualsFilter(dir, 5000)
  }

  test("a range scan of a copy of a manifest table's files prunes and runs no Spark job until its frame is read") {
    val (dir, _) = manifestTable("wp_copy")
    val copy = copyFiles(dir, "wp_copy_dst")
    val ((scan, read, total), jobs) = jobsDuring(StatsStore.rangeScan(spark, copy, "k", 5000, 5099))
    assert(jobs == 0, s"$jobs Spark jobs")
    assert(read < total, s"read $read of $total files")
    assert(scan.count() == 100)
    assertScanEqualsFilter(copy, 5000)
  }

  test("a manifest read back from its stats file keeps integral, NaN-bounded double, string, decimal, date and timestamp bounds") {
    for ((name, key) <- Seq("wp_rt_int" -> col("id").cast("int"),
        "wp_rt_double" -> when(col("id") % 50 === 0, lit(Double.NaN)).otherwise(col("id") / 3.0),
        "wp_rt_string" -> format_string("%05d", col("id")),
        "wp_rt_decimal" -> (col("id") / 7).cast("decimal(12,3)"),
        "wp_rt_date" -> date_from_unix_date(col("id").cast("int")),
        "wp_rt_ts" -> timestamp_micros(col("id") * 1000003))) {
      val dir = freshDir(name)
      StatsStore.write(spark.range(2000).select(key.as("k"), (col("id") % 97).as("v")), dir, "k", numFiles = 4)
      val copy = copyFiles(dir, s"${name}_copy")
      assertManifestMatchesFiles(copy, Seq("k"))
      if (name == "wp_rt_double") {
        assert(StatsStore.fileStats(spark, copy).exists(_.max.getDouble(0).isNaN))
        assertScanEqualsFilter(copy, 600)
      }
    }
  }

  test("the schema a StatsStore write memoizes is the one Spark infers from its files") {
    val dir = freshDir("wp_seeded")
    val df = spark.range(400).select(col("id").as("k"), col("id").cast("int").as("i"),
      (col("id") / 7.0).as("d"), format_string("s%d", col("id")).as("s"),
      timestamp_seconds(col("id")).as("ts"), date_from_unix_date(col("id").cast("int")).as("day"),
      col("id").cast("decimal(12,2)").as("dec"), (col("id") % 2 === 0).as("b"),
      array(col("id").cast("string")).as("arr"), struct(col("id").as("x")).as("st"))
    def inferred = spark.read.parquet(dir).schema
    val (_, writeJobs) = jobsDuring(StatsStore.write(df, dir, "k", numFiles = 4))
    val (cached, readJobs) = jobsDuring(Tables.readCached(spark, dir).schema)
    assert(readJobs == 0, s"$readJobs Spark jobs after $writeJobs for the write")
    assert(cached == inferred)
    StatsStore.mergeSet(spark, dir, "k", Seq(5L), Seq("s" -> lit("x")))
    val (after, mergeReadJobs) = jobsDuring(Tables.readCached(spark, dir).schema)
    assert(mergeReadJobs == 0, s"$mergeReadJobs Spark jobs")
    assert(after == inferred)
  }

  test("no write of a manifest table leaves a -manifest directory beside it") {
    val (dir, t) = manifestTable("wp_sibling")
    t.update(col("k").isin(5000L until 5020L: _*), Seq("v" -> (col("v") + 1)))
    t.delete(col("k").isin(9000L until 9020L: _*))
    val (sqlDir, sql, agrees, cat) = sqlTable("wp_sibling_sql")
    sql("CREATE INDEX ON tdml (k)")
    graft.sql.Script.run(spark, sfDir,
      """BEGIN;
        |UPDATE tdml SET v = 100 WHERE k < 50;
        |ROLLBACK;""".stripMargin, cat).collect()
    agrees(0, 99)
    sql("DROP INDEX tdml[k]")
    for (d <- Seq(dir, sqlDir)) assert(!Files.exists(Paths.get(s"$d-manifest")), d)
  }

  test("a second handle on a table continues its change feed, and copyOf starts a fresh one") {
    val dir = freshDir("wp_feed")
    def table = MutableTable.copyOf(spark, spark.range(10).select(col("id").as("k"), lit(0L).as("v")), dir, Some("k"))
    def feed(t: MutableTable) =
      t.changeFeed.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val a = table
    a.update(col("k").isin(1L, 2L), Seq("v" -> lit(1L)))
    val b = new MutableTable(spark, dir, Some("k"))
    b.update(col("k") === 3L, Seq("v" -> lit(1L)))
    a.delete(col("k") === 4L)
    assert(feed(a) == Seq((1, "update", 1L), (1, "update", 2L), (2, "update", 3L), (3, "delete", 4L)))
    val c = table
    c.delete(col("k") === 5L)
    assert(feed(c) == Seq((1, "delete", 5L)))
  }
}
