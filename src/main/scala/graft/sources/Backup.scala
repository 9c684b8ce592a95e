package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Full backup / restore of a set of tables (reference
  * integration/src/main/java/com/arcadedb/integration/backup/Backup.java
  * and restore/Restore.java). The reference zips page files of the
  * single-node store; a distributed engine snapshots THROUGH the
  * distributed FS it reads — each table copies as parquet (a distributed
  * job, not a driver stream) plus a tiny manifest listing table names and
  * row counts for integrity checks at restore time.
  */
object Backup {

  /** The row-count manifest's directory name inside a backup. Spark's
    * file index hides names that start with `_` or `.`. An unquoted
    * table name has no `.`, and [[backup]] refuses a quoted one that
    * takes this name. */
  val ManifestName = "backup.manifest"

  /** Snapshot `tables` (name → dir) into `backupDir/<name>`, with a
    * manifest at `backupDir/`[[ManifestName]]. */
  def backup(spark: SparkSession, tables: Map[String, String], backupDir: String): Unit = {
    import spark.implicits._
    require(!tables.contains(ManifestName), s"a table named $ManifestName cannot be backed up")
    val counts = tables.toSeq.sorted.map { case (name, dir) =>
      val df = spark.read.parquet(dir)
      df.write.mode("overwrite").parquet(s"$backupDir/$name")
      (name, df.count())
    }
    counts.toDF("table", "rows").coalesce(1)
      .write.mode("overwrite").parquet(s"$backupDir/$ManifestName")
  }

  /** Filesystem-level snapshot of table directories — the TRANSACTION
    * fast path (reference TransactionContext page snapshots, not the
    * BACKUP DATABASE statement: that one stays a distributed job with a
    * row-count manifest, [[backup]]). A tx snapshot copies the files of
    * each table directory as files: no Spark jobs, no schema pass —
    * byte-identical restore. A table's stats manifest ([[StatsStore]]) is
    * one of those files, so it is snapshotted with the data it describes.
    * State dirs are single-FS by construction here; on a cluster the same
    * operation is a DFS directory copy. */
  def snapshotFiles(tables: Map[String, String], snapDir: String): Unit = {
    val root = Paths.get(snapDir)
    deleteRecursive(root)
    tables.foreach { case (name, dir) => mirror(Paths.get(dir), root.resolve(name)) }
  }

  /** Inverse of [[snapshotFiles]]: replace each target dir's files, its
    * stats manifest included, with the snapshot's copies, and drop Spark's
    * cached file listings for the restored paths. */
  def restoreFiles(spark: SparkSession, snapDir: String,
      targets: Map[String, String]): Unit =
    targets.foreach { case (name, dir) =>
      val src = Paths.get(snapDir).resolve(name)
      require(Files.isDirectory(src), s"table $name not in tx snapshot")
      mirror(src, Paths.get(dir))
      spark.catalog.refreshByPath(dir)
    }

  /** Make `dst` hold exactly the regular files of `src`, or remove it when
    * `src` is not a directory. */
  private def mirror(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    deleteRecursive(dst)
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).iterator().asScala
        .filter(Files.isRegularFile(_))
        .foreach(f => Files.copy(f, dst.resolve(f.getFileName.toString)))
    }
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

  /** The backup's manifest: (table, rows). */
  def manifest(spark: SparkSession, backupDir: String) =
    spark.read.parquet(s"$backupDir/$ManifestName")

  /** Restore tables from `backupDir` into `targets` (name → dir),
    * verifying each snapshot's row count against the backup manifest
    * before it replaces the table through the one table rewrite
    * ([[StatsStore.overwrite]]): a staging swap, so a failed restore leaves
    * the old table whole, and a table's stats manifest is rebuilt over the
    * restored files. */
  def restore(spark: SparkSession, backupDir: String, targets: Map[String, String]): Unit = {
    val expected = manifest(spark, backupDir).collect()
      .map(r => r.getAs[String]("table") -> r.getAs[Long]("rows")).toMap
    targets.foreach { case (name, dir) =>
      require(expected.contains(name), s"table $name not in backup")
      val snap = spark.read.parquet(s"$backupDir/$name")
      val n = snap.count()
      require(n == expected(name), s"backup of $name corrupt: $n != ${expected(name)}")
      StatsStore.overwrite(snap, dir)
    }
  }
}
