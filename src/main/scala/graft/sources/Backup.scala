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

  /** Snapshot `tables` (name → dir) into `backupDir/<name>`, with a
    * manifest at `backupDir/_manifest`. */
  def backup(spark: SparkSession, tables: Map[String, String], backupDir: String): Unit = {
    import spark.implicits._
    val counts = tables.toSeq.sorted.map { case (name, dir) =>
      val df = spark.read.parquet(dir)
      df.write.mode("overwrite").parquet(s"$backupDir/$name")
      (name, df.count())
    }
    counts.toDF("table", "rows").coalesce(1)
      .write.mode("overwrite").parquet(s"$backupDir/_manifest")
  }

  /** Filesystem-level snapshot of table directories — the TRANSACTION
    * fast path (reference TransactionContext page snapshots, not the
    * BACKUP DATABASE statement: that one stays a distributed job with a
    * row-count manifest, [[backup]]). A tx snapshot copies the parquet
    * files as files: no Spark jobs, no schema pass — byte-identical
    * restore. A table's stats manifest ([[StatsStore]]) names its files,
    * so it is part of the table's state: it is copied to
    * `snapDir/<name>-manifest` when present. State dirs are single-FS by
    * construction here; on a cluster the same operation is a DFS
    * directory copy. */
  def snapshotFiles(tables: Map[String, String], snapDir: String): Unit = {
    val root = Paths.get(snapDir)
    deleteRecursive(root)
    tables.foreach { case (name, dir) =>
      mirror(Paths.get(dir), root.resolve(name))
      mirror(Paths.get(StatsStore.manifestDir(dir)), root.resolve(s"$name-manifest"))
    }
  }

  /** Inverse of [[snapshotFiles]]: replace each target dir and its stats
    * manifest with the snapshot's copies (a manifest the snapshot lacks is
    * removed, since it names files the restore took away), and drop
    * Spark's cached file listings for the restored paths. */
  def restoreFiles(spark: SparkSession, snapDir: String,
      targets: Map[String, String]): Unit =
    targets.foreach { case (name, dir) =>
      val src = Paths.get(snapDir).resolve(name)
      require(Files.isDirectory(src), s"table $name not in tx snapshot")
      mirror(src, Paths.get(dir))
      mirror(Paths.get(snapDir).resolve(s"$name-manifest"), Paths.get(StatsStore.manifestDir(dir)))
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
    spark.read.parquet(s"$backupDir/_manifest")

  /** Restore tables from `backupDir` into `targets` (name → dir),
    * verifying each restored count against the manifest. */
  def restore(spark: SparkSession, backupDir: String, targets: Map[String, String]): Unit = {
    val expected = manifest(spark, backupDir).collect()
      .map(r => r.getAs[String]("table") -> r.getAs[Long]("rows")).toMap
    targets.foreach { case (name, dir) =>
      require(expected.contains(name), s"table $name not in backup")
      val snap = spark.read.parquet(s"$backupDir/$name")
        .localCheckpoint(eager = true) // target dir may BE the snapshot source's origin
      val n = snap.count()
      require(n == expected(name), s"backup of $name corrupt: $n != ${expected(name)}")
      snap.write.mode("overwrite").parquet(dir)
    }
  }
}
