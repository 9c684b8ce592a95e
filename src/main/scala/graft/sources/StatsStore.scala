package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File-level data skipping via a min/max manifest — the distributed
  * replacement for the reference's LSM range index (index/lsm/
  * LSMTreeIndex.java:78 range scans, exec/FetchFromIndexStep.java;
  * SURVEY.md §4.1), and the 1-D case of Delta/Iceberg-style file stats.
  *
  * Write path: cluster the table on the index key with
  * `repartitionByRange` — each output file then covers a narrow key range
  * (the sorted-run property an LSM level has on disk) — and collect one
  * (file, min, max, rows) row per file into a tiny manifest table.
  *
  * Read path: a range predicate consults the manifest first and reads
  * ONLY the files whose [min, max] intersects the range. The intersection
  * test runs DISTRIBUTED over the manifest DataFrame; only the surviving
  * file paths (bounded by predicate selectivity, not by table size) cross
  * to the driver to parameterize the scan, the way Delta's log replay
  * emits matching AddFiles. A selective predicate skips >99% of files
  * instead of scanning every file that shares a partition. Partition
  * pruning (bucket_date in [[TimeSeriesStore]]) handles time; this handles
  * any OTHER clustered key.
  *
  * Keyed writes ([[mergeSet]], [[mergeDelete]], [[mergeUpsert]]) patch the
  * manifest on the driver: they collect it (one row per file, O(files)
  * driver state — the size of the file list a table-format commit writes
  * anyway), pick the hit files there, and write the patched manifest back.
  * Every Spark job they run carries data: the manifest read, the rewrite
  * of the hit files, the stats of the new files and the manifest write.
  */
object StatsStore {

  /** Where the manifest of `dir` lives. */
  private[sources] def manifestDir(dir: String) = s"$dir-manifest"

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)

  private def baseName(uri: String): String = new Path(new java.net.URI(uri)).getName

  /** The data files of `dir` (the part files Spark writes). */
  private def partFiles(fs: FileSystem, dir: String): Seq[FileStatus] =
    fs.listStatus(new Path(dir)).toSeq.filter(_.getPath.getName.startsWith("part-"))

  /** The (file, kmin, kmax, cnt) stats of `key` per file of `df`. */
  private def keyStats(df: DataFrame, key: String): DataFrame =
    df.groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col(key)).as("kmin"), max(col(key)).as("kmax"), count(lit(1)).as("cnt"))

  /** Stats of the few files a keyed write just added, read with the schema
    * they were written with, in one single-task job (one partition needs no
    * shuffle before the per-file aggregate). Files holding no rows get no
    * row. */
  private def statNew(spark: SparkSession, files: Seq[FileStatus], schema: StructType,
      key: String): Seq[Row] =
    if (files.isEmpty) Nil
    else keyStats(spark.read.schema(schema).parquet(files.map(_.getPath.toString): _*)
      .coalesce(1), key).collect().toSeq

  /** Publish `rows` as the manifest of `dir`. They live on the driver, so
    * the write reads nothing from the manifest it replaces. */
  private def writeManifest(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(manifestDir(dir))

  /** Write `df` clustered by `key` into `numFiles` range-partitioned
    * files and collect the per-file min/max manifest. The clustered files
    * are written to a staging directory and swapped in ([[Publish]]), so
    * `df` may read `dir` itself: the write reads the still-intact source
    * files and needs no materialization first. */
  def write(df: DataFrame, dir: String, key: String, numFiles: Int): Unit = {
    val spark = df.sparkSession
    df.repartitionByRange(numFiles, col(key))
      .write.mode("overwrite").parquet(s"$dir-staging")
    Publish.swapIn(spark, s"$dir-staging", dir)
    keyStats(graft.Tables.readCached(spark, dir), key)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestDir(dir))
  }

  /** The (file, kmin, kmax, cnt) manifest. */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.readCached(spark, manifestDir(dir))

  /** Remove the manifest (DROP INDEX): scans revert to full reads; the
    * clustered data layout stays (harmless — just well-sorted files). */
  def dropManifest(spark: SparkSession, dir: String): Unit = {
    fsFor(spark, dir).delete(new Path(manifestDir(dir)), true)
    ()
  }

  /** Range scan with file skipping: returns the pruned DataFrame (with
    * the residual filter applied) plus (filesRead, filesTotal) so callers
    * and tests can observe the pruning. */
  def rangeScan(spark: SparkSession, dir: String, key: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) =
    prunedRead(spark, dir, key,
      manifest(spark, dir), col("kmax") >= lo && col("kmin") <= hi, lo, hi)

  /** One aggregate job over the manifest: the intersection predicate is
    * evaluated executor-side and ONLY the hit file paths (plus the total
    * file count) return to the driver — O(selectivity), never O(files). */
  private def prunedRead(spark: SparkSession, dir: String, key: String,
      m: DataFrame, intersects: Column, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val row = m.agg(
      sort_array(collect_list(when(intersects, col("file")))).as("hits"),
      count(lit(1)).as("total")).collect()(0)
    val hit = row.getAs[scala.collection.Seq[String]]("hits")
    val total = row.getAs[Long]("total").toInt
    val pruned =
      if (hit.isEmpty) graft.Tables.readCached(spark, dir).limit(0)
      else graft.Tables.readFiles(spark, dir, hit.toIndexedSeq)
    (pruned.filter(col(key).between(lo, hi)), hit.length, total)
  }

  // ---------------- Z-order (2-D) clustering ----------------

  private val ZBits = 16

  /** Bit-interleaved Morton code of two dimensions, each linearly scaled
    * to [0, 2^16): locality in EITHER dimension becomes locality in the
    * Z-value, so range-clustering files by Z gives min/max file skipping
    * on BOTH columns — the multi-column case the 1-D layout above can't
    * serve (Delta OPTIMIZE ZORDER BY analog; completes SURVEY §4.1's
    * FetchFromIndex replacement for composite keys). */
  private def zValue(a: Column, b: Column): Column = {
    val mask = (1L << ZBits) - 1
    val ia = a.cast("long").bitwiseAND(mask)
    val ib = b.cast("long").bitwiseAND(mask)
    (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(ia, i).bitwiseAND(1), 2 * i))
        .bitwiseOR(shiftleft(shiftright(ib, i).bitwiseAND(1), 2 * i + 1))
    }
  }

  /** Write `df` Z-order-clustered on (keyA, keyB): scale both to the
    * 16-bit grid from their global min/max, range-partition by the Morton
    * code, and record per-file min/max for BOTH keys in the manifest. */
  def writeZOrdered(df: DataFrame, dir: String, keyA: String, keyB: String,
      numFiles: Int): Unit = {
    val stats = df.agg(
      min(col(keyA)).cast("double").as("amin"), max(col(keyA)).cast("double").as("amax"),
      min(col(keyB)).cast("double").as("bmin"), max(col(keyB)).cast("double").as("bmax"))
      .collect()(0)
    val (amin, amax) = (stats.getDouble(0), stats.getDouble(1))
    val (bmin, bmax) = (stats.getDouble(2), stats.getDouble(3))
    val hi = (1L << ZBits) - 1
    def scaled(c: Column, lo: Double, up: Double): Column =
      if (up <= lo) lit(0L)
      else ((c.cast("double") - lo) / (up - lo) * hi).cast("long")
    val z = zValue(scaled(col(keyA), amin, amax), scaled(col(keyB), bmin, bmax))
    val spark = df.sparkSession
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(s"$dir-staging")
    Publish.swapIn(spark, s"$dir-staging", dir)
    graft.Tables.readCached(spark, dir)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col(keyA)).as("amin"), max(col(keyA)).as("amax"),
        min(col(keyB)).as("bmin"), max(col(keyB)).as("bmax"),
        count(lit(1)).as("cnt"))
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestDir(dir))
  }

  /** Range scan over a Z-ordered layout on either clustered dimension
    * ("a" = keyA, "b" = keyB). Same manifest-consult-then-read-hits shape
    * as [[rangeScan]]. */
  def zRangeScan(spark: SparkSession, dir: String, dim: String,
      key: String, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val (mn, mx) = if (dim == "a") ("amin", "amax") else ("bmin", "bmax")
    prunedRead(spark, dir, key,
      manifest(spark, dir), col(mx) >= lo && col(mn) <= hi, lo, hi)
  }

  // ---------------- keyed MERGE with file-level pruning ----------------

  /** Keyed MERGE (UPDATE … SET over an affected-id set) that rewrites
    * ONLY the files whose [kmin, kmax] manifest range intersects an
    * affected id — the Delta/Iceberg MERGE shape the full-rewrite
    * MutableTable/MutableGraph model documents as its 100 TB derivation
    * (MutableGraph.scala scaladoc). Protocol: append the updated rows of
    * the HIT files as new part files, delete the hit files, and patch the
    * manifest (keep rows minus hits, plus stats of the new files) —
    * untouched files are never read, rewritten, or re-statted.
    *
    * `ids` is the broadcast-sized affected set (the same writes-touch-few
    * -rows assumption the whole write path documents). Returns
    * (filesRewritten, filesTotal) so callers and tests can observe the
    * pruning. Prototype caveat vs a real table format: the append-then-
    * delete window is not atomic — Delta's transaction log is what makes
    * this crash-safe in production.
    */
  def mergeSet(spark: SparkSession, dir: String, key: String,
      ids: Seq[Long], sets: Seq[(String, Column)],
      rowCond: Option[Column] = None): (Int, Int) =
    mergeRewrite(spark, dir, key, ids, deletes = false) { (touched, cond0) =>
      val cond = rowCond.getOrElse(cond0)
      val setMap = sets.toMap
      touched.select(touched.columns.toIndexedSeq.map(c =>
        setMap.get(c).map(sc => when(cond, sc).otherwise(col(c)).as(c)).getOrElse(col(c))): _*)
    }

  /** Keyed DELETE with the same file-level pruning: rows matching the
    * affected-id set (narrowed by `rowCond` when given) are dropped from
    * the HIT files only; untouched files never rewrite. */
  def mergeDelete(spark: SparkSession, dir: String, key: String,
      ids: Seq[Long], rowCond: Option[Column] = None): (Int, Int) =
    mergeRewrite(spark, dir, key, ids, deletes = true) { (touched, cond0) =>
      touched.filter(!coalesce(rowCond.getOrElse(cond0), lit(false)))
    }

  /** Keyed UPSERT: rows of `updates` (carrying `key` plus the columns to
    * overwrite) replace their matching rows inside HIT files; keys with
    * no match append as one new (statted) file, null in the columns
    * `updates` does not carry, so every file keeps the table's schema.
    * `updates` is broadcast-sized by the same contract as `ids`. */
  def mergeUpsert(spark: SparkSession, dir: String, key: String,
      updates: DataFrame): (Int, Int) = {
    val table = graft.Tables.readCached(spark, dir)
    val ids = updates.select(col(key).cast("long")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val existing = table
      .select(col(key)).filter(col(key).isin(ids: _*)).distinct()
      .collect().map(_.getAs[Number](0).longValue()).toSet
    val inserts = updates.filter(!col(key).isin(existing.toSeq: _*))
      .select(table.schema.map(f =>
        (if (updates.columns.contains(f.name)) col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)): _*)
      .localCheckpoint(eager = true)
    val matchedIds = ids.filter(existing.contains)
    val r =
      if (matchedIds.nonEmpty)
        mergeRewrite(spark, dir, key, matchedIds, deletes = false) { (touched, _) =>
          val joined = touched.alias("t").join(
            broadcast(updates.columns.foldLeft(updates)((d, c) =>
              if (c == key) d else d.withColumnRenamed(c, s"__u_$c")).alias("u")),
            col(s"t.$key") === col(s"u.$key"), "left")
          val upd = updates.columns.filterNot(_ == key).foldLeft(joined) { (d, c) =>
            d.withColumn(c, coalesce(col(s"__u_$c"), col(c)))
          }
          upd.select(touched.columns.toIndexedSeq.map(c =>
            if (c == key) col(s"t.$key").as(key) else col(c)): _*)
        }
      else (0, manifest(spark, dir).count().toInt)
    if (!inserts.isEmpty) {
      inserts.coalesce(1).write.mode("append").parquet(dir)
      // stat the appended file into the manifest
      val m = manifest(spark, dir)
      val rows = m.collect().toSeq
      val known = rows.map(r => baseName(r.getAs[String]("file"))).toSet
      val added = partFiles(fsFor(spark, dir), dir).filterNot(st => known(st.getPath.getName))
      writeManifest(spark, dir, m.schema, rows ++ statNew(spark, added, inserts.schema, key))
    }
    r
  }

  /** Whether any of the sorted `ids` lies in [lo, hi]. Non-integral bounds
    * truncate toward zero, which only widens the range for integer ids:
    * a false hit rewrites one more file, a miss would lose the write. */
  private def anyIn(ids: Array[Long], lo: Any, hi: Any): Boolean = (lo, hi) match {
    case (l: Number, h: Number) =>
      val i = java.util.Arrays.binarySearch(ids, l.longValue)
      val j = if (i >= 0) i else -i - 1
      j < ids.length && ids(j) <= h.longValue
    case (null, _) | (_, null) => false // a file with no non-null key
    case _ => true
  }

  /** Shared pruned-rewrite protocol: locate hit files via the manifest,
    * rewrite them through `transform(touched, keyCond)`, swap files,
    * patch the manifest, verify post-state. `deletes` relaxes the
    * row-conservation guard to "never grows". */
  private def mergeRewrite(spark: SparkSession, dir: String, key: String,
      ids: Seq[Long], deletes: Boolean)(
      transform: (DataFrame, Column) => DataFrame): (Int, Int) = {
    require(ids.nonEmpty, "merge needs a non-empty affected-id set")
    val m = manifest(spark, dir)
    val rows = m.collect().toSeq
    val sortedIds = ids.distinct.sorted.toArray
    val (hitRows, keep) = rows.partition(r =>
      anyIn(sortedIds, r.getAs[Any]("kmin"), r.getAs[Any]("kmax")))
    val hits = hitRows.map(_.getAs[String]("file")).sorted
    val total = rows.length
    val rowsBefore = rows.map(_.getAs[Long]("cnt")).sum
    if (hits.isEmpty) return (0, total)

    // the append only adds files, so the hit files it reads stay intact
    // until they are deleted below: `staged` needs no materialization first
    val staged = transform(graft.Tables.readFiles(spark, dir, hits), col(key).isin(ids: _*))
    staged.write.mode("append").parquet(dir)
    val fs = fsFor(spark, dir)
    val undeleted = hits.filterNot(h => fs.delete(new Path(new java.net.URI(h)), false))
    if (undeleted.nonEmpty)
      throw new IllegalStateException(
        s"mergeSet torn: appended updated rows but ${undeleted.size} hit file(s) " +
          s"survived deletion (${undeleted.take(3).mkString(", ")}…) — " +
          "the directory now holds duplicates; restore from the manifest or re-run cleanup")
    // survivors keep their manifest rows; only the files the append added
    // are statted
    val keepNames = keep.map(r => baseName(r.getAs[String]("file"))).toSet
    val added = partFiles(fs, dir).filterNot(st => keepNames(st.getPath.getName))
    val next = keep ++ statNew(spark, added, staged.schema, key)
    // a staged partition that filtered to zero rows still writes an empty
    // part file; it carries no data and no manifest row — remove it so the
    // manifest-vs-directory guard below stays meaningful
    val tracked = next.map(r => baseName(r.getAs[String]("file"))).toSet
    added.filterNot(st => tracked(st.getPath.getName)).foreach { st =>
      require(st.getLen < 16 * 1024, s"untracked non-trivial file ${st.getPath} — refusing to clean")
      fs.delete(st.getPath, false)
    }
    // post-state guard (the append → delete → manifest-overwrite protocol
    // is not atomic without a table-format transaction log): verify row
    // conservation and manifest-vs-directory agreement BEFORE publishing
    // the new manifest, so a torn merge fails loudly instead of being
    // read as clean data
    val rowsAfter = next.map(_.getAs[Long]("cnt")).sum
    if (if (deletes) rowsAfter > rowsBefore else rowsAfter != rowsBefore)
      throw new IllegalStateException(
        s"merge torn: row count changed $rowsBefore -> $rowsAfter during merge")
    val dirFiles = partFiles(fs, dir).map(_.getPath.getName).toSet
    if (tracked != dirFiles)
      throw new IllegalStateException(
        s"mergeSet torn: manifest lists ${tracked.size} part files but the " +
          s"directory holds ${dirFiles.size} (diff: " +
          s"${(tracked diff dirFiles).take(3)} / ${(dirFiles diff tracked).take(3)})")
    writeManifest(spark, dir, m.schema, next)
    (hits.length, total)
  }
}
