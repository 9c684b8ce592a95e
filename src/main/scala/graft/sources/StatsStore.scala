package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level data skipping via a min/max manifest — the distributed
  * replacement for the reference's LSM range and composite indexes
  * (index/lsm/LSMTreeIndex.java:78 range scans, exec/FetchFromIndexStep.java;
  * SURVEY.md §4.1, §4.3), and Delta/Iceberg-style file stats.
  *
  * The manifest of `dir` lives at `$dir-manifest`: one row per data file,
  * `file` (its path), `cnt` (its rows), and `min` / `max`, two structs with
  * one field per key holding the file's least and greatest value of that
  * key. The struct fields name the keys, so the manifest says which columns
  * it describes. One key means a range-clustered layout (each file covers a
  * narrow key range, the sorted-run property an LSM level has on disk); two
  * keys mean a Z-order layout, which skips files on either key. StatsStore
  * alone reads and writes the manifest: every rewrite of a table goes
  * through [[overwrite]], which rebuilds it, and every keyed write patches
  * it.
  *
  * The manifest's rows live on the driver: one row per file, O(files)
  * driver state, the size of the file list a table-format commit writes
  * anyway. They are memoized per table and keyed on the manifest
  * directory's listing, so a manifest this JVM wrote or read before costs
  * one `listStatus` and no Spark job; any rewrite of the manifest changes
  * the listing (Spark part-file names are unique per write), so a stale
  * copy is never served.
  *
  * Read path: a range predicate on a key the manifest covers picks, on the
  * driver, the files whose [min, max] intersects the range, and reads ONLY
  * those. A distributed pass over a manifest of a few rows would cost two
  * Spark jobs to return what the driver already holds. Partition pruning
  * (bucket_date in [[TimeSeriesStore]]) handles time; this handles any
  * OTHER clustered key.
  *
  * New files are statted from their parquet footers on the driver: the
  * row count is the sum of the row groups', and an integral key's min/max
  * comes from the column-chunk statistics the writer already recorded, so
  * statting reads no data. A key of another type, or a file whose chunks
  * carry no statistics, is statted by a per-file aggregate job instead.
  *
  * Keyed writes ([[mergeSet]], [[mergeDelete]]) patch the manifest on the
  * driver: they pick the hit files from its rows, rewrite them, stat the
  * new files and write the patched manifest back. On integral keys every
  * Spark job they run writes data: the rewrite of the hit files and the
  * manifest write. Other key types add the statting job.
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

  /** One manifest row: a data file, its row count, and its least and
    * greatest value of each key (null where it holds no non-null value). */
  private final case class FileStats(file: String, cnt: Long, min: Row, max: Row)

  /** A manifest: its parquet schema and its rows. */
  private final case class Manifest(schema: StructType, files: Seq[FileStats]) {
    /** The keys it describes, in clustering order. A manifest in any other
      * format describes none, so it is never trusted. */
    def keys: Seq[String] = schema.find(_.name == "min").map(_.dataType) match {
      case Some(s: StructType) => s.fieldNames.toSeq
      case _ => Nil
    }
  }

  /** The manifests this JVM read or wrote, per table dir, each with the
    * listing (name, length, mtime of every non-hidden entry) of the
    * manifest directory it was read from or written to. Rows are
    * session-independent, so entries survive session recycling. One entry
    * per table, and the map is emptied when it reaches [[MemoCap]] tables,
    * as [[graft.Tables.readCached]]'s schema memo is. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], Manifest)]()
  private val MemoCap = 1024

  /** The listing of `dir`'s manifest directory, or None when it has none. */
  private def listing(spark: SparkSession, dir: String): Option[Seq[(String, Long, Long)]] =
    try Some(fsFor(spark, dir).listStatus(new Path(manifestDir(dir))).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sortBy(_._1))
    catch { case _: java.io.FileNotFoundException => None }

  private def remember(dir: String, at: Seq[(String, Long, Long)], m: Manifest): Unit = {
    if (memo.size >= MemoCap) memo.clear()
    memo.put(dir, (at, m))
  }

  /** The manifest of `dir`, or None when `dir` has none: from the memo when
    * its listing is unchanged, else collected (one job). A miss is
    * remembered only if the listing did not change during the read. */
  private def manifest(spark: SparkSession, dir: String): Option[Manifest] =
    listing(spark, dir).map { at =>
      val hit = memo.get(dir)
      if (hit != null && hit._1 == at) hit._2
      else {
        val df = graft.Tables.readCached(spark, manifestDir(dir))
        val m = Manifest(df.schema, Nil)
        val read = if (m.keys.isEmpty) m else m.copy(files = df.collect().toSeq.map(fileStats))
        if (listing(spark, dir).contains(at)) remember(dir, at, read)
        read
      }
    }

  /** The keys the manifest of `dir` describes; empty when it has none. */
  private[sources] def keys(spark: SparkSession, dir: String): Seq[String] =
    manifest(spark, dir).fold(Seq.empty[String])(_.keys)

  /** The (file, cnt, min, max) stats of `keys` per file of `df`. */
  private def keyStats(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("cnt"),
        struct(keys.map(k => min(col(k)).as(k)): _*).as("min"),
        struct(keys.map(k => max(col(k)).as(k)): _*).as("max"))

  /** Stats of newly written `files` (data schema `schema`) for manifest
    * `m`. Integral keys are read from the parquet footers on the driver;
    * otherwise one single-task aggregate job reads the files (one
    * partition needs no shuffle before the per-file aggregate). Files
    * holding no rows get no row, as in the aggregate. */
  private def statNew(spark: SparkSession, files: Seq[FileStatus], schema: StructType,
      m: Manifest): Seq[FileStats] = {
    val keyFields = m.schema("min").dataType.asInstanceOf[StructType].fields.toSeq
    val footers =
      if (keyFields.forall(f => integral(f.dataType)))
        files.map(footerStats(spark.sparkContext.hadoopConfiguration, _, keyFields))
      else Nil
    if (files.isEmpty) Nil
    else if (footers.nonEmpty && footers.forall(_.isDefined)) footers.flatten.flatten
    else keyStats(spark.read.schema(schema).parquet(files.map(_.getPath.toString): _*).coalesce(1),
      m.keys).collect().toSeq.map(fileStats)
  }

  private def fileStats(r: Row): FileStats =
    FileStats(r.getAs[String]("file"), r.getAs[Long]("cnt"), r.getAs[Row]("min"), r.getAs[Row]("max"))

  /** Whether a manifest key of type `t` is matched against long ids. */
  private[sources] def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The stats of one file from its parquet footer: Some(Nil) for a file
    * without rows, None when the footer cannot answer (a key column absent
    * from a row group, or a chunk without statistics). The `file` string
    * is the one `_metadata.file_path` gives for the same file. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration, st: FileStatus,
      keyFields: Seq[StructField]): Option[Seq[FileStats]] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    val cnt = blocks.map(_.getRowCount).sum
    if (cnt == 0) return Some(Nil)
    val bounds = keyFields.map { f =>
      val chunks = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == f.name).flatMap(chunkBounds))
      if (chunks.exists(_.isEmpty)) None
      else chunks.flatten.flatten match {
        case Nil => Some((null, null)) // no non-null key: null bounds, as min/max give
        case bs => Some((typed(bs.map(_._1).min, f.dataType), typed(bs.map(_._2).max, f.dataType)))
      }
    }
    if (bounds.exists(_.isEmpty)) None
    else Some(Seq(FileStats(filePath(st.getPath), cnt,
      Row.fromSeq(bounds.map(_.get._1)), Row.fromSeq(bounds.map(_.get._2)))))
  }

  /** The string `_metadata.file_path` gives for `p`: its URI, without an
    * empty authority (`file:/x`, not `file:///x`). */
  private def filePath(p: Path): String = {
    val u = p.toUri
    if (u.getAuthority != null && u.getAuthority.nonEmpty) u.toString
    else new java.net.URI(u.getScheme, null, u.getPath, u.getFragment).toString
  }

  /** The integral bounds of one column chunk: Some(None) when it holds only
    * nulls, None when its statistics cannot tell. */
  private def chunkBounds(c: ColumnChunkMetaData): Option[Option[(Long, Long)]] = {
    val s: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
    if (s == null || s.isEmpty) None
    else if (s.hasNonNullValue) (s.genericGetMin: Any, s.genericGetMax: Any) match {
      case (lo: Number, hi: Number) => Some(Some((lo.longValue, hi.longValue)))
      case _ => None
    }
    else if (s.isNumNullsSet && s.getNumNulls == c.getValueCount) Some(None)
    else None
  }

  /** `v` as the value Spark holds for integral type `t`. */
  private def typed(v: Long, t: DataType): Any = t match {
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
    case _ => v
  }

  /** Publish `m` as the manifest of `dir`, and remember it. Its rows live
    * on the driver, so the write reads nothing from the manifest it
    * replaces. */
  private def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit = {
    spark.createDataFrame(m.files.map(f => Row(f.file, f.cnt, f.min, f.max)).asJava, m.schema)
      .coalesce(1).write.mode("overwrite").parquet(manifestDir(dir))
    listing(spark, dir).foreach(remember(dir, _, m))
  }

  /** Write `df` range-clustered on `key` into `numFiles` files, with a
    * manifest on `key`. */
  def write(df: DataFrame, dir: String, key: String, numFiles: Int): Unit =
    publish(df, dir, Seq(key), numFiles)

  /** Write `df` Z-order-clustered on (keyA, keyB) into `numFiles` files,
    * with a manifest on both keys. */
  def writeZOrdered(df: DataFrame, dir: String, keyA: String, keyB: String,
      numFiles: Int): Unit =
    publish(df, dir, Seq(keyA, keyB), numFiles)

  /** The one table rewrite: publish `next` as the new state of `dir`. A
    * table with a manifest is re-clustered on the manifest's own keys into
    * as many files as the directory holds, and the manifest is rebuilt;
    * any other table is written as it is. Either way the write goes to a
    * staging directory that is swapped in ([[Publish]]), so `next` may read
    * `dir` itself and needs no materialization first. */
  def overwrite(next: DataFrame, dir: String): Unit = {
    val spark = next.sparkSession
    keys(spark, dir) match {
      case Nil => Publish.overwrite(next, dir)
      case ks => publish(next, dir, ks, partFiles(fsFor(spark, dir), dir).length.max(1))
    }
  }

  /** Cluster `df` on `keys`, stage and swap it in, and stat its files into
    * the manifest. The staging write reads the still-intact files of `dir`,
    * so `df` may read `dir` itself. The manifest's schema is the per-file
    * aggregate's, planned over the new files without running it. */
  private def publish(df: DataFrame, dir: String, keys: Seq[String], numFiles: Int): Unit = {
    val spark = df.sparkSession
    Publish.overwrite(clustered(df, keys, numFiles), dir)
    val m = Manifest(keyStats(spark.read.schema(df.schema).parquet(dir), keys).schema, Nil)
    writeManifest(spark, dir, m.copy(files = statNew(spark, partFiles(fsFor(spark, dir), dir), df.schema, m)))
  }

  /** `df` laid out for a manifest on `keys`: range-partitioned on one key,
    * or on the Z-value of two. */
  private def clustered(df: DataFrame, keys: Seq[String], numFiles: Int): DataFrame =
    keys match {
      case Seq(k) => df.repartitionByRange(numFiles, col(k))
      case Seq(a, b) =>
        df.withColumn("__z", zValue(df, a, b))
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      case _ => throw new IllegalArgumentException(
        s"a manifest covers one or two keys, not ${keys.mkString(", ")}")
    }

  /** Remove the manifest when it describes exactly `cols` (DROP INDEX of
    * the index that built it): scans on them revert to full reads; the
    * clustered data layout stays (harmless — just well-sorted files). A
    * manifest another index built stays. */
  def dropManifest(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    if (keys(spark, dir) == cols) fsFor(spark, dir).delete(new Path(manifestDir(dir)), true)

  /** Range scan of `key` in [lo, hi], with the residual filter applied,
    * plus (filesRead, filesTotal) so callers and tests can observe the
    * pruning. It reads only the files whose range intersects [lo, hi] when
    * the manifest covers `key`, and the whole table otherwise. The files
    * are picked on the driver, so the scan runs no job until its frame is
    * read. */
  def rangeScan(spark: SparkSession, dir: String, key: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) =
    manifest(spark, dir).filter(_.keys.contains(key)) match {
      case Some(m) =>
        val i = m.keys.indexOf(key)
        val hit = m.files.filter(f => overlaps(f.min.get(i), f.max.get(i), lo, hi)).map(_.file).sorted
        val pruned =
          if (hit.isEmpty) graft.Tables.readCached(spark, dir).limit(0)
          else graft.Tables.readFiles(spark, dir, hit)
        (pruned.filter(col(key).between(lo, hi)), hit.length, m.files.length)
      case None =>
        val n = partFiles(fsFor(spark, dir), dir).length
        (graft.Tables.readCached(spark, dir).filter(col(key).between(lo, hi)), n, n)
    }

  /** Whether a file whose key spans [min, max] may hold a key in [lo, hi],
    * as Spark compares them. Bounds truncate toward zero, which is exact
    * against integer lo and hi, and NaN sorts above every double; a file
    * with no non-null key holds none, and a non-numeric bound keeps the
    * file (the residual filter decides). */
  private def overlaps(min: Any, max: Any, lo: Long, hi: Long): Boolean = (min, max) match {
    case (null, _) | (_, null) => false
    case (a: Number, b: Number) => (b.doubleValue.isNaN || b.longValue >= lo) && a.longValue <= hi
    case _ => true
  }

  // ---------------- Z-order (2-D) clustering ----------------

  private val ZBits = 16

  /** Bit-interleaved Morton code of keys `a` and `b` of `df`, each linearly
    * scaled to [0, 2^16) from its global min/max (one aggregate job):
    * locality in EITHER key becomes locality in the Z-value, so
    * range-clustering files by Z gives min/max file skipping on BOTH
    * columns — the multi-column case a 1-D layout can't serve (Delta
    * OPTIMIZE ZORDER BY analog; SURVEY §4.1's FetchFromIndex replacement
    * for composite keys). */
  private def zValue(df: DataFrame, a: String, b: String): Column = {
    val stats = df.agg(
      min(col(a)).cast("double"), max(col(a)).cast("double"),
      min(col(b)).cast("double"), max(col(b)).cast("double"))
      .collect()(0)
    val hi = (1L << ZBits) - 1
    def scaled(c: String, i: Int): Column =
      if (stats.isNullAt(i) || stats.getDouble(i + 1) <= stats.getDouble(i)) lit(0L)
      else {
        val (lo, up) = (stats.getDouble(i), stats.getDouble(i + 1))
        ((col(c).cast("double") - lo) / (up - lo) * hi).cast("long").bitwiseAND(hi)
      }
    val (ia, ib) = (scaled(a, 0), scaled(b, 2))
    (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(ia, i).bitwiseAND(1), 2 * i))
        .bitwiseOR(shiftleft(shiftright(ib, i).bitwiseAND(1), 2 * i + 1))
    }
  }

  // ---------------- keyed MERGE with file-level pruning ----------------

  /** Keyed MERGE (UPDATE … SET over an affected-id set) that rewrites
    * ONLY the files whose manifest range of `key` intersects an
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
    val m = manifest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no stats manifest"))
    val i = m.keys.indexOf(key)
    require(i >= 0, s"the manifest of $dir covers ${m.keys.mkString(", ")}, not $key")
    val sortedIds = ids.distinct.sorted.toArray
    val (hitRows, keep) = m.files.partition(f => anyIn(sortedIds, f.min.get(i), f.max.get(i)))
    val hits = hitRows.map(_.file).sorted
    val total = m.files.length
    val rowsBefore = m.files.map(_.cnt).sum
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
    val keepNames = keep.map(f => baseName(f.file)).toSet
    val added = partFiles(fs, dir).filterNot(st => keepNames(st.getPath.getName))
    val next = keep ++ statNew(spark, added, staged.schema, m)
    // a staged partition that filtered to zero rows still writes an empty
    // part file; it carries no data and no manifest row — remove it so the
    // manifest-vs-directory guard below stays meaningful
    val tracked = next.map(f => baseName(f.file)).toSet
    added.filterNot(st => tracked(st.getPath.getName)).foreach { st =>
      require(st.getLen < 16 * 1024, s"untracked non-trivial file ${st.getPath} — refusing to clean")
      fs.delete(st.getPath, false)
    }
    // post-state guard (the append → delete → manifest-overwrite protocol
    // is not atomic without a table-format transaction log): verify row
    // conservation and manifest-vs-directory agreement BEFORE publishing
    // the new manifest, so a torn merge fails loudly instead of being
    // read as clean data
    val rowsAfter = next.map(_.cnt).sum
    if (if (deletes) rowsAfter > rowsBefore else rowsAfter != rowsBefore)
      throw new IllegalStateException(
        s"merge torn: row count changed $rowsBefore -> $rowsAfter during merge")
    val dirFiles = partFiles(fs, dir).map(_.getPath.getName).toSet
    if (tracked != dirFiles)
      throw new IllegalStateException(
        s"mergeSet torn: manifest lists ${tracked.size} part files but the " +
          s"directory holds ${dirFiles.size} (diff: " +
          s"${(tracked diff dirFiles).take(3)} / ${(dirFiles diff tracked).take(3)})")
    writeManifest(spark, dir, m.copy(files = next))
    (hits.length, total)
  }
}
