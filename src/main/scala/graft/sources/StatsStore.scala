package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level data skipping via a min/max manifest — the distributed
  * replacement for the reference's LSM range and composite indexes
  * (index/lsm/LSMTreeIndex.java:78 range scans, exec/FetchFromIndexStep.java;
  * SURVEY.md §4.1, §4.3), and Delta/Iceberg-style file stats.
  *
  * The manifest of `dir` is one file inside it, [[StatsFile]]: the table's
  * data schema, the keys it describes and, per data file, its name
  * relative to `dir`, its rows and its least and greatest value of each
  * key. One key means a range-clustered layout (each file covers a narrow
  * key range, the sorted-run property an LSM level has on disk); two keys
  * mean a Z-order layout, which skips files on either key. A rewrite
  * stages the manifest with the data, so one directory swap ([[Publish]])
  * publishes both, and a copy of the directory carries it along. A
  * manifest is trusted only while it names exactly the data files of
  * `dir`: a writer that bypasses StatsStore leaves it unused, not stale.
  *
  * The driver reads and writes the file through the directory's Hadoop
  * FileSystem, with no Spark job, and memoizes it keyed on the directory's
  * listing ([[graft.Tables.listing]]), which any rewrite changes (Spark
  * part-file names are unique per write). Its entries are O(files), the
  * size of the file list a table-format commit writes anyway. A range scan
  * picks its files on the driver and reads them with the recorded schema,
  * so it runs no job until its frame is read. Partition pruning
  * (bucket_date in [[TimeSeriesStore]]) handles time; this handles any
  * OTHER clustered key.
  *
  * New files are statted from their parquet footers on the driver: the
  * row count is the sum of the row groups', and an integral key's min/max
  * comes from the column-chunk statistics the writer already recorded. A
  * key of another type, or a file whose chunks carry no statistics, is
  * statted by a per-file aggregate job instead. So on integral keys the
  * one Spark job of a keyed write ([[mergeSet]], [[mergeDelete]]) is the
  * rewrite of the files it hits.
  */
object StatsStore {

  /** The manifest's file in a table directory. Spark's file index skips
    * `_` names other than the parquet summaries `_metadata` and
    * `_common_metadata`. */
  private val StatsFile = "_graft_stats"

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)

  private def paths(dir: String)(file: String): String = new Path(dir, file).toString

  /** The data files of a listing: the entries Spark's file index reads. */
  private def dataFiles(listing: Option[Seq[FileStatus]]): Seq[FileStatus] =
    listing.getOrElse(Nil).filterNot(_.getPath.getName.startsWith("_"))

  /** A data file's name, rows, and least and greatest value of each key
    * (null where it holds no non-null value, as for a file without rows). */
  private[graft] final case class FileStats(file: String, cnt: Long, min: Row, max: Row)

  private final case class Manifest(schema: StructType, keys: Seq[String], files: Seq[FileStats]) {
    def keyFields: Seq[StructField] = keys.map(schema(_))
  }

  /** The manifest read per table dir, with the [[graft.Tables.entries]] of
    * the listing it was read under; emptied at [[MemoCap]] tables, as
    * [[graft.Tables.readCached]]'s schema memo is. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], Option[Manifest])]()
  private val MemoCap = 1024

  /** The manifest of `dir`; None when it has none, or one that does not
    * name exactly its data files or cannot be decoded. */
  private def manifest(spark: SparkSession, dir: String): Option[Manifest] =
    graft.Tables.listing(spark, dir).flatMap { sts =>
      val at = graft.Tables.entries(sts)
      val hit = memo.get(dir)
      if (hit != null && hit._1 == at) hit._2
      else if (!sts.exists(_.getPath.getName == StatsFile)) None
      else {
        val names = dataFiles(Some(sts)).map(_.getPath.getName)
        val m = readStats(fsFor(spark, dir), dir).filter(_.files.map(_.file).sorted == names)
        if (memo.size >= MemoCap) memo.clear()
        memo.put(dir, (at, m))
        m
      }
    }

  /** The keys the manifest of `dir` describes; empty when it has none. */
  private[graft] def keys(spark: SparkSession, dir: String): Seq[String] =
    manifest(spark, dir).fold(Seq.empty[String])(_.keys)

  /** The entries of the manifest of `dir`; empty when it has none. */
  private[graft] def fileStats(spark: SparkSession, dir: String): Seq[FileStats] =
    manifest(spark, dir).fold(Seq.empty[FileStats])(_.files)

  /** The stats file's JSON: the schema, the keys, and per file its name,
    * rows, and min and max bounds as text, null for a null bound. */
  private final case class StatsDoc(schema: String, keys: Seq[String], files: Seq[Seq[String]])
  private val Json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Write `m` as the stats file of `dir`: to a temporary `.` name, then
    * renamed over the file it replaces. A bound is held as Spark's cast
    * to string in UTC, which casts back exactly for the numeric (NaN
    * included), string, date and timestamp keys a manifest holds. */
  private def writeStats(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val types = m.keyFields.map(_.dataType)
    def text(b: Row) = types.indices.map(i =>
      if (b.isNullAt(i)) null else Cast(Literal.create(b.get(i), types(i)), StringType, Some("UTC")).eval().toString)
    val doc = StatsDoc(m.schema.json, m.keys, m.files.map(f => Seq(f.file, f.cnt.toString) ++ text(f.min) ++ text(f.max)))
    val fs = fsFor(spark, dir)
    val tmp = new Path(dir, s".$StatsFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(Json.writeValueAsBytes(doc)) finally out.close()
    FileContext.getFileContext(fs.getUri, fs.getConf).rename(tmp, new Path(dir, StatsFile), Options.Rename.OVERWRITE)
  }

  /** The manifest in the stats file of `dir`; None when it cannot be read
    * or decoded. */
  private def readStats(fs: FileSystem, dir: String): Option[Manifest] =
    try {
      val in = fs.open(new Path(dir, StatsFile))
      val doc = try Json.readValue(in: java.io.InputStream, classOf[StatsDoc]) finally in.close()
      val schema = DataType.fromJson(doc.schema).asInstanceOf[StructType]
      val types = doc.keys.map(schema(_).dataType)
      require(types.nonEmpty)
      def bounds(vs: Seq[String]) = Row.fromSeq(vs.zip(types).map { case (v, t) =>
        if (v == null) null else CatalystTypeConverters.convertToScala(Cast(Literal(v), t, Some("UTC")).eval(), t)
      })
      Some(Manifest(schema, doc.keys, doc.files.map { f =>
        require(f.length == 2 + 2 * types.length)
        FileStats(f.head, f(1).toLong, bounds(f.slice(2, 2 + types.length)), bounds(f.drop(2 + types.length)))
      }))
    } catch { case NonFatal(_) => None }

  /** Manifest entries of newly written `files`. Integral keys are read
    * from the parquet footers on the driver; otherwise one single-task
    * aggregate job reads the files (one partition needs no shuffle before
    * the per-file aggregate). */
  private def statNew(spark: SparkSession, files: Seq[FileStatus], m: Manifest): Seq[FileStats] = {
    val keyFields = m.keyFields
    val empty = Row.fromSeq(keyFields.map(_ => null))
    val footers =
      if (keyFields.forall(f => integral(f.dataType)))
        files.map(footerStats(spark.sparkContext.hadoopConfiguration, _, keyFields, empty))
      else Nil
    if (footers.nonEmpty && footers.forall(_.isDefined)) footers.flatten
    else if (files.isEmpty) Nil
    else {
      val stats = spark.read.schema(m.schema).parquet(files.map(_.getPath.toString): _*).coalesce(1)
        .groupBy(col("_metadata.file_name"))
        .agg(count(lit(1)), struct(m.keys.map(k => min(col(k))): _*), struct(m.keys.map(k => max(col(k))): _*))
        .collect().map(r => r.getString(0) -> FileStats(r.getString(0), r.getLong(1), r.getStruct(2), r.getStruct(3)))
        .toMap
      files.map(st => stats.getOrElse(st.getPath.getName, FileStats(st.getPath.getName, 0, empty, empty)))
    }
  }

  /** Whether a manifest key of type `t` is matched against long ids. */
  private[sources] def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The stats of one file from its parquet footer; None when the footer
    * cannot answer (a key column absent from a row group, or a chunk
    * without statistics). */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration, st: FileStatus,
      keyFields: Seq[StructField], empty: Row): Option[FileStats] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    val cnt = blocks.map(_.getRowCount).sum
    if (cnt == 0) return Some(FileStats(st.getPath.getName, 0, empty, empty))
    val bounds = keyFields.map { f =>
      val chunks = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == f.name).flatMap(chunkBounds))
      if (chunks.exists(_.isEmpty)) None
      else chunks.flatten.flatten match {
        case Nil => Some((null, null)) // no non-null key: null bounds, as min/max give
        case bs => Some((typed(bs.map(_._1).min, f.dataType), typed(bs.map(_._2).max, f.dataType)))
      }
    }
    if (bounds.exists(_.isEmpty)) None
    else Some(FileStats(st.getPath.getName, cnt,
      Row.fromSeq(bounds.map(_.get._1)), Row.fromSeq(bounds.map(_.get._2))))
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
    * table with a manifest is re-clustered on its keys into as many files
    * as it names, with a new manifest; any other table is written as it
    * is. Either way through a staging directory ([[Publish]]), so `next`
    * may read `dir` itself and needs no materialization first. */
  def overwrite(next: DataFrame, dir: String): Unit = {
    val spark = next.sparkSession
    manifest(spark, dir) match {
      case None => Publish.overwrite(next, dir)
      case Some(m) => publish(next, dir, m.keys, m.files.length.max(1))
    }
  }

  /** Cluster `df` on `keys` into a staging directory, stat its files into
    * a manifest beside them, and swap both in with one rename. */
  private def publish(df: DataFrame, dir: String, keys: Seq[String], numFiles: Int): Unit = {
    val spark = df.sparkSession
    val staging = Publish.stage(clustered(df, keys, numFiles), dir)
    val m = Manifest(df.schema, keys, Nil)
    writeStats(spark, staging, m.copy(files = statNew(spark, dataFiles(graft.Tables.listing(spark, staging)), m)))
    Publish.swapIn(spark, staging, dir)
    graft.Tables.remember(spark, dir, m.schema)
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
    * the index that built it): scans revert to full reads, and the
    * harmless clustered layout stays. A manifest another index built
    * stays. */
  def dropManifest(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    if (keys(spark, dir) == cols) fsFor(spark, dir).delete(new Path(dir, StatsFile), false)

  /** Range scan of `key` in [lo, hi], with the residual filter applied,
    * plus (filesRead, filesTotal) so callers and tests can observe the
    * pruning. It reads only the files whose range intersects [lo, hi] when
    * the manifest covers `key`, and the whole table otherwise. The files
    * are picked on the driver and read with the manifest's schema, so the
    * scan runs no job until its frame is read. */
  def rangeScan(spark: SparkSession, dir: String, key: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) =
    manifest(spark, dir).filter(_.keys.contains(key)) match {
      case Some(m) =>
        val i = m.keys.indexOf(key)
        val hit = m.files.filter(f => overlaps(f.min.get(i), f.max.get(i), lo, hi)).map(_.file).sorted
        val read = spark.read.schema(m.schema)
        val pruned = if (hit.isEmpty) read.parquet(dir).limit(0) else read.parquet(hit.map(paths(dir)): _*)
        (pruned.filter(col(key).between(lo, hi)), hit.length, m.files.length)
      case None =>
        val n = dataFiles(graft.Tables.listing(spark, dir)).length
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
    * ONLY the files whose manifest range of `key` intersects an affected
    * id — the Delta/Iceberg MERGE shape. Protocol: append the updated rows
    * of the HIT files as new part files, delete the hit files, and replace
    * the manifest (the kept entries plus stats of the new files);
    * untouched files are never read, rewritten, or re-statted. `ids` is
    * the broadcast-sized affected set (writes touch few rows). Returns
    * (filesRewritten, filesTotal) so callers and tests can observe the
    * pruning. Unlike a table format's log, the append-then-delete window
    * is not atomic. */
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
    * rewrite them through `transform(touched, keyCond)`, and replace the
    * manifest. `deletes` relaxes the row-conservation guard to "never
    * grows". */
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
    val staged = transform(spark.read.schema(m.schema).parquet(hits.map(paths(dir)): _*),
      col(key).isin(ids: _*))
    staged.write.mode("append").parquet(dir)
    val fs = fsFor(spark, dir)
    val undeleted = hits.filterNot(h => fs.delete(new Path(dir, h), false))
    if (undeleted.nonEmpty)
      throw new IllegalStateException(
        s"mergeSet torn: appended updated rows but ${undeleted.size} hit file(s) " +
          s"survived deletion (${undeleted.take(3).mkString(", ")}…) — " +
          "the directory now holds duplicates; restore from the manifest or re-run cleanup")
    // only the files the append added are statted; one without rows (a
    // staged partition that filtered to none) is removed
    val kept = keep.map(_.file).toSet
    val (empty, added) = statNew(spark,
      dataFiles(graft.Tables.listing(spark, dir)).filterNot(st => kept(st.getPath.getName)), m).partition(_.cnt == 0)
    empty.foreach(f => fs.delete(new Path(dir, f.file), false))
    val next = keep ++ added
    // the append → delete → replace protocol is not atomic without a
    // table-format transaction log: check row conservation BEFORE
    // replacing the manifest, so a torn merge fails loudly
    val rowsAfter = next.map(_.cnt).sum
    if (if (deletes) rowsAfter > rowsBefore else rowsAfter != rowsBefore)
      throw new IllegalStateException(
        s"merge torn: row count changed $rowsBefore -> $rowsAfter during merge")
    writeStats(spark, dir, m.copy(files = next))
    graft.Tables.remember(spark, dir, m.schema)
    (hits.length, total)
  }
}
