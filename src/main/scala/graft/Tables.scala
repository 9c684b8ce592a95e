package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{IntegerType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver-generated test data.
  *
  * Mirrors the role of ArcadeDB's bucket/type scan entry points
  * (reference: engine/src/main/java/com/arcadedb/query/sql/executor/
  * FetchFromTypeExecutionStep.java:42) — in Spark a "type scan" is just a
  * (columnar, partition-parallel) parquet read; Catalyst collapses filters
  * and projections into the scan (ScanWithFilterStep.java:43 analog is free).
  */
object Tables {
  /** Parquet schema memo. `spark.read.parquet(dir)` without a schema runs
    * a one-task footer-inference job on every call, and a mutation reads
    * its table several times (the table, its pre-image, the reads after
    * it). An entry is keyed on the directory's [[listing]] and
    * on the session confs that change how parquet types convert, so a read
    * of an unchanged state reuses the inferred schema. Any rewrite changes
    * the listing, because Spark part-file names are unique per write, so the
    * next read infers again: one inference per table state. A
    * `StructType` is session-independent, so entries survive session
    * recycling. One entry per directory (its latest state), and the map
    * is emptied when it reaches [[MemoCap]] directories. */
  private final case class Stamp(files: Seq[(String, Long, Long)], confs: Seq[Option[String]])
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]()
  private val MemoCap = 1024
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** The memo key of `path`, or None when the path cannot be memoized and
    * must read exactly as `spark.read.parquet` would: a missing path or a
    * glob (the listing fails), a listing with no data file (keeps Spark's
    * own "unable to infer schema" error), or one with subdirectories (a
    * partitioned store, whose schema also carries partition columns). */
  private def stamp(spark: SparkSession, path: String): Option[Stamp] =
    listing(spark, path)
      .filter(sts => !sts.exists(_.isDirectory) &&
        sts.exists(!_.getPath.getName.startsWith("_")))
      .map(sts => Stamp(entries(sts), SchemaConfs.map(spark.conf.getOption)))

  /** The entries of `path` except `.` names (checksum and temporary
    * files), sorted by name, from one driver-side `listStatus`; None when
    * `path` cannot be listed (a missing path or a glob). Every memo of a
    * directory's state is keyed on its [[entries]]. */
  private[graft] def listing(spark: SparkSession, path: String): Option[Seq[FileStatus]] =
    try {
      val p = new Path(path)
      Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
        .filterNot(_.getPath.getName.startsWith(".")).sortBy(_.getPath.getName))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Name, length and mtime of each entry of a [[listing]]. */
  private[graft] def entries(sts: Seq[FileStatus]): Seq[(String, Long, Long)] =
    sts.map(st => (st.getPath.getName, st.getLen, st.getModificationTime))

  /** The schema `spark.read.parquet(dir)` infers, from the memo when the
    * directory's listing is unchanged; None when `dir` is not memoizable
    * (see [[stamp]]). A miss stores its result only if the listing did not
    * change during inference. */
  private def schemaOf(spark: SparkSession, dir: String): Option[StructType] =
    stamp(spark, dir).map { st =>
      val hit = schemaMemo.get(dir)
      if (hit != null && hit._1 == st) hit._2
      else {
        val s = spark.read.parquet(dir).schema
        if (stamp(spark, dir).contains(st)) put(dir, st, s)
        s
      }
    }

  private def put(dir: String, st: Stamp, s: StructType): Unit = {
    if (schemaMemo.size >= MemoCap) schemaMemo.clear()
    schemaMemo.put(dir, (st, s))
  }

  /** Memoize the schema of the state its writer just published at `dir`,
    * written from a frame of schema `schema`, so the next read infers
    * nothing. Spark records that schema in every parquet footer it
    * writes, inference returns it, and a read makes either nullable. */
  private[graft] def remember(spark: SparkSession, dir: String, schema: StructType): Unit =
    stamp(spark, dir).foreach(put(dir, _, schema))

  /** Parquet read of `path` that infers its schema once per table state
    * (see [[schemaMemo]]). */
  def readCached(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path).fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  /** Table paths resolve through the [[graft.schema.TypeCatalog]] (the
    * LocalSchema analog) — no caller hard-codes physical locations. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = graft.schema.TypeCatalog.default(name).path
      .getOrElse(throw new IllegalArgumentException(s"abstract type $name"))
    readCached(spark, path(dir))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  /** `events.ts` has drifted across testdata generations: early drops wrote
    * parquet TIMESTAMP(NANOS) — which Spark 4 rejects outright
    * (PARQUET_TYPE_ILLEGAL), so it is read as raw ns longs under the
    * `nanosAsLong` legacy flag — while current drops write TIMESTAMP(MICROS)
    * (surfaced as TIMESTAMP_NTZ; the session runs in UTC, so the NTZ→LTZ
    * cast below is value-preserving and matches DuckDB's naive-timestamp
    * read). [[normalizeTs]] probes the *loaded* type and converges every
    * layout onto µs `TimestampType`, so no consumer hard-codes a layout.
    * The nanosAsLong conf is set at session build ([[GraftSession]]); the
    * guard below only rescues ad-hoc sessions and never flips an
    * already-configured one mid-plan.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(spark, dir, "events"))
  }

  /** Normalize a drifted event-time column to session-tz µs TimestampType,
    * whatever physical layout the parquet carried (see [[events]]).
    * Tolerant by design: a future regeneration should fail TestdataSpec's
    * readable assertion, not 28 opaque query tests. */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType | IntegerType => // legacy raw-ns long → µs timestamp
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn(colName, df(colName).cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.$colName has unsupported physical type $other — extend Tables.normalizeTs")
    }

  /** Streaming twin of [[events]]: probe the directory's physical schema
    * with a footer-only batch read (file streams require an explicit
    * schema), then apply the same [[normalizeTs]] branch to the stream.
    *
    * PRECONDITION: `srcDir` must already contain at least one parquet
    * file — the probe needs a footer. On the canonical empty-directory
    * stream start (files arrive only after `start()`), stage one file
    * first, or pass the layout explicitly via `schema`. */
  def eventsStream(spark: SparkSession, srcDir: String,
      options: Map[String, String] = Map.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical = schema.getOrElse {
      try spark.read.parquet(srcDir).schema
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalStateException(
          s"eventsStream($srcDir) probes the physical ts layout from an existing " +
            "parquet file; the directory is empty — stage one file first or pass " +
            "schema= explicitly", e)
      }
    }
    normalizeTs(spark.readStream.schema(physical).options(options).parquet(srcDir))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
