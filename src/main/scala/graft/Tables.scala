package graft

import org.apache.hadoop.fs.Path
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
    * its table several times (the table, its stats manifest, the reads
    * after it). An entry is keyed on the directory's listing (name, length
    * and mtime of every non-hidden entry, one driver-side `listStatus`) and
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
  private def stamp(spark: SparkSession, path: String): Option[Stamp] = {
    val listed =
      try {
        val p = new Path(path)
        Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq)
      } catch { case scala.util.control.NonFatal(_) => None }
    listed
      .map(_.filterNot(_.getPath.getName.startsWith(".")))
      .filter(sts => !sts.exists(_.isDirectory) &&
        sts.exists(!_.getPath.getName.startsWith("_")))
      .map(sts => Stamp(
        sts.map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sortBy(_._1),
        SchemaConfs.map(spark.conf.getOption)))
  }

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
        if (stamp(spark, dir).contains(st)) {
          if (schemaMemo.size >= MemoCap) schemaMemo.clear()
          schemaMemo.put(dir, (st, s))
        }
        s
      }
    }

  /** Parquet read of `path` that infers its schema once per table state
    * (see [[schemaMemo]]). */
  def readCached(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path).fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  /** Read some of `dir`'s files with the schema of the whole directory, so
    * a pruned read has the shape of the full one and infers nothing when
    * the directory's state is memoized. */
  def readFiles(spark: SparkSession, dir: String, files: Seq[String]): DataFrame =
    schemaOf(spark, dir).fold(spark.read.parquet(files: _*))(s => spark.read.schema(s).parquet(files: _*))

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
