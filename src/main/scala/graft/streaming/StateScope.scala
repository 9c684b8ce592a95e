package graft.streaming

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Scoped state-partition sizing for the bounded streaming queries
  * (shared by [[graft.operators.StreamingOps]] and [[Sessionize]]).
  *
  * A streaming query pins its state-store partition count from
  * `spark.sql.shuffle.partitions` at START; every micro-batch then pays a
  * per-partition commit for EACH stateful operator (a stream-stream join
  * keeps four stores per partition), and the AvailableNow no-data
  * finalize batch runs those commits again over zero rows — measured
  * ~0.8 s of pure state machinery per batch at 8 partitions.
  *
  * Sizing: one state partition per source file, capped at the session's
  * shuffle default — for a file-stream source the file count is the
  * ingest-width proxy (a production feed landing many files per trigger
  * gets the session's full width; a bounded single-file replay gets one
  * store per operator). Data-derived, not a local-mode constant: the cap
  * follows the cluster, the floor follows the input.
  */
object StateScope {

  /** Parquet file count in a staged stream-source directory, listed
    * through the Hadoop FileSystem of the dir's scheme (local, hdfs://,
    * s3a://); None when the listing fails, e.g. on a missing dir. */
  def sourceFiles(spark: SparkSession, srcDir: String): Option[Int] = Try {
    val dir = new Path(srcDir)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .count(_.getPath.getName.endsWith(".parquet"))
  }.toOption

  /** One state partition per source file, capped at the session's shuffle
    * default; the default itself when the source cannot be listed. */
  def statePartitionsFor(spark: SparkSession, srcDir: String): Int = {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    sourceFiles(spark, srcDir).fold(shuffle)(n => math.max(1, math.min(shuffle, n)))
  }

  /** Run `body` (which must START its stream inside) with the session's
    * shuffle-partition count scoped down; restored afterwards so
    * concurrent batch work in the same session is unaffected. */
  def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }
}
