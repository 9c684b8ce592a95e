package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import org.apache.spark.util.LongAccumulator

/** How often each skew cap cut data: the groups or buckets over the cap,
  * counted by the pass that applies the cap, so counting runs no Spark job
  * of its own. Counts accumulate per SparkContext, once per executed task:
  * a retried task or a recomputed plan counts its cuts again. */
object SkewCaps {
  /** `PropertyGraph.coPairs` groups wider than `MaxGroupWidth`. */
  val GroupWidth = "PropertyGraph.MaxGroupWidth"
  /** `TextPipeline.minhashDupPairs` band buckets over `BandBucketCap`. */
  val BandBucket = "TextPipeline.BandBucketCap"
  private val Caps = Seq(GroupWidth, BandBucket)

  private var counters: Option[(SparkContext, Map[String, LongAccumulator])] = None

  private def counter(spark: SparkSession, cap: String): LongAccumulator = synchronized {
    val sc = spark.sparkContext
    if (!counters.exists(_._1 eq sc))
      counters = Some(sc -> Caps.map(c => c -> sc.longAccumulator(s"graft.cap.$c")).toMap)
    counters.get._2(cap)
  }

  /** The boolean column `over`, each true row counted as one cut of `cap`.
    * Nondeterministic, so the optimizer never evaluates it twice a row. */
  private[graft] def counted(spark: SparkSession, cap: String)(over: Column): Column = {
    val cuts = counter(spark, cap)
    udf((o: Boolean) => { if (o) cuts.add(1); o }).asNondeterministic()(over)
  }

  /** Cuts per cap in `spark`'s SparkContext so far. */
  def hits(spark: SparkSession): Map[String, Long] = Caps.map(c => c -> counter(spark, c).sum).toMap
}
