package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4", "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs started while it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** Smoke: every declared query runs end-to-end at sf0.001 without
  * throwing, and the flagship aggregate returns the expected group count.
  */
class QueriesSpec extends AnyFunSuite {
  import TestSession._

  for (q <- SparkEntry.allQueries) {
    test(s"${q.name} runs at sf0.001") {
      val n = q.fn(spark, sfDir).count()
      assert(n >= 0)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg groups by (returnflag, linestatus)") {
    val rows = SparkEntry.queries("q1_agg")(spark, sfDir).collect()
    assert(rows.length === 6)
    val qty = rows.map(_.getAs[Double]("sum_qty")).sum
    assert(qty > 0)
  }

  test("every oracle key exists in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
