package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced pass reads complete job, stage and query records. The bus is
  * private to Spark, hence this object's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
