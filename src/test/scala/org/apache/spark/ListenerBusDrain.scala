package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * test's listener has seen every job that already ran. The bus is private
  * to Spark, hence this object's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
