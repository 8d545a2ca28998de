package org.apache.spark

/** The one Spark-internal call the specs need: wait until the listener
  * bus has delivered every posted event. */
object SpecAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
