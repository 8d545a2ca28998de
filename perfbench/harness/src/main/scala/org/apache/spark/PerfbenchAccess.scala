package org.apache.spark

/** The one Spark-internal call the harness needs: wait until the
  * listener bus has delivered every posted event. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
