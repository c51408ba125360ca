package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so
  * counts read after a unit of work include all of its jobs. The bus is
  * Spark-private, hence this object's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
