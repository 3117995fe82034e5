package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; a spec that counts
  * them waits until the bus has delivered every event posted so far. The
  * bus handle is package-private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
