package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; counters are read only after
  * the listener bus has delivered every event posted so far. The bus is
  * package-private to Spark, hence this one-method bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
