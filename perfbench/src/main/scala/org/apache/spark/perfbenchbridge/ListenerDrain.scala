package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so a
  * traced call's task and job events are all counted before its metrics
  * are read. `waitUntilEmpty` is package-private to Spark.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
