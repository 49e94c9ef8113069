package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the trace is written only after
  * every event posted so far has been delivered. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
