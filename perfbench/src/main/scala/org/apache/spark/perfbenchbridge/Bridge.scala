package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The one place the benchmark reaches a `private[spark]` member: it waits
  * for the listener bus to deliver every queued event, so per-operation
  * listener counters are complete when they are read. */
object Bridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
