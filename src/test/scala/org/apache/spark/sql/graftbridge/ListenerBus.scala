package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener counters are complete when read (`private[spark]`). */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
