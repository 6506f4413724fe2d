package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test-side view of the `private[spark]` listener bus. */
object ListenerBusProbe {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
