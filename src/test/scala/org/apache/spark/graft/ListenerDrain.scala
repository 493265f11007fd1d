package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so a
  * spec's job count is complete before it is read. Lives under
  * org.apache.spark because the listener bus is package-private.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
