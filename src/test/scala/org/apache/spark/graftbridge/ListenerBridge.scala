package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus: block until every posted event
  * has reached the registered listeners, so a listener's counts are
  * complete when an action returns.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
