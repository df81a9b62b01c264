package org.apache.spark

/** Test access to the `private[spark]` listener bus: wait until every posted
  * event has been delivered, so a listener's counts for a finished action
  * are complete before a spec reads them. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
