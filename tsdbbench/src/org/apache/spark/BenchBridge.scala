package org.apache.spark

/** The one Spark-internal call the traced mode needs: wait until every
  * posted listener event has been delivered, so a finished operation's jobs,
  * plans and progress events are all attributed before the next one starts.
  * Lives in this package because the listener bus is `private[spark]`. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
