package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits until every event posted so far has reached its
  * listeners before it detaches them. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
