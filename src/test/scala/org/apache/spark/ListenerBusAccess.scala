package org.apache.spark

/** Test-side access to the package-private listener bus: wait until every
  * posted event has reached the listeners, so a count read afterwards is
  * complete. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
