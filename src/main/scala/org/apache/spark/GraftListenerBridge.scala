package org.apache.spark

/** Bridge into the private[spark] listener bus: lets the dev-only
  * profiling tools drain pending listener events deterministically
  * instead of sleeping a fixed interval and racing late stage-completed
  * events (graft.TimeQuery's `stages` mode and the test suites'
  * job counters are the callers).
  */
object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
