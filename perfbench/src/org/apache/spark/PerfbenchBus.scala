package org.apache.spark

/** Listener-bus barrier: listener events are delivered asynchronously,
  * so a trace read right after an action waits here until every event
  * posted so far has been handled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
