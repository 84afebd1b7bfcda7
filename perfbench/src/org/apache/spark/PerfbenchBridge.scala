package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs: block until
  * the listener bus has delivered every event posted so far, so the events
  * of a finished span are attributed to that span and not the next one. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
