package org.apache.spark

/** Package-access door to the listener bus, whose drain is
  * `private[spark]`: the tracer drains it at span boundaries so every
  * event lands in the span that was open when it was posted. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
