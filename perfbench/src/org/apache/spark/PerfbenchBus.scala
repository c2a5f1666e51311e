package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer drains it at every span boundary so each listener event is
  * attributed to the span that caused it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
