package org.apache.spark

/** The listener bus drain is private to Spark; the tracer needs it so
  * that every event of a span is delivered before the span closes. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
