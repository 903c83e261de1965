package org.apache.spark

/** Harness access to the private[spark] listener bus drain: the
  * per-query attribution in graft.ScaleBench and graft.Probe must read
  * its counters AFTER every event of the just-finished query has been
  * delivered — a fixed sleep undercounts short queries (tail
  * events land in the next query's delta and inflate its ratio). */
object GraftListenerDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
