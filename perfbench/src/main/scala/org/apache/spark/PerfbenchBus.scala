package org.apache.spark

/** The listener bus delivers events on its own thread. Draining it at a
  * query boundary lets the benchmark attribute every stage, task, Catalyst
  * and micro-batch event to the query that caused it; the drain call is
  * `private[spark]`, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
