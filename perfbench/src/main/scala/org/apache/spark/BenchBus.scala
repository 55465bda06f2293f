package org.apache.spark

/** Lets the benchmark wait until every queued listener event is delivered,
  * so counters read after an action include that action's tasks. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
