package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it after
  * each accounted call so per-group job/task totals are complete when
  * read, instead of sleeping and hoping the bus caught up. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
