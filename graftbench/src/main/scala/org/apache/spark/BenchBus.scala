package org.apache.spark

/** The listener bus is private[spark]; the benchmark drains it once, after
  * the timed phase, so its listener has seen every job before spans are
  * aggregated. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
