package org.apache.spark

/** Benchmark helper: wait until Spark's listener bus has delivered every
  * queued event, so the traced run can attribute listener counters to
  * the cycle that produced them. Lives in Spark's package because the
  * bus is package-private; graft itself never calls it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
