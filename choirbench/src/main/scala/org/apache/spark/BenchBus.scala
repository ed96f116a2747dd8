package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark's
  * tracer needs it to read complete counts at the end of a run. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
