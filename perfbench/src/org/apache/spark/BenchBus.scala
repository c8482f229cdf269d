package org.apache.spark

/** Lets the benchmark's listener wait for the asynchronous listener bus to
  * deliver every event posted so far (the bus is package-private).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
