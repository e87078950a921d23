package org.apache.spark

/** Lets the benchmark's tracer wait for Spark's asynchronous listener bus:
  * per-layer job and task counts are read only after every event posted so
  * far has reached every listener. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
