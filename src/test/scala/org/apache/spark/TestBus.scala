package org.apache.spark

/** Lets a spec wait for Spark's asynchronous listener bus, so a listener's
  * counts are read only after every event posted so far has reached it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
