package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to
  * deliver every posted event, so a traced pass's events are complete
  * before its listeners are removed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
