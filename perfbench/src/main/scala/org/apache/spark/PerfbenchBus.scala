package org.apache.spark

/** The listener bus is private to Spark; the benchmark's ledger needs only
  * to wait for it to deliver every posted event before reading.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
