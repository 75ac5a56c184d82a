package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so a
  * listener's counts are complete when the benchmark reads them. The bus is
  * visible only inside the `org.apache.spark` package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
