package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener counts are complete when it reads them. The bus is
  * visible only inside the `org.apache.spark` package.
  */
object SparkTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
