package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's totals only after every event posted so far has been
  * handled. `waitUntilEmpty` is package-private to Spark. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
