package org.apache.spark

/** The listener bus delivers events asynchronously; the harness waits for
  * it to drain before reading its counters. `listenerBus` is package-private
  * to Spark, hence this file's package. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
