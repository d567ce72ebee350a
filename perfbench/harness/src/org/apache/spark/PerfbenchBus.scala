package org.apache.spark

/** The listener bus delivers events asynchronously; the harness drains
  * it before reading what its listeners collected. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
