package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * listener's records only after the bus has delivered every event posted
  * so far. `listenerBus` is package-private to Spark, hence this shim. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
