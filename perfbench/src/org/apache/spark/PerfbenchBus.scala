package org.apache.spark

/** Listener-bus drain for the benchmark's counters: the bus delivers
  * events asynchronously, so counters are read only after it is empty.
  * Lives in Spark's package because `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
