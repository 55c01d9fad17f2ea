package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted
  * so far, so a listener's view is complete before it is read. The bus
  * is package-private; this is the one place the benchmark reaches it.
  */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
