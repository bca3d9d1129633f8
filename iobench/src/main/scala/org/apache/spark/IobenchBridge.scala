package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * waits on it so every event of an operation is counted before the next
  * operation starts. */
object IobenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
