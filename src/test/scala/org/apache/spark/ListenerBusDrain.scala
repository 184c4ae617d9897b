package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs that count
  * events from an asynchronous listener wait on it before reading.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
