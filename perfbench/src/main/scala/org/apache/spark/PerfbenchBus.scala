package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark's
  * traced runs need it so that every job of a span is recorded before the
  * span's numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
