package org.apache.spark

/** The one engine-internal handle the benchmark needs: a flush of the
  * asynchronous listener bus, so span counters are read only after every
  * event posted before the span closed has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
