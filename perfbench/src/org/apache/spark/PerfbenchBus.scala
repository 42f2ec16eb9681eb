package org.apache.spark

/** Bridge to the listener bus (private[spark]): the benchmark's trace
  * recorder reads its counters only after every event of the run has
  * been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
