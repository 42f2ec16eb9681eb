package org.apache.spark

/** Bridge to the listener bus (private[spark]): specs that count
  * listener events read their counters only after every event posted so
  * far has been delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
