package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Bridge to the listener bus (private[spark]): specs that count
  * listener events read their counters only after every event posted so
  * far has been delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `f`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[A](sc: SparkContext)(f: => A): (A, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }
}
