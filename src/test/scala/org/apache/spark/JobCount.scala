package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of test code starts. The listener bus
  * delivers events asynchronously, so the count drains it before and
  * after the block; the drain is `private[spark]`, hence this package.
  */
object JobCount {
  def of[A](sc: SparkContext)(body: => A): (A, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get())
    } finally sc.removeSparkListener(l)
  }
}
