package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of test code starts. The listener bus
  * delivers events asynchronously, so the count drains it before and
  * after the block; the drain is `private[spark]`, hence this package.
  */
object JobCount {
  def of[A](sc: SparkContext)(body: => A): (A, Int) = {
    val (out, jobs) = described(sc)(body)
    (out, jobs.size)
  }

  /** The description of each job `body` starts ("" when it set none),
    * e.g. Spark's "Listing leaf files and directories for N paths". */
  def described[A](sc: SparkContext)(body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
          .getOrElse(""))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
