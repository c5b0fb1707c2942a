package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

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
    val out = listened(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
          .getOrElse(""))
    })(body)
    (out, seen.asScala.toSeq)
  }

  /** How many of the jobs `body` starts write files: jobs with a task
    * that reported written bytes. */
  def writing[A](sc: SparkContext)(body: => A): (A, Int) = {
    val jobOf = new ConcurrentHashMap[Integer, Integer]() // stage -> job
    val wrote = ConcurrentHashMap.newKeySet[Integer]()
    val out = listened(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(jobOf.put(_, e.jobId))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null &&
            e.taskMetrics.outputMetrics.bytesWritten > 0)
          Option(jobOf.get(e.stageId)).foreach(wrote.add)
    })(body)
    (out, wrote.size)
  }

  private def listened[A](sc: SparkContext, l: SparkListener)
                         (body: => A): A = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      out
    } finally sc.removeSparkListener(l)
  }
}
