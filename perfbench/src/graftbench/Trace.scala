package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Traced runs only: a listener that records every job interval and task,
  * and spans the benchmark opens around each call into graft. A span's
  * Spark work is the jobs that started inside it and the tasks that ended
  * inside it; its driver gap is its wall time minus the union of its job
  * intervals (planning, manifest and footer IO, the commit protocol). */
final class Trace(sc: SparkContext) extends SparkListener {
  private final case class Task(end: Long, runMs: Long, shuffleBytes: Long)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time))) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += Task(e.taskInfo.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
  }

  import Trace.Work

  /** Work inside the wall-clock window `[t0, t1)` (epoch ms). */
  def work(t0: Long, t1: Long, wallMs: Double): Work = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val js = jobs.filter { case (s, _) => s >= t0 && s < t1 }
        .map { case (s, e) => (s, math.min(e, t1)) }.sortBy(_._1)
      var busy = 0L
      var cur = (-1L, -1L)
      js.foreach { case (s, e) =>
        if (s > cur._2) { if (cur._2 > cur._1) busy += cur._2 - cur._1; cur = (s, e) }
        else cur = (cur._1, math.max(cur._2, e))
      }
      if (cur._2 > cur._1) busy += cur._2 - cur._1
      val ts = tasks.filter(t => t.end >= t0 && t.end < t1)
      Work(wallMs, js.size, busy, ts.size, ts.map(_.runMs).sum,
        ts.map(_.shuffleBytes).sum, js.headOption.map(_._1 - t0))
    }
  }

  /** Closed spans, in order: (name, work). */
  val spans = mutable.ArrayBuffer.empty[(String, Work)]

  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - n0) / 1e6
      spans += name -> work(t0, System.currentTimeMillis() + 1, wall)
    }
  }

  /** Spans opened from here on belong to the timed loop. */
  var loopFrom = 0

  def timedSpans(name: String): Seq[Work] =
    spans.drop(loopFrom).collect { case (`name`, w) => w }.toSeq
}

object Trace {
  final case class Work(wallMs: Double, jobs: Int, busyMs: Long, tasks: Int,
                        taskMs: Long, shuffleBytes: Long,
                        firstJobMs: Option[Long]) {
    def gapMs: Double = math.max(0.0, wallMs - busyMs)
  }

  /** Milliseconds the JVM's collectors have spent so far. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}
