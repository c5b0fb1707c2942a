package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query job/stage profiler (guide §1): runs named SparkEntry queries
  * in the bench's session shape with a listener recording every Spark job
  * (wall time, description, task count). Reports the query's total wall,
  * the summed job wall, the DRIVER GAP (wall not covered by any running
  * job — planning, manifest IO, commit protocol), and the top jobs.
  *   sbt "runMain graft.tools.Profile sql_mv_star_2dim"
  */
object Profile {
  final case class JobRec(id: Int, desc: String, start: Long,
                          var end: Long = 0L,
                          var tasks: Int = 0, var stages: Int = 0,
                          execId: Long = -1L)

  final case class ExecRec(id: Long, desc: String, start: Long,
                           var end: Long = 0L)

  def main(args: Array[String]): Unit = {
    println(s"[profile] pid=${java.lang.ProcessHandle.current().pid()}")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    spark.range(1000).selectExpr("md5(cast(id as string)) m")
      .agg("m" -> "max").collect()

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val execs = mutable.ArrayBuffer.empty[ExecRec]
    val stageTasks = mutable.Map.empty[Int, Int]   // stageId -> numTasks
    val stageJob = mutable.Map.empty[Int, Int]     // stageId -> jobId
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val names = e.stageInfos.map(_.name).distinct
        val desc = names.find(!_.startsWith("$anonfun"))
          .orElse(names.headOption).getOrElse("?")
        val eid = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobs += JobRec(e.jobId, desc, e.time, stages = e.stageIds.size,
          execId = eid)
        e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
      }
      // attribute jobs (incl. AQE stage-future sub-jobs, which share the
      // parent's execution id) to the SQL statement that ran them
      override def onOtherEvent(
          e: SparkListenerEvent): Unit = synchronized {
        e match {
          case s: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionStart =>
            execs += ExecRec(s.executionId, s.description, s.time)
          case s: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionEnd =>
            execs.find(_.id == s.executionId).foreach(_.end = s.time)
          case _ =>
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = synchronized {
        val si = e.stageInfo
        stageTasks(si.stageId) = si.numTasks
        stageJob.get(si.stageId).foreach { jid =>
          jobs.find(_.id == jid).foreach(_.tasks += si.numTasks)
        }
      }
    }

    for (q <- args) {
      // warm pass (footers, codegen) — NOT profiled
      graft.SparkEntry.queries(q)(spark, dir).count()
      jobs.clear(); execs.clear(); stageTasks.clear(); stageJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // drain listener bus
      val done = jobs.filter(_.end > 0).sortBy(_.start)
      // union of job intervals -> covered time; gap = wall - covered
      var covered = 0L
      var curS = -1L; var curE = -1L
      done.foreach { j =>
        if (j.start > curE) { if (curE > 0) covered += curE - curS
          curS = j.start; curE = j.end }
        else curE = math.max(curE, j.end)
      }
      if (curE > 0) covered += curE - curS
      val totTasks = done.map(_.tasks).sum
      println(f"== $q wall=$wall%.2fs jobs=${done.size} " +
        f"jobTime=${done.map(j => j.end - j.start).sum / 1e3}%.2fs " +
        f"covered=${covered / 1e3}%.2fs gap=${wall - covered / 1e3}%.2fs " +
        f"tasks=$totTasks")
      val byDesc = done.groupBy(_.desc).map { case (d, js) =>
        (d, js.size, js.map(j => j.end - j.start).sum, js.map(_.tasks).sum)
      }.toSeq.sortBy(-_._3)
      byDesc.take(30).foreach { case (d, n, ms, tk) =>
        println(f"  ${ms / 1e3}%7.2fs n=$n%-4d tasks=$tk%-6d ${d.take(120)}")
      }
      // per-SQL-execution attribution: wall, jobs (incl. AQE sub-jobs)
      val byExec = execs.filter(_.end > 0).sortBy(x => -(x.end - x.start))
      println(f"  -- executions: ${byExec.size} " +
        f"(execWall=${byExec.map(x => x.end - x.start).sum / 1e3}%.2fs)")
      byExec.take(25).foreach { x =>
        val js = done.filter(_.execId == x.id)
        val jt = js.map(j => j.end - j.start).sum
        val oneLine = x.desc.replaceAll("\\s+", " ").take(110)
        println(f"  ${(x.end - x.start) / 1e3}%7.2fs jobs=${js.size}%-4d " +
          f"jobTime=${jt / 1e3}%5.2fs tasks=${js.map(_.tasks).sum}%-5d " +
          s"$oneLine")
      }
    }
    spark.stop()
  }
}
