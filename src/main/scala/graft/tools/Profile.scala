package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-query job/stage profiler (guide §1): runs named SparkEntry queries
  * in the bench's session shape with a listener recording every Spark job
  * (wall time, description, task count). Each profiled query runs once
  * unprofiled (footers, codegen), then once profiled. Modes:
  *
  *  - `Profile q1 q2 …` — per query: total wall, job count, summed job
  *    time, the DRIVER GAP (wall not covered by any running job —
  *    planning, manifest IO, commit protocol), the Janino compiles, the
  *    top jobs and the per-SQL-execution split;
  *  - `Profile --all out.json` — every query, one summary each (wall,
  *    jobs, tasks, job time, driver gap, Janino compiles) written as
  *    JSON;
  *  - `Profile --diff a.json b.json` — every query whose job count moved
  *    between two `--all` runs, and how many rose (no Spark session);
  *  - `Profile --iso q1 q2 …` — three timed passes per query in this
  *    fresh session, no listener: the per-query A/B verdict, separating a
  *    query's own cost from session-state pollution in the full Bench run;
  *  - `Profile --explain [q1 q2 …]` — `.explain("formatted")` of the named
  *    queries (all of them if none named): the dev loop for checking
  *    pushdown, broadcast choice and exchange count;
  *  - `Profile --action-cost` — the per-action fixed costs in this
  *    session shape: N timed repetitions of small canonical actions
  *    (scan+shuffle+agg, broadcast join, localCheckpoint, tiny parquet
  *    write) with AQE on and off — the denominator behind every
  *    multi-action engine path (MV refresh, DML commit, ANN search).
  *
  * The session reads `SPARK_GRAFT_SF_DIR` (default sf0.1) with
  * `SPARK_GRAFT_CPUS` cores (default 32):
  *   sbt "runMain graft.tools.Profile sql_mv_star_2dim"
  *   SPARK_GRAFT_SF_DIR=/path/sf0.01 SPARK_GRAFT_CPUS=4 \
  *     sbt "runMain graft.tools.Profile --all /tmp/profile.json"
  */
object Profile {
  final case class JobRec(id: Int, desc: String, start: Long,
                          var end: Long = 0L,
                          var tasks: Int = 0, var stages: Int = 0,
                          execId: Long = -1L)

  final case class ExecRec(id: Long, desc: String, start: Long,
                           var end: Long = 0L)

  /** One profiled run of a query. `compiles` counts the Janino compiles
    * the run paid — generated classes Spark's codegen cache did not
    * hold — read from the process-wide `CodegenMetrics` histogram, so
    * it costs no Spark job. */
  final case class Summary(wallS: Double, jobs: Int, tasks: Int,
                           jobS: Double, gapS: Double, compiles: Long = 0L)

  /** Records the jobs (and the SQL executions they ran under) while it
    * is registered. */
  final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val execs = mutable.ArrayBuffer.empty[ExecRec]
    private val stageJob = mutable.Map.empty[Int, Int] // stageId -> jobId

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
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
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
      stageJob.get(si.stageId).foreach { jid =>
        jobs.find(_.id == jid).foreach(_.tasks += si.numTasks)
      }
    }

    /** The finished jobs in start order. */
    def done: Seq[JobRec] =
      synchronized(jobs.filter(_.end > 0).sortBy(_.start).toSeq)

    def summary(wallS: Double): Summary = {
      val d = done
      // union of job intervals -> covered time; gap = wall - covered
      var covered = 0L
      var curS = -1L; var curE = -1L
      d.foreach { j =>
        if (j.start > curE) { if (curE > 0) covered += curE - curS
          curS = j.start; curE = j.end }
        else curE = math.max(curE, j.end)
      }
      if (curE > 0) covered += curE - curS
      Summary(wallS, d.size, d.map(_.tasks).sum,
        d.map(j => j.end - j.start).sum / 1e3, wallS - covered / 1e3)
    }
  }

  /** Runs `q` unprofiled, then profiled; the recorder holds the profiled
    * run's jobs. */
  private def profiled(spark: org.apache.spark.sql.SparkSession, q: String,
                       dir: String): (Summary, Recorder) = {
    graft.SparkEntry.queries(q)(spark, dir).count()
    val rec = new Recorder
    val compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    spark.sparkContext.addSparkListener(rec)
    val c0 = compiled.getCount
    val wall =
      try {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      } finally {
        Thread.sleep(300) // drain the listener bus
        spark.sparkContext.removeSparkListener(rec)
      }
    (rec.summary(wall).copy(compiles = compiled.getCount - c0), rec)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "--diff" :: a :: b :: Nil => diff(a, b)
    case "--all" :: out :: Nil => withSession { (spark, dir) =>
      val queries = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
        q -> (try {
          val s = profiled(spark, q, dir)._1
          println(f"== $q wall=${s.wallS}%.2fs jobs=${s.jobs} " +
            f"tasks=${s.tasks} jobTime=${s.jobS}%.2fs gap=${s.gapS}%.2fs " +
            s"compiles=${s.compiles}")
          s
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"== $q FAILED: $e")
          Map("error" -> e.toString)
        })
      }
      mapper.writerWithDefaultPrettyPrinter().writeValue(
        new java.io.File(out), Map("sfDir" -> dir,
          "cpus" -> spark.sparkContext.defaultParallelism,
          "queries" -> scala.collection.immutable.ListMap(queries: _*)))
      println(s"[profile] wrote ${queries.size} queries to $out")
    }
    case "--iso" :: qs => withSession { (spark, dir) =>
      for (q <- qs; p <- 1 to 3) {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir).count()
        println(f"[iso] $q pass$p ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    case "--explain" :: qs => withSession { (spark, dir) =>
      graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(q => qs.isEmpty || qs.contains(q)).foreach { q =>
          println(s"\n========== $q ==========")
          try graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
          catch { case scala.util.control.NonFatal(e) =>
            println(s"[explain] $q failed: ${e.getMessage}")
          }
        }
    }
    case "--action-cost" :: Nil => actionCost()
    case qs => withSession((spark, dir) => qs.foreach(detail(spark, dir, _)))
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def withSession(
      body: (org.apache.spark.sql.SparkSession, String) => Unit): Unit = {
    println(s"[profile] pid=${java.lang.ProcessHandle.current().pid()}")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    spark.range(1000).selectExpr("md5(cast(id as string)) m")
      .agg("m" -> "max").collect()
    try body(spark, dir) finally spark.stop()
  }

  private def detail(spark: org.apache.spark.sql.SparkSession, dir: String,
                     q: String): Unit = {
    val (s, rec) = profiled(spark, q, dir)
    val done = rec.done
    println(f"== $q wall=${s.wallS}%.2fs jobs=${s.jobs} " +
      f"jobTime=${s.jobS}%.2fs covered=${s.wallS - s.gapS}%.2fs " +
      f"gap=${s.gapS}%.2fs tasks=${s.tasks} compiles=${s.compiles}")
    val byDesc = done.groupBy(_.desc).map { case (d, js) =>
      (d, js.size, js.map(j => j.end - j.start).sum, js.map(_.tasks).sum)
    }.toSeq.sortBy(-_._3)
    byDesc.take(30).foreach { case (d, n, ms, tk) =>
      println(f"  ${ms / 1e3}%7.2fs n=$n%-4d tasks=$tk%-6d ${d.take(120)}")
    }
    // per-SQL-execution attribution: wall, jobs (incl. AQE sub-jobs)
    val byExec = rec.execs.filter(_.end > 0).sortBy(x => -(x.end - x.start))
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

  private def actionCost(): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("actioncost")
    val tiny = (1 to 1000).map(i => (i.toLong, i % 50, s"v$i"))
      .toDF("id", "k", "s")
    tiny.write.mode("overwrite").parquet(s"$dir/tiny")
    val small = (1 to 40).map(i => (i % 50, s"d$i")).toDF("k", "dv")
    small.write.mode("overwrite").parquet(s"$dir/small")

    def timed(name: String, n: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => f)
      println(f"[cost] $name: ${(System.nanoTime() - t0) / 1e6 / n}%.1f ms/action")
    }

    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      println(s"=== adaptive=$aqe shuffle.partitions=$cpus")
      val t = spark.read.parquet(s"$dir/tiny")
      val s = spark.read.parquet(s"$dir/small")
      timed("scan+count", 30) { t.count() }
      timed("scan+groupBy+count", 30) { t.groupBy("k").count().count() }
      timed("scan+bcast-join+agg", 30) {
        t.join(broadcast(s), "k").groupBy("dv").count().count() }
      timed("distinct+localCheckpoint", 30) {
        t.select("k").distinct().localCheckpoint().count() }
      timed("tiny parquet write", 20) {
        t.limit(100).write.mode("overwrite").parquet(s"$dir/out") }
      timed("local-relation bcast join", 30) {
        val lr = spark.createDataFrame(
          java.util.Arrays.asList(small.collect(): _*), small.schema)
        t.join(broadcast(lr), "k").groupBy("dv").count().count() }
    }
    spark.stop()
  }

  /** Every query whose job count differs between two `--all` files;
    * queries present in only one file are listed as added or dropped. */
  private def diff(a: String, b: String): Unit = {
    // a query that failed in a run has no job count there; a file from
    // before compiles were recorded has none of those
    def fieldIn(f: String, k: String): Map[String, Int] = {
      val qs = mapper.readTree(new java.io.File(f)).get("queries")
      qs.fieldNames().asScala.collect {
        case q if qs.get(q).has(k) => q -> qs.get(q).get(k).asInt
      }.toMap
    }
    val (ja, jb) = (fieldIn(a, "jobs"), fieldIn(b, "jobs"))
    val (ca, cb) = (fieldIn(a, "compiles"), fieldIn(b, "compiles"))
    val moved = (ja.keySet ++ jb.keySet).toSeq.sorted.flatMap { q =>
      (ja.get(q), jb.get(q)) match {
        case (Some(x), Some(y)) if x != y => Some((q, s"$x -> $y", y - x))
        case (Some(x), None) => Some((q, s"$x -> dropped", 0))
        case (None, Some(y)) => Some((q, s"added -> $y", 0))
        case _ => None
      }
    }
    moved.foreach { case (q, m, d) =>
      println(f"$q%-40s $m${if (d != 0) f" ($d%+d)" else ""}")
    }
    println(s"== ${moved.size} of ${(ja.keySet ++ jb.keySet).size} " +
      s"queries moved, ${moved.count(_._3 > 0)} rose, " +
      s"${moved.count(_._3 < 0)} fell; jobs ${ja.values.sum} -> " +
      s"${jb.values.sum}; compiles ${ca.values.sum} -> ${cb.values.sum}")
  }
}
