package graftbench

import java.nio.file.{Files, Path}

/** The per-layer metrics a traced run reports. Every traced run reports
  * every name; a layer a workload never calls reads 0 there. Counts and
  * times are per call of the named op (per cycle for `spark.*` and
  * `jvm.*`), over the timed loop only. */
object Layers {
  val Names: Seq[String] = Seq(
    "spark.jobs", "spark.tasks", "spark.busy_ms", "spark.gap_ms",
    "spark.task_ms", "spark.core_util", "spark.shuffle_bytes", "jvm.gc_ms",
    "traced.ops_per_s", "traced.load_s",
    "etl.fetch_ms", "etl.dims_ms", "etl.ingest_ms", "etl.occupancy_ms",
    "etl.dims_jobs", "etl.ingest_jobs", "etl.occupancy_jobs", "etl.commits",
    "etl.incr_ms", "etl.write_amp",
    "append.p50_ms", "append.jobs", "append.gap_ms",
    "merge.p50_ms", "merge.jobs", "merge.gap_ms", "merge.rewrite_frac",
    "delete.p50_ms", "delete.jobs", "delete.gap_ms", "delete.rewrite_frac",
    "table.files", "table.log_bytes", "table.write_amp",
    "refresh.p50_ms", "refresh.jobs", "refresh.gap_ms", "refresh.task_ms",
    "refresh.incremental_frac", "refresh.groups_changed",
    "scan.p50_ms", "scan.jobs",
    "range.p50_ms", "range.plan_ms", "range.jobs", "range.files_read_frac",
    "point.p50_ms", "point.plan_ms", "point.jobs",
    "join.p50_ms", "join.plan_ms", "join.jobs",
    "ann.p50_ms", "ann.jobs", "ann.gap_ms", "ann.plan_ms")

  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") => "ms"
    case "load_s" => "s"
    case "ops_per_s" => "1/s"
    case "shuffle_bytes" | "log_bytes" => "bytes"
    case n if n.endsWith("_frac") || n == "core_util" || n == "write_amp" => "ratio"
    case _ => "count"
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Layer metrics every workload has: the scheduler under the timed loop,
    * the JVM, the traced run's own throughput, and per-op jobs / driver gap
    * / median for whichever ops the workload makes. */
  def common(run: Run, tr: Trace, cycles: Int, gcMs: Long, loadS: Double,
             loopS: Double, loop: Trace.Work): Map[String, Double] = {
    val perCycle = 1.0 / math.max(1, cycles)
    val ops = run.timed.map(_._1).distinct
    val perOp = ops.flatMap { op =>
      val ws = tr.timedSpans(op)
      Seq(s"$op.p50_ms" -> Main.median(run.ms(op)),
        s"$op.jobs" -> mean(ws.map(_.jobs.toDouble)),
        s"$op.gap_ms" -> mean(ws.map(_.gapMs)),
        s"$op.task_ms" -> mean(ws.map(_.taskMs.toDouble)))
    }
    Map(
      "spark.jobs" -> loop.jobs * perCycle,
      "spark.tasks" -> loop.tasks * perCycle,
      "spark.busy_ms" -> loop.busyMs * perCycle,
      "spark.gap_ms" -> loop.gapMs * perCycle,
      "spark.task_ms" -> loop.taskMs * perCycle,
      "spark.core_util" -> loop.taskMs / (loop.wallMs * run.cores),
      "spark.shuffle_bytes" -> loop.shuffleBytes * perCycle,
      "jvm.gc_ms" -> gcMs * perCycle,
      "traced.ops_per_s" -> run.timed.size / loopS,
      "traced.load_s" -> loadS) ++ perOp
  }

  /** Bytes under `dir` (0 when absent). */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir)) { s =>
      s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() }
}
