package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload: its inputs, its cold load, and the closed-loop cycle the
  * single client repeats until the run's time is up. */
trait Workload {
  /** Generate the seeded inputs into the run directory. Repeated (same
    * seed, same bytes) so `setup_s` is a median; returns the input sizes
    * the run header records. */
  def setup(): Seq[(String, Any)]
  /** Bulk-load the inputs into graft tables — the first graft work of the
    * process, timed cold as `load_s`. */
  def load(): Unit
  /** One untimed call of every op type the cycle makes. */
  def warm(): Unit
  /** One cycle of calls, each through [[Run.call]]. */
  def cycle(): Unit
  /** Compare graft's outputs with what the inputs imply; mismatches. */
  def check(): Seq[String]
  /** This workload's layer metrics from a traced run. */
  def layers(tr: Trace): Map[String, Double]
}

/** State shared by a run: the session, the seed, the call log. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Option[Trace], val dir: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val timed = mutable.ArrayBuffer.empty[(String, Double)]
  val errors = mutable.ArrayBuffer.empty[String]
  var timing = false
  var attempted = 0
  var failed = 0

  /** Call graft once: timed (and, when tracing, spanned). A call that
    * throws counts as failed; the run goes on and its check will show
    * the damage. */
  def call[A](op: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = trace.fold(body)(_.span(op)(body))
      if (timing) timed += op -> (System.nanoTime() - t0) / 1e6
      Some(a)
    } catch { case NonFatal(e) =>
      failed += 1
      errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"
      System.err.println(s"perfbench: $op failed")
      e.printStackTrace()
      None
    }
  }

  def ms(op: String): Seq[Double] = timed.collect { case (`op`, m) => m }.toSeq
}

object Main {
  val Workloads = Seq("etl_nightly", "dml_refresh")
  val SetupRepeats = 3
  val MinCycles = 1

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `graft.Bench`'s session shape at `local[cores]`. */
  def session(dir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}: $workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val traced = opt("--trace") == "1"
    val dir = Paths.get(opt("--dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = session(dir, cores)
    val sessionBuildS = secs(t0)
    spark.range(1000).selectExpr("md5(cast(id as string)) m")
      .agg("m" -> "max").collect()
    val sessionS = secs(t0)
    val trace = if (traced) {
      val t = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val run = new Run(spark, seed, seconds, trace, dir)
    val w: Workload = workload match {
      case "etl_nightly" => new EtlNightly(run)
      case "dml_refresh" => new DmlRefresh(run)
    }

    var sizes: Seq[(String, Any)] = Nil
    val setupS = (1 to SetupRepeats).map { _ =>
      val s0 = System.nanoTime(); sizes = w.setup(); secs(s0) }
    val l0 = System.nanoTime()
    w.load()
    val loadS = secs(l0)
    require(run.failed == 0, s"load failed: ${run.errors.mkString("; ")}")
    val w0 = System.nanoTime()
    w.warm()
    val warmS = secs(w0)

    // closed loop: the next cycle starts when the previous one returned;
    // no cycle starts that the median so far says would overrun the run
    val cycles = mutable.ArrayBuffer.empty[Double]
    val gc0 = Trace.gcMs
    trace.foreach(t => t.loopFrom = t.spans.size)
    val loopE0 = System.currentTimeMillis()
    val loop0 = System.nanoTime()
    run.timing = true
    while (cycles.size < MinCycles ||
        secs(loop0) + median(cycles.toSeq) / 1e3 < seconds) {
      val n = run.timed.size
      w.cycle()
      cycles += run.timed.drop(n).map(_._2).sum
    }
    run.timing = false
    val loopS = secs(loop0)
    val loopE1 = System.currentTimeMillis() + 1
    val gcMs = Trace.gcMs - gc0
    // full GCs with pauses between them: Spark's context cleaner frees the
    // blocks of collected RDDs and broadcasts only after a GC has queued
    // their references, and the next GC then reclaims what it released
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val c0 = System.nanoTime()
    val mismatches = w.check()
    val checkS = secs(c0)
    val calls = run.timed.map(_._2).toSeq
    val e2e = Seq(
      "setup_s" -> (jvmS + sessionS + median(setupS), "s"),
      "load_s" -> (loadS, "s"),
      "cycle_p50_ms" -> (median(cycles.toSeq), "ms"),
      "ops_per_s" -> (calls.size / loopS, "1/s"),
      "heap_live_mb" -> (heapMb, "MB"))
    val metrics: Seq[(String, (Double, String))] = trace match {
      case None => e2e
      case Some(tr) =>
        val all = Layers.common(run, tr, cycles.size, gcMs, loadS, loopS,
          tr.work(loopE0, loopE1, loopS * 1e3)) ++ w.layers(tr)
        Layers.Names.map(n => n -> (all.getOrElse(n, 0.0), Layers.unit(n)))
    }

    val header = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => k.startsWith("spark.sql.") ||
          Set("spark.master", "spark.app.name").contains(k) }.toMap,
      "max_local_dim_rows" -> graft.sources.TxLogTable.MaxLocalDimRows,
      "inputs" -> sizes.toMap)
    val perOp = run.timed.map(_._1).distinct.sorted.map(op => op -> run.ms(op)).toSeq
    val record = Seq(
      "header" -> header.toMap,
      "cycles" -> cycles.size, "loop_s" -> loopS, "setup_runs_s" -> setupS,
      "warm_s" -> warmS, "check_s" -> checkS, "load_s" -> loadS,
      "jvm_start_s" -> jvmS, "session_build_s" -> sessionBuildS,
      "session_s" -> sessionS,
      "per_op" -> perOp.map { case (op, xs) =>
        op -> Map("n" -> xs.size, "p50_ms" -> median(xs), "p90_ms" -> pct(xs, 0.9)) }.toMap,
      "failed_frac" -> run.failed.toDouble / math.max(1, run.attempted),
      "errors" -> run.errors.toSeq, "mismatches" -> mismatches,
      "metrics" -> metrics.map { case (k, (v, _)) => k -> v }.toMap)

    spark.stop()
    val correct = mismatches.isEmpty && run.failed == 0
    println("header " + Json(header.toMap))
    perOp.foreach { case (op, xs) =>
      println(f"op $op%-12s n=${xs.size}%4d p50=${median(xs)}%9.1f ms " +
        f"p90=${pct(xs, 0.9)}%9.1f ms") }
    metrics.foreach { case (k, (v, u)) => println(f"metric $k%-26s $v%14.4f $u") }
    (run.errors ++ mismatches).foreach(m => println(s"FAIL $m"))
    Files.writeString(dir.resolve("record.json"), Json(record.toMap) + "\n")
    println(Json(Map(
      "correct" -> correct,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)))
  }
}

/** Minimal JSON writer for the run record and the result line. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
      .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
