package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.etl.{ApiSource, EtlPipeline, Schemas, StagedDirSource}
import graft.sources.TxLogTable

/** `etl_nightly`: the reference loader's job. One cold full load of the
  * seeded BSUIR feed, then incremental nightly runs (one per cycle) in which
  * ~10% of the schedules, a few groups' courses and a few employees' ranks
  * change. Storage sees only overwrite commits. */
final class EtlNightly(run: Run) extends Workload {
  val Entities = 150

  private val spark = run.spark
  private val feed = new Gen.EtlFeed(run.seed, Entities)
  private val staged: Path = run.dir.resolve("feed")
  private val wh: Path = run.dir.resolve("warehouse")
  // per timed run: (start, end) epoch ms and the payload bytes it read
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val fetchMs = mutable.ArrayBuffer.empty[Double]
  private var inputBytes = 0L
  private var whBytes0 = 0L

  /** Day of the nightly run: one pinned timestamp per run. */
  private def runTs = new java.sql.Timestamp(
    java.sql.Timestamp.valueOf("2026-02-01 02:00:00").getTime +
      feed.runNumber * 86400000L)

  /** Fetch timing for traced runs: the pipeline's own source, wrapped. */
  private final class TimedSource(in: ApiSource) extends ApiSource {
    var ms = 0.0
    def fetch(endpoint: String): Option[String] = {
      val t0 = System.nanoTime()
      try in.fetch(endpoint) finally ms += (System.nanoTime() - t0) / 1e6
    }
  }

  private def nightly(): Unit = run.trace match {
    case None =>
      EtlPipeline.runFromDir(spark, staged.toString, wh.toString, runTs,
        txLog = true)
    case Some(_) =>
      val src = new TimedSource(StagedDirSource(staged.toString))
      EtlPipeline.runFromSource(spark, src, wh.toString, runTs, txLog = true)
      if (run.timing) fetchMs += src.ms
  }

  def setup(): Seq[(String, Any)] = {
    val p = feed.payloads
    p.write(staged)
    Seq("entities" -> Entities, "groups" -> feed.groups,
      "employees" -> feed.employees, "payload_bytes" -> p.bytes,
      "payload_files" -> p.files.size, "events" -> feed.expectedEvents)
  }

  def load(): Unit = run.call("etl_full")(nightly())

  def warm(): Unit = whBytes0 = Layers.bytesUnder(wh)

  def cycle(): Unit = {
    feed.advance()
    val p = feed.payloads
    p.write(staged)
    inputBytes += p.bytes
    val t0 = System.currentTimeMillis()
    run.call("etl_incr")(nightly())
    windows += ((t0, System.currentTimeMillis() + 1))
  }

  private def table(t: String) = TxLogTable(spark, wh.resolve(t).toString)

  def check(): Seq[String] = {
    val x = feed.expect
    val groups = table("student_groups").snapshot(Schemas.studentGroupsTable)
    val bronze = table("schedule_json_storage")
      .snapshot(Schemas.scheduleJsonStorageTable)
    val ranks = table("employees").snapshot(Schemas.employeesTable)
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def eq(what: String, got: Long, want: Long) =
      if (got == want) None else Some(s"etl_nightly $what: $got, expected $want")
    Seq(
      eq("schedule_events rows",
        table("schedule_events").snapshot(Schemas.scheduleEventsTable).count(),
        x.events),
      eq("open student_groups rows",
        groups.filter(col("valid_to").isNull).count(), x.openGroups),
      eq("closed student_groups rows",
        groups.filter(col("valid_to").isNotNull).count(), x.closedGroups),
      eq("bronze versions", bronze.count(), x.bronzeRows),
      eq("open bronze versions", bronze.filter(col("valid_to").isNull).count(),
        x.bronzeOpen),
      eq("employee ranks matching the feed",
        x.employeeRanks.count { case (id, r) => ranks.get(id).contains(r) },
        x.employeeRanks.size.toLong)).flatten
  }

  def layers(tr: Trace): Map[String, Double] = {
    val dimTables = Seq("system_state", "faculties", "departments",
      "specialities", "employees", "departments_employees", "auditories")
    val tables = Option(wh.toFile.list()).toSeq.flatten
    val hist = tables.map(t => t -> table(t).history().flatMap(_.commitMillis)).toMap
    def lastIn(ts: Seq[String], w: (Long, Long)): Long =
      ts.flatMap(hist.getOrElse(_, Nil)).filter(m => m >= w._1 && m < w._2)
        .foldLeft(w._1)(math.max)
    val phases = windows.toSeq.map { w =>
      val dims = lastIn(dimTables, w)
      val ingest = math.max(dims, lastIn(Seq("schedule_events"), w))
      val occ = math.max(ingest, lastIn(Seq("occupancy_index"), w))
      val commits = tables.map(t => hist(t).count(m => m >= w._1 && m < w._2)).sum
      val jobs = (a: Long, b: Long) => tr.work(a, b, (b - a).toDouble).jobs.toDouble
      (dims - w._1, ingest - dims, occ - ingest,
        jobs(w._1, dims), jobs(dims, ingest), jobs(ingest, w._2), commits)
    }
    def avg(f: ((Long, Long, Long, Double, Double, Double, Int)) => Double) =
      Layers.mean(phases.map(f))
    Map(
      "etl.fetch_ms" -> Layers.mean(fetchMs.toSeq),
      "etl.dims_ms" -> avg(_._1.toDouble),
      "etl.ingest_ms" -> avg(_._2.toDouble),
      "etl.occupancy_ms" -> avg(_._3.toDouble),
      "etl.dims_jobs" -> avg(_._4),
      "etl.ingest_jobs" -> avg(_._5),
      "etl.occupancy_jobs" -> avg(_._6),
      "etl.commits" -> avg(_._7.toDouble),
      "etl.incr_ms" -> Main.median(run.ms("etl_incr")),
      "etl.write_amp" ->
        (Layers.bytesUnder(wh) - whBytes0).toDouble / math.max(1L, inputBytes))
  }
}
