package graft.etl

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.TxLogTable

/** Full pipeline on the transaction-log tables: time travel back to the
  * run-1 state after run 2 overwrites, and the context's maintenance
  * surface (change feed, compact, history, vacuum).
  */
class TxLogPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = Files.createTempDirectory("graft-txlog-e2e").toString
  private val whTx = s"$dir/wh_txlog"
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def write(name: String, content: String): Unit =
    Files.writeString(Paths.get(dir, name), content)

  // normalize to schema column order
  private def norm(df: org.apache.spark.sql.DataFrame,
                   schema: org.apache.spark.sql.types.StructType): Seq[String] =
    df.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted.toSeq

  private def rowsTx(t: String, schema: org.apache.spark.sql.types.StructType,
                     version: Option[Int] = None): Seq[String] =
    norm(TxLogTable(spark, s"$whTx/$t").snapshot(schema, version), schema)

  private def writeRun1(): Unit = {
    write("current-week.json", "2")
    write("student-groups.json",
      """[{"id":1000,"name":"253501","course":3,"educationDegree":1,
           "numberOfStudents":20,"specialityDepartmentEducationFormId":100}]""")
    write("schedules.json",
      """[{"entityName":"253501","entityType":"group","data":{"schedules":{
            "Понедельник":[
              {"subject":"Матан","startLessonTime":"09:00",
               "endLessonTime":"10:20","weekNumber":[1],
               "auditories":["101-4 к."],
               "studentGroups":[{"name":"253501","numberOfStudents":25}]}]},
           "exams":[]}}]""")
  }

  private def writeRun2(): Unit =
    write("schedules.json",
      """[{"entityName":"253501","entityType":"group","data":{"schedules":{
            "Вторник":[
              {"subject":"Физика","startLessonTime":"11:00",
               "endLessonTime":"12:20","weekNumber":[2],
               "auditories":["202-5 к."],
               "studentGroups":[{"name":"253501","numberOfStudents":25}]}]},
           "exams":[]}}]""")

  test("txlog pipeline: time travel, feed, compact, history, vacuum") {
    writeRun1()
    EtlPipeline.runFromDir(spark, dir, whTx, ts("2026-01-10 00:00:00"))
    val run1Events = rowsTx("schedule_events", Schemas.scheduleEventsTable)
    assert(run1Events.nonEmpty)

    writeRun2()
    EtlPipeline.runFromDir(spark, dir, whTx, ts("2026-02-01 00:00:00"))

    // time travel: version 0 of schedule_events is the run-1 state
    val eventsLog = TxLogTable(spark, s"$whTx/schedule_events")
    assert(eventsLog.versions.size >= 2)
    assert(rowsTx("schedule_events", Schemas.scheduleEventsTable,
      Some(eventsLog.versions.head)) == run1Events)
    // and the current version reflects run 2 (Вторник replaced Понедельник)
    val cur = rowsTx("schedule_events", Schemas.scheduleEventsTable)
    assert(cur != run1Events && cur.exists(_.contains("Физика")))

    // context-level maintenance surface: the change feed sees run 2's
    // overwrite as a reset boundary carrying the new state; compact packs
    // the table without changing it; vacuum leaves only the latest version
    val ctx = EtlContext(spark, whTx, ts("2026-02-01 00:00:00"))
    val events = ctx.table("schedule_events")
    val latest = events.latestVersion.get
    val feed = events.changesBetween(Schemas.scheduleEventsTable,
      latest - 1, latest)
    assert(feed.columns.contains("_commit_version"))
    assert(norm(feed, Schemas.scheduleEventsTable) == cur)
    events.compact(Schemas.scheduleEventsTable)
    assert(rowsTx("schedule_events", Schemas.scheduleEventsTable) == cur)
    // DESCRIBE HISTORY through the context: ops + instants per version
    val hist = events.history()
    assert(hist.nonEmpty && hist.last.op.contains("compact"))
    assert(hist.forall(_.commitMillis.nonEmpty))
    val (droppedManifests, droppedFiles) =
      events.vacuum(minAgeMillis = 0L, retainMillis = 0L)
    assert(droppedManifests >= 2 && droppedFiles > 0)
    assert(events.latestVersion.toSeq ==
      TxLogTable(spark, s"$whTx/schedule_events").versions)
    assert(rowsTx("schedule_events", Schemas.scheduleEventsTable) == cur)
  }
}
