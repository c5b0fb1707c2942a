package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden end-to-end test (SURVEY §5.2): run1 loads fixtures covering every
  * parse/merge edge case in FIXTURES.md §A; run2 applies mutations that
  * exercise all four SCD2 branches, the frozen-column upserts, bronze
  * versioning, and occupancy rebuild idempotency.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = Files.createTempDirectory("graft-golden").toString
  private val wh = s"$dir/warehouse"
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def write(name: String, content: String): Unit =
    Files.writeString(Paths.get(dir, name), content)

  private def table(name: String) =
    graft.sources.TxLogTable(spark, s"$wh/$name")
      .snapshot(allTables.toMap.apply(name))

  private def longName = "Кафедра очень длинного названия которое явно " +
    "длиннее пятидесяти символов для проверки усечения"

  private def writeRun1(): Unit = {
    write("current-week.json", "3")
    write("faculties.json",
      """[{"id":1,"name":"ФКСиС","abbrev":"FKSIS"},
          {"id":2,"name":"ФИТУ","abbrev":"FITU"}]""")
    write("departments.json",
      s"""[{"id":10,"name":"Кафедра информатики","abbrev":"КИ"},
           {"id":11,"nameAbbrev":"КСУ"},
           {"id":12,"name":"$longName"}]""")
    write("specialities.json",
      """[{"id":100,"name":"ПОИТ","abbrev":"ПОИТ","code":"1-40","facultyId":1,
           "educationForm":{"id":1,"name":"Дневная"}},
          {"id":101,"name":"ИСиТ","abbrev":"ИСиТ","code":"1-53","facultyId":99,
           "educationForm":{"id":2}},
          {"id":102,"name":"АСОИ","abbrev":"АСОИ","code":"1-53-2","facultyId":2}]""")
    write("student-groups.json",
      """[{"id":1000,"name":"253501","course":2,"educationDegree":1,
           "numberOfStudents":25,"specialityDepartmentEducationFormId":100},
          {"id":1001,"name":"253502","course":2,"numberOfStudents":20,
           "specialityDepartmentEducationFormId":100},
          {"id":1002,"name":"353501","course":3,"educationDegree":2,
           "numberOfStudents":18,"specialityDepartmentEducationFormId":102},
          {"id":1003,"name":"999999","course":1,
           "specialityDepartmentEducationFormId":999}]""")
    write("employees.json",
      """[{"id":500,"firstName":"Иван","lastName":"Иванов","middleName":"И",
           "degree":"к.т.н.","rank":"доцент","urlId":"ivanov",
           "academicDepartment":["Кафедра информатики",{"name":"КСУ"},
                                 "кафедра информатики  "]},
          {"id":501,"firstName":"Пётр","lastName":"Петров","urlId":"petrov",
           "academicDepartment":["Неизвестная кафедра"]},
          {"id":502,"firstName":"NoUrl","lastName":"Skip",
           "academicDepartment":[]},
          {"id":503,"firstName":"Нина","lastName":"Новикова",
           "urlId":"novikova","academicDepartment":["Новая кафедра"]}]""")
    write("auditories.json",
      """[{"id":900,"name":"101","buildingNumber":{"name":"4 к."},
           "capacity":30,"auditoryType":{"name":"Лекционная"},"departmentId":10},
          {"id":901,"name":"202-5","buildingNumber":{"name":"5"},"capacity":20},
          {"id":902,"name":"303","buildingNumberId":6,"capacity":40,
           "department":{"idDepartment":77,"name":"Новая кафедра","abbrev":"НК"}},
          {"id":903,"name":"404","departmentId":999}]""")
    write("schedules.json",
      """[{"entityName":"253501","entityType":"group","data":{"schedules":{
            "Понедельник":[
              {"subject":"Матан","subjectFullName":"Математический анализ",
               "startLessonTime":"09:00","endLessonTime":"10:20",
               "weekNumber":[1,2],"numSubgroup":0,
               "auditories":["101-4 к.",{"id":902,"name":"303-6 к."}],
               "employees":[{"firstName":"Иван","lastName":"Иванов"}],
               "studentGroups":[{"name":"253501","numberOfStudents":24}]},
              {"subject":"","startLessonTime":"11:00","endLessonTime":"12:20",
               "weekNumber":[0],"auditories":["202-5"],"studentGroups":[]},
              {"subject":"Bad","startLessonTime":"xx:yy","endLessonTime":"10:00",
               "auditories":["101-4 к."]}],
            "Среда":[
              {"subject":"Физика","startLessonTime":"09:00",
               "endLessonTime":"10:20","weekNumber":[3],
               "auditories":[905,"101-4 к."],
               "studentGroups":[{"name":"253501","numberOfStudents":0}]}],
            "Каникулы":[
              {"subject":"X","startLessonTime":"09:00","endLessonTime":"10:00"}]},
           "exams":[
            {"subject":"Экз Матан","startLessonTime":"10:00",
             "endLessonTime":"11:00","dateLesson":"15.06.2026",
             "auditories":["101-4 к."]},
            {"startLessonTime":"bad","dateLesson":"16.06.2026","auditories":[]},
            {"subject":"Плохой","dateLesson":"99.99.9999"}]}},
          {"entityName":"253502","entityType":"group","data":{"schedules":{
            "Понедельник":[
              {"subject":"Матан","startLessonTime":"09:00",
               "endLessonTime":"10:20","weekNumber":[1],
               "auditories":["101-4 к."],
               "studentGroups":[{"name":"253502","numberOfStudents":19},
                                {"name":"253501","numberOfStudents":23}]}]},
           "exams":[]}},
          {"entityName":"ivanov","entityType":"employee","data":{"schedules":{
            "Вторник":[
              {"subject":"Консультация","startLessonTime":"14:00",
               "endLessonTime":"15:00","auditories":["202-5"]}]},
           "exams":[]}}]""")
  }

  test("run1: full pipeline golden state") {
    writeRun1()
    EtlPipeline.runFromDir(spark, dir, wh, ts("2026-01-10 00:00:00"))

    // system_state (U1)
    assert(table("system_state").collect().map(r =>
      (r.getString(0), r.getString(1))).toSet == Set(("current_week", "3")))

    // departments (U3): coalesced name, [:50] truncation, embedded parent
    val depts = table("departments").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(depts(11) == ("КСУ", "КСУ"))
    assert(depts(12)._2 == longName.take(50))
    assert(depts(77)._1 == "Новая кафедра")

    // faculties (J4): placeholder parent synthesized
    val facs = table("faculties").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(facs(99) == "Unknown Faculty 99")

    // specialities (U4/F8): education_form falsy chain name → id → Unknown
    val specs = table("specialities").collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(specs == Map(100L -> "Дневная", 101L -> "2", 102L -> "Unknown"))

    // student_groups (A4/J3 + A6/A7): unknown-FK row skipped, degree default,
    // counts back-propagated from own schedule docs
    val groups = table("student_groups").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(4), r.getInt(5),
        r.isNullAt(7))).toSet
    assert(groups == Set(
      (1000L, "253501", 1, 24, true),   // 25 → 24 back-prop
      (1001L, "253502", 1, 19, true),   // degree defaulted, 20 → 19
      (1002L, "353501", 2, 18, true)))  // untouched; 1003 skipped

    // employees (U5) + bridge (J2/U8): urlId-less skipped; normalized
    // two-key lookup; unknown dept dropped; set-dedup
    assert(table("employees").collect().map(_.getLong(0)).toSet ==
      Set(500L, 501L, 503L))
    val bridge = table("departments_employees").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 503 names department 77, which only auditory 902 embeds: employees
    // reads `departments` before auditories inserts it, so no link yet
    assert(bridge == Set((10L, 500L), (11L, 500L)))

    // auditories (U6/J5/F11): display names, FK null-out, embedded dept FK
    val auds = table("auditories").collect().map(r =>
      r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toMap
    assert(auds(900) == ("101-4 к.", Some(10L)))
    assert(auds(901) == ("202-5", None))      // "5" already substring
    assert(auds(902) == ("303-6 к.", Some(77L)))
    assert(auds(903) == ("404", None))        // unknown 999 → null

    // schedule_events (E3/E4/F1-F8): skips + defaults
    // (partitioned layout moves entity_type to the end — pin declared order)
    val ev = table("schedule_events").select(
      Schemas.scheduleEventsTable.fieldNames.map(
        org.apache.spark.sql.functions.col): _*)
    val e1 = ev.filter("entity_name = '253501'").collect()
    val subjects = e1.map(_.getString(2)).toSet
    assert(subjects == Set("Матан", "Без названия", "Физика",
      "Экз Матан", "Экзамен"))             // Bad time + bad date skipped
    val noName = e1.filter(_.getString(2) == "Без названия").head
    assert(noName.getSeq[Int](7) == Seq(1, 2, 3, 4))  // [0] → default weeks
    val fiz = e1.filter(_.getString(2) == "Физика").head
    assert(fiz.getSeq[String](10) == Seq("905", "101-4 к."))  // int → "905"
    val exam2 = e1.filter(_.getString(2) == "Экзамен").head
    assert(exam2.getInt(5) == 0)                      // bad time → 00:00
    assert(exam2.getDate(9).toString == "2026-06-16")
    assert(ev.filter("entity_name = 'ivanov'").count() == 1)

    // occupancy_index (EP3): grain, collect_set merge, unknown room dropped
    val occ = table("occupancy_index").collect().map(r =>
      ((r.getInt(0), r.getInt(2), r.getInt(3), r.getLong(5)),
        (r.getSeq[String](7), r.getLong(8), r.getString(1)))).toMap
    // Mon wk1 09:00 room 900: both groups share the slot
    assert(occ((1, 1, 32400, 900L)) ==
      (Seq("253501", "253502"), 2L, "Понедельник"))
    // Mon wk2 09:00 room 902 via dict auditory
    assert(occ((1, 2, 32400, 902L))._1 == Seq("253501"))
    // default-weeks lesson occupies 202-5 on all 4 weeks
    assert((1 to 4).forall(w => occ.contains((1, w, 39600, 901L))))
    // Физика wk3: room "905" unknown → dropped, 101-4 к. kept
    assert(occ((3, 3, 32400, 900L))._1 == Seq("253501"))
    // employee events and exams (no weekday) excluded
    assert(!occ.keys.exists(_._1 == 2))

    // bronze (A5): one open version per entity
    val bronze = table("schedule_json_storage")
    assert(bronze.count() == 3 && bronze.filter("valid_to IS NULL").count() == 3)

    // T1: lexemes present on events
    val lex = e1.filter(_.getString(2) == "Матан").head.getSeq[String](13)
    assert(lex.contains("матан") && lex.contains("математический") &&
      lex.contains("253501"))
  }

  test("run2: SCD2 branches, frozen columns, bronze versioning, idempotent gold") {
    // depends on run1 state
    write("student-groups.json",
      """[{"id":1000,"name":"253501","course":3,"educationDegree":1,
           "numberOfStudents":24,"specialityDepartmentEducationFormId":100},
          {"id":1001,"name":"253502","course":2,"numberOfStudents":21,
           "specialityDepartmentEducationFormId":100},
          {"id":1004,"name":"453501","course":4,"educationDegree":2,
           "numberOfStudents":12,"specialityDepartmentEducationFormId":102}]""")
    write("employees.json",
      """[{"id":500,"firstName":"ДругоеИмя","lastName":"Иванов",
           "degree":"д.т.н.","rank":"профессор","urlId":"ivanov",
           "academicDepartment":[{"name":"КСУ"}]},
          {"id":503,"firstName":"Нина","lastName":"Новикова",
           "urlId":"novikova","academicDepartment":["Новая кафедра"]}]""")
    write("schedules.json",
      """[{"entityName":"253501","entityType":"group","data":{"schedules":{
            "Понедельник":[
              {"subject":"Матан","startLessonTime":"09:00",
               "endLessonTime":"10:20","weekNumber":[1],
               "auditories":["101-4 к."],
               "studentGroups":[{"name":"253501","numberOfStudents":30}]}]},
           "exams":[]}}]""")
    Seq("faculties.json", "departments.json", "specialities.json",
      "auditories.json", "current-week.json")
      .foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
    EtlPipeline.runFromDir(spark, dir, wh, ts("2026-02-01 00:00:00"))

    val g = table("student_groups").collect().map(r =>
      (r.getLong(0), r.getInt(2), r.getInt(5),
        Option(r.getTimestamp(6)).map(_.toString).orNull,
        Option(r.getTimestamp(7)).map(_.toString).orNull)).toSet
    val t1 = "2026-01-10 00:00:00.0"; val t2 = "2026-02-01 00:00:00.0"
    assert(g == Set(
      (1000L, 2, 24, t1, t2),   // (b) tracked change: closed old version
      (1000L, 3, 30, t2, null), //     new open version + run2 back-prop 30
      (1001L, 2, 21, t1, null), // (c) Type 1 in place, valid_from kept
      (1002L, 3, 18, t1, t2),   // (d) absent → soft delete
      (1004L, 4, 12, t2, null)))// (a) brand new

    // U5 frozen columns: rank/degree updated, first_name frozen
    val emp500 = table("employees").filter("id = 500").collect().head
    assert(emp500.getString(1) == "Иван")         // frozen
    assert(emp500.getString(5) == "профессор")    // updated
    // bridge fully replaced for employee 500; 503 links to department 77,
    // which run 1's auditories inserted after run 1's employees read
    assert(table("departments_employees").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((11L, 500L), (77L, 503L)))

    // bronze: 253501 has closed v1 + open v2; untouched entities stay open
    val b = table("schedule_json_storage")
      .filter("entity_name = '253501'").collect()
      .map(r => Option(r.getTimestamp(4)).map(_.toString).orNull).toSet
    assert(b == Set(t2, null))
    assert(table("schedule_json_storage").filter("valid_to IS NULL").count() == 3)

    // occupancy rebuilt from replaced events: 253501 slice replaced wholesale,
    // 253502's untouched events survive (delete+insert is per entity)
    val occ = table("occupancy_index").collect().map(r =>
      ((r.getInt(0), r.getInt(2), r.getInt(3), r.getLong(5)),
        r.getSeq[String](7))).toMap
    assert(occ((1, 1, 32400, 900L)) == Seq("253501", "253502"))
    assert(!occ.contains((1, 2, 32400, 902L)))  // week-2 room-902 gone

    // rerun with identical inputs → byte-identical gold (idempotency)
    val before = table("occupancy_index").collect().map(_.toString).sorted
    EtlPipeline.runFromDir(spark, dir, wh, ts("2026-02-02 00:00:00"))
    val after = table("occupancy_index").collect().map(_.toString).sorted
    assert(before.sameElements(after))
  }

  test("run3: corrupt payload quarantined, good entities still processed") {
    import spark.implicits._
    val ctx = EtlContext(spark, wh, ts("2026-03-01 00:00:00"))
    val raw = Seq(
      ("253502", "group",
        """{"schedules":{"Вторник":[{"subject":"Новое","startLessonTime":
           "10:00","endLessonTime":"11:00","auditories":["202-5"]}]},
           "exams":[]}""".replaceAll("\n\\s*", "")),
      ("brokenentity", "group", "NOT JSON {{{"))
      .toDF("entity_name", "entity_type", "raw_json")
    ScheduleFlatten.ingest(ctx, raw)

    val rejects = table("schedule_rejects").collect()
      .map(r => (r.getString(0), r.getString(3)))
    assert(rejects.toSeq == Seq(("brokenentity", "unparseable json")))
    // the good entity's slice was still replaced
    val ev = table("schedule_events").filter("entity_name = '253502'")
      .select("subject").collect().map(_.getString(0))
    assert(ev.toSeq == Seq("Новое"))
    // and nothing from the broken entity leaked into bronze
    assert(table("schedule_json_storage")
      .filter("entity_name = 'brokenentity'").count() == 0)
  }

  private val allTables = Seq(
    "system_state" -> Schemas.systemState,
    "faculties" -> Schemas.facultiesTable,
    "departments" -> Schemas.departmentsTable,
    "specialities" -> Schemas.specialitiesTable,
    "student_groups" -> Schemas.studentGroupsTable,
    "employees" -> Schemas.employeesTable,
    "departments_employees" -> Schemas.departmentsEmployeesTable,
    "auditories" -> Schemas.auditoriesTable,
    "schedule_rejects" -> Schemas.scheduleRejectsTable,
    "schedule_json_storage" -> Schemas.scheduleJsonStorageTable,
    "schedule_events" -> Schemas.scheduleEventsTable,
    "occupancy_index" -> Schemas.occupancyIndexTable)

  test("step declarations cover every table each step reads and replaces") {
    writeRun1()
    val in = EtlPipeline.inputs(spark, StagedDirSource(dir))
    val steps = EtlPipeline.steps(in)
    assert(steps.map(_.name).toSet.size == steps.size)
    // a cold run, then a warm one over the state it left
    Seq("2026-01-10 00:00:00", "2026-02-01 00:00:00").foreach { t =>
      steps.foreach { step =>
        val seen = scala.collection.mutable.Set.empty[(String, Boolean)]
        step.body(EtlContext(spark, s"$dir/wh_declared", ts(t),
          seen = (table, replaces) => seen.synchronized {
            seen += ((table, replaces)); ()
          }))
        val read = seen.collect { case (tb, false) => tb }.toSet
        val replaced = seen.collect { case (tb, true) => tb }.toSet
        assert(replaced.nonEmpty, s"${step.name} replaced nothing")
        assert(replaced.subsetOf(step.replaces),
          s"${step.name} replaces undeclared ${replaced -- step.replaces}")
        assert(read.forall(step.touches), s"${step.name} reads undeclared " +
          s"${read.filterNot(step.touches)}")
      }
    }
  }

  test("a failed step stops only its dependents; a rerun converges") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    writeRun1()
    val in = EtlPipeline.inputs(spark, StagedDirSource(dir))
    val broken = in.copy(employees = in.employees.map(_.withColumn("v",
      when(col("v").isNotNull, raise_error(lit("employees feed broken")))
        .otherwise(col("v")))))
    def ctx(wh: String, t: String) =
      EtlContext(spark, s"$dir/$wh", ts(t))
    def versions(wh: String): Map[String, Option[Int]] =
      allTables.map { case (t, _) =>
        t -> graft.sources.TxLogTable(spark, s"$dir/$wh/$t").latestVersion
      }.toMap
    def rows(wh: String): Map[String, Seq[String]] =
      allTables.map { case (t, sch) =>
        t -> graft.sources.TxLogTable(spark, s"$dir/$wh/$t").snapshot(sch)
          .collect().map(_.toString).sorted.toSeq
      }.toMap
    val (t1, t2) = ("2026-01-10 00:00:00", "2026-02-01 00:00:00")
    EtlPipeline.run(ctx("wh_failed", t1), in)
    EtlPipeline.run(ctx("wh_clean", t1), in)

    val before = versions("wh_failed")
    val e = intercept[Exception](EtlPipeline.run(ctx("wh_failed", t2), broken))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage)
        .contains("employees feed broken")), e.toString)
    val after = versions("wh_failed")
    // employees failed: it and everything after it on its tables waited
    Seq("employees", "departments_employees", "auditories",
      "occupancy_index").foreach(t =>
      assert(after(t) == before(t), s"$t committed after the failure"))
    // steps on unrelated tables ran and committed
    Seq("faculties", "specialities", "student_groups", "schedule_rejects",
      "schedule_json_storage", "schedule_events").foreach(t =>
      assert(after(t).get > before(t).get, s"$t did not commit"))

    EtlPipeline.run(ctx("wh_failed", t2), in)
    EtlPipeline.run(ctx("wh_clean", t2), in)
    val (got, want) = (rows("wh_failed"), rows("wh_clean"))
    allTables.foreach { case (t, _) => assert(got(t) == want(t), t) }
  }
}
