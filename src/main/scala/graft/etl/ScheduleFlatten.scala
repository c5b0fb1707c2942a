package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Scd2, Upsert}

/** The hot path (EP2, SURVEY §3): raw schedule JSON → bronze version history
  * → flattened `schedule_events` (silver) → student-count back-propagation.
  *
  * The reference walks each entity's JSON in Python row-at-a-time inside a
  * savepoint (`/root/reference/iis_etl/logic.py:271-404`); here the whole
  * corpus is ONE distributed plan: `parse_json` → VariantType, two `explode`s
  * (day map, lesson list), and per-field `try_variant_get` extraction — all
  * codegen'd, no driver loop, no UDF. Per-entity error isolation becomes
  * per-ROW quarantine: unparseable lessons null out and are filtered, exactly
  * the reference's skip semantics (P5).
  */
object ScheduleFlatten {

  /** RU day-name → ISO number (reference logic.py:13-16); unknown → null →
    * row skipped (logic.py:326).
    */
  val DayMap: Map[String, Int] = Map(
    "Понедельник" -> 1, "Вторник" -> 2, "Среда" -> 3, "Четверг" -> 4,
    "Пятница" -> 5, "Суббота" -> 6, "Воскресенье" -> 7)

  val DayNames: Map[Int, String] = DayMap.map(_.swap)

  private val dayMapLit: Column =
    map(DayMap.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*)

  def dayNameCase(day: Column): Column =
    DayNames.foldLeft(lit(null).cast(StringType)) {
      case (acc, (n, name)) => when(day === n, lit(name)).otherwise(acc)
    }

  /** "HH:MM" → seconds since midnight; malformed → null. */
  def timeSec(s: Column): Column = {
    val h = regexp_extract(s, "^(\\d{1,2}):(\\d{2})$", 1)
    val m = regexp_extract(s, "^(\\d{1,2}):(\\d{2})$", 2)
    when(h =!= "" && m =!= "",
      (h.cast(IntegerType) * 3600 + m.cast(IntegerType) * 60))
  }

  private def vgs(c: Column, field: String): Column =
    try_variant_get(c, s"$$.$field", "string")

  /** F5 (reference logic.py:36-50): safe name extraction from a
    * heterogeneous list. Dict items yield `strip(lastName + ' ' +
    * firstName)` (`fio = true`) or `.name`, and are DROPPED when falsy;
    * bare strings pass through unconditionally; every other type is
    * dropped — note ints survive the auditory extractor (logic.py:23-34)
    * but not this one. Type discrimination uses `schema_of_variant`, the
    * Variant equivalent of Python's isinstance checks — a numeric STRING
    * must still count as a string, so casting probes would misclassify.
    */
  def extractNamesSafe(items: Column, fio: Boolean = true): Column =
    filter(
      transform(items, i => {
        val sch = schema_of_variant(i)
        val dictVal =
          if (fio) trim(concat_ws(" ",
            coalesce(try_variant_get(i, "$.lastName", "string"), lit("")),
            coalesce(try_variant_get(i, "$.firstName", "string"), lit(""))))
          else try_variant_get(i, "$.name", "string")
        when(sch.startsWith("OBJECT"), when(length(dictVal) > 0, dictVal))
          .when(sch === "STRING", try_variant_get(i, "$", "string"))
      }),
      x => x.isNotNull)

  /** Flatten one corpus of raw schedule docs into `schedule_events` rows.
    *
    * @param raw columns: entity_name, entity_type, raw_json
    */
  def flatten(raw: DataFrame): DataFrame = {
    val base = raw.select(col("entity_name"), col("entity_type"),
      parse_json(col("raw_json")).as("v"))

    // --- lessons: {schedules: {<day-name>: [lesson]}} (E3) ---
    val lessonRows = base
      .select(col("entity_name"), col("entity_type"),
        explode(try_variant_get(col("v"), "$.schedules",
          "map<string,variant>")).as(Seq("day_name", "day_lessons")))
      .withColumn("day_of_week", element_at(dayMapLit, col("day_name")))
      .filter(col("day_of_week").isNotNull)             // F1: unknown day
      .select(col("entity_name"), col("entity_type"), col("day_of_week"),
        explode(try_variant_get(col("day_lessons"), "$", "array<variant>"))
          .as("lesson"))

    val lessons = extract(lessonRows, isExam = false)
      .filter(col("start_sec").isNotNull)               // F7 lesson policy
      .withColumn("exact_date",
        to_date(col("date_str"), "dd.MM.yyyy"))

    // --- exams: flat list with exact dates (E4) ---
    val examRows = base
      .select(col("entity_name"), col("entity_type"),
        lit(null).cast(IntegerType).as("day_of_week"),
        explode(try_variant_get(col("v"), "$.exams", "array<variant>"))
          .as("lesson"))
    val exams = extract(examRows, isExam = true)
      .withColumn("start_sec", coalesce(col("start_sec"), lit(0)))  // F7 exam
      .withColumn("end_sec", coalesce(col("end_sec"), lit(0)))
      .withColumn("exact_date", to_date(col("date_str"), "dd.MM.yyyy"))
      .filter(col("exact_date").isNotNull)              // F6: skip bad dates

    val events = lessons.unionByName(exams).drop("date_str")

    // T1 search vector (logic.py:394-404): subject ∥ subject_full ∥ entity
    // ∥ room names → lexeme array.
    events.withColumn("search_lexemes",
      TextFunctions.lexemes(concat_ws(" ",
        coalesce(col("subject"), lit("")),
        coalesce(col("subject_full"), lit("")),
        col("entity_name"),
        array_join(col("auditories"), " "))))
      .select(Schemas.scheduleEventsTable.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Shared lesson/exam field extraction (F3–F8, logic.py:336-385). */
  private def extract(rows: DataFrame, isExam: Boolean): DataFrame = {
    val l = col("lesson")
    val subjectDefault = if (isExam) "Экзамен" else "Без названия"
    val weeksRaw = try_variant_get(l, "$.weekNumber", "array<int>")
    // F3 default applies to lessons only; exams carry no week list — the
    // reference emits week_numbers=[] unconditionally for exams
    // (/root/reference/iis_etl/logic.py:376-381).
    val weeks =
      if (isExam) array().cast(ArrayType(IntegerType))
      else when(weeksRaw.isNull || size(weeksRaw) === 0 ||
          weeksRaw === array(lit(0)),
        array(lit(1), lit(2), lit(3), lit(4))).otherwise(weeksRaw)
    val subject = DimSync.coalesceFalsy(vgs(l, "subject"),
      lit(subjectDefault))                                        // F8
    rows.select(
      col("entity_name"), col("entity_type"), col("day_of_week"),
      subject.as("subject"),
      DimSync.coalesceFalsy(vgs(l, "subjectFullName"), subject)
        .as("subject_full"),                                      // F8
      timeSec(vgs(l, "startLessonTime")).as("start_sec"),
      timeSec(vgs(l, "endLessonTime")).as("end_sec"),
      weeks.as("week_numbers"),
      coalesce(try_variant_get(l, "$.numSubgroup", "int"), lit(0))
        .as("num_subgroup"),                                      // F8
      vgs(l, "dateLesson").as("date_str"),
      // F4: heterogeneous auditories — dict name, else id, else scalar
      filter(
        transform(try_variant_get(l, "$.auditories", "array<variant>"),
          a => coalesce(
            when(length(try_variant_get(a, "$.name", "string")) > 0,
              try_variant_get(a, "$.name", "string")),
            try_variant_get(a, "$.id", "string"),
            try_variant_get(a, "$", "string"))),
        x => x.isNotNull && length(x) > 0).as("auditories"),
      to_json(try_variant_get(l, "$.studentGroups", "variant"))
        .as("related_groups"),                                    // passthrough
      to_json(try_variant_get(l, "$.employees", "variant"))
        .as("related_employees"),
      try_variant_get(l, "$.studentGroups", "array<variant>").as("sgs"))
  }

  /** A6/A7 (logic.py:302-322): find each group's own first positive
    * numberOfStudents and write it back to the open SCD2 row (Type 1).
    * "First" is pinned to (day_of_week, start_sec, count) order — the
    * reference takes dict-iteration order; documented deviation (SURVEY §7).
    */
  def backPropagateCounts(ctx: EtlContext, raw: DataFrame): Unit = {
    val base = raw.filter(col("entity_type") === "group")
      .select(col("entity_name"), parse_json(col("raw_json")).as("v"))
    val counts = base
      .select(col("entity_name"),
        explode(try_variant_get(col("v"), "$.schedules",
          "map<string,variant>")).as(Seq("day_name", "day_lessons")))
      .withColumn("day_of_week", element_at(dayMapLit, col("day_name")))
      .filter(col("day_of_week").isNotNull)
      .select(col("entity_name"), col("day_of_week"),
        explode(try_variant_get(col("day_lessons"), "$", "array<variant>"))
          .as("lesson"))
      .select(col("entity_name"), col("day_of_week"),
        timeSec(vgs(col("lesson"), "startLessonTime")).as("start_sec"),
        explode(try_variant_get(col("lesson"), "$.studentGroups",
          "array<variant>")).as("sg"))
      .select(col("entity_name"), col("day_of_week"), col("start_sec"),
        try_variant_get(col("sg"), "$.name", "string").as("g_name"),
        try_variant_get(col("sg"), "$.numberOfStudents", "int").as("cnt"))
      .filter(col("g_name") === col("entity_name") && col("cnt") > 0)
    val w = Window.partitionBy("entity_name")
      .orderBy(col("day_of_week"), col("start_sec"), col("cnt"))
    val firstCnt = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("entity_name"), col("cnt"))

    val groups = ctx.read("student_groups", Schemas.studentGroupsTable)
    val updated = groups
      .join(broadcast(firstCnt), groups("name") === firstCnt("entity_name"),
        "left")
      .withColumn("number_of_students",
        when(col("valid_to").isNull && col("cnt").isNotNull, col("cnt"))
          .otherwise(col("number_of_students")))
      .drop("entity_name", "cnt")
    ctx.replace("student_groups", updated)
  }

  /** Full EP2 ingest on its own: rejects, bronze, count back-propagation
    * and events, run as [[EtlPipeline.run]] runs them.
    */
  def ingest(ctx: EtlContext, raw: DataFrame): Unit =
    EtlPipeline.runSteps(ctx, EtlPipeline.scheduleSteps(raw))

  /** Per-entity error isolation (reference logic.py:422-424): an entity
    * whose payload does not parse is quarantined (dropped from this run)
    * instead of failing the batch — the distributed analogue of the
    * reference's savepoint-rollback-and-continue. The other ingest steps
    * read only these rows.
    */
  def parsable(raw: DataFrame): DataFrame =
    raw.filter(try_parse_json(col("raw_json")).isNotNull)

  /** The quarantined entities of this run, with the reason. */
  def rejects(ctx: EtlContext, raw: DataFrame): Unit =
    ctx.replace("schedule_rejects",
      raw.filter(try_parse_json(col("raw_json")).isNull)
        .select(col("entity_name"), col("entity_type"), col("raw_json"),
          lit("unparseable json").as("reason"),
          ctx.runTsCol.as("rejected_at")))

  /** A5: bronze version history of the raw payloads. */
  def bronze(ctx: EtlContext, parsable: DataFrame): Unit = {
    val cur = ctx.read("schedule_json_storage",
      Schemas.scheduleJsonStorageTable)
    val inc = parsable.select(col("entity_name"), col("entity_type"),
      col("raw_json").as("data"))
    ctx.replace("schedule_json_storage",
      Scd2.versionedAppend(cur, inc,
        Seq("entity_name", "entity_type"), ctx.runTsCol))
  }

  /** Silver events, replaced per entity slice (U8). */
  def events(ctx: EtlContext, parsable: DataFrame): Unit = {
    val cur = ctx.read("schedule_events", Schemas.scheduleEventsTable)
    ctx.replace("schedule_events",
      Upsert.deleteInsert(cur, flatten(parsable),
        Seq("entity_name", "entity_type")),
      partitionCols = Seq("entity_type"))
  }
}
