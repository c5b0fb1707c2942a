package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Orchestrator — the reference's `main()` (EP1, SURVEY §3) as a DAG of
  * table syncs. Each [[Step]] declares the warehouse tables it reads and
  * the tables it replaces. Two steps CONFLICT when they share a table and
  * either one replaces it (write→read, write→write, read→write). [[run]]
  * starts a step once every EARLIER step it conflicts with has finished,
  * and overlaps everything else. So conflicting steps keep the reference
  * order: specialities consume faculties, groups consume specialities,
  * employees read the department map before auditories extends it, and
  * the gold rebuild reads the events and the rooms. Every step reads
  * exactly the table versions the sequential run would give it (conflict
  * serializability), so the warehouse comes out as the sequential run
  * leaves it. Only the order among steps on unrelated tables changes, and
  * that order is not observable.
  *
  * Failure is the one deviation from the reference, which stops at the
  * first failing phase (main.py:59-61): a failed step's dependents never
  * start, but steps on unrelated tables still run and commit. Once all
  * have settled, the failure of the earliest-declared step is rethrown
  * unwrapped, with the others suppressed onto it. Each commit is still
  * atomic per table, and a rerun of the run (same `runTs`) leaves every
  * table as a clean run does: each step is a merge-by-rewrite of its own
  * tables, and bronze versioning replaces the versions its own run opened.
  */
object EtlPipeline {

  final case class Inputs(
      currentWeek: Option[String],
      faculties: Option[DataFrame],
      departments: Option[DataFrame],
      specialities: Option[DataFrame],
      studentGroups: Option[DataFrame],
      employees: Option[DataFrame],   // one VariantType column `v` per row
      auditories: Option[DataFrame],
      schedules: Option[DataFrame])   // entity_name, entity_type, raw_json

  /** One table sync: the warehouse tables it reads besides the ones it
    * replaces (a replace is a merge-by-rewrite, so it reads its own
    * tables too), the tables it replaces, and its body. */
  final case class Step(name: String, reads: Set[String],
                        replaces: Set[String], body: EtlContext => Unit) {
    def touches(table: String): Boolean =
      reads(table) || replaces(table)
    def conflicts(that: Step): Boolean =
      replaces.exists(that.touches) || that.replaces.exists(touches)
  }

  /** Steps in flight at once. A nightly run's steps are small jobs bound
    * by per-action fixed cost; at most six have no predecessor, and on a
    * 4-core box 6 in flight measured a little faster than 3 or 4. */
  val MaxInFlight = 6

  /** The pipeline's steps for `in`, in the reference order (main.py:40-55):
    * dimensions, schedule ingest, gold rebuild. An absent input has no
    * step. */
  def steps(in: Inputs): Seq[Step] =
    Seq(
      in.currentWeek.map(w => Step("system_state", Set.empty,
        Set("system_state"),
        DimSync.systemState(_, "current_week", lit(w)))),
      in.faculties.map(df => Step("faculties", Set.empty,
        Set("faculties"), DimSync.faculties(_, df))),
      in.departments.map(df => Step("departments", Set.empty,
        Set("departments"), DimSync.departments(_, df))),
      // may insert placeholder faculties (J4)
      in.specialities.map(df => Step("specialities", Set.empty,
        Set("faculties", "specialities"), DimSync.specialities(_, df))),
      in.studentGroups.map(df => Step("student_groups",
        Set("specialities"), Set("student_groups"),
        DimSync.studentGroups(_, df))),
      in.employees.map(df => Step("employees", Set("departments"),
        Set("employees", "departments_employees"),
        DimSync.employees(_, df))),
      // inserts embedded departments (logic.py:241-251)
      in.auditories.map(df => Step("auditories", Set.empty,
        Set("departments", "auditories"), DimSync.auditories(_, df)))
    ).flatten ++
      in.schedules.toSeq.flatMap(scheduleSteps) :+
      Step("occupancy_index", Set("schedule_events", "auditories"),
        Set("occupancy_index"), Occupancy.rebuild)

  /** EP2 over one shared frame of parsable payloads: rejects, bronze,
    * count back-propagation (which rewrites `student_groups`) and events
    * (main.py:51-52). */
  def scheduleSteps(raw: DataFrame): Seq[Step] = {
    val parsable = ScheduleFlatten.parsable(raw)
    Seq(
      Step("schedule_rejects", Set.empty, Set("schedule_rejects"),
        ScheduleFlatten.rejects(_, raw)),
      Step("schedule_json_storage", Set.empty,
        Set("schedule_json_storage"), ScheduleFlatten.bronze(_, parsable)),
      Step("count_backprop", Set.empty, Set("student_groups"),
        ScheduleFlatten.backPropagateCounts(_, parsable)),
      Step("schedule_events", Set.empty, Set("schedule_events"),
        ScheduleFlatten.events(_, parsable)))
  }

  def run(ctx: EtlContext, in: Inputs): Unit = runSteps(ctx, steps(in))

  /** Run `steps`, each after every earlier step it conflicts with. */
  def runSteps(ctx: EtlContext, steps: Seq[Step]): Unit = {
    graft.util.Overlap.inDag(steps.map(s => () => s.body(ctx)),
      steps.indices.map(i => (0 until i).filter(steps(_).conflicts(steps(i)))),
      MaxInFlight)
    ()
  }

  /** Run against any [[ApiSource]] (S1–S3 boundary): payloads are API-shaped
    * JSON (FIXTURES.md §A) — `/faculties`, `/departments`, `/specialities`,
    * `/student-groups`, `/auditories` — arrays of objects; `/employees/all`
    * — array parsed via VariantType (heterogeneous academicDepartment);
    * `/schedule` — array of {entityName, entityType, data};
    * `/schedule/current-week` — scalar. Every table is a transaction log;
    * `txLog` only accepts `true`, kept for callers that pass it by name.
    */
  def runFromSource(spark: SparkSession, source: ApiSource,
                    warehouse: String, runTs: java.sql.Timestamp,
                    txLog: Boolean = true): EtlContext = {
    require(txLog, "the transaction log is the only ETL backend")
    val ctx = EtlContext(spark, warehouse, runTs)
    run(ctx, inputs(spark, source))
    ctx
  }

  /** The pipeline's inputs, read from `source`'s endpoints. */
  def inputs(spark: SparkSession, source: ApiSource): Inputs = {
    import spark.implicits._
    def readArr(endpoint: String,
                schema: org.apache.spark.sql.types.StructType) =
      source.fetch(endpoint).map(payload =>
        spark.read.schema(schema).option("multiLine", "true")
          .json(Seq(payload).toDS()))
    def wholeVariant(endpoint: String): Option[DataFrame] =
      source.fetch(endpoint).map { payload =>
        Seq(payload).toDF("value")
          // malformed payload → zero rows (quarantine), mirroring the
          // reference's skip-entity-and-continue (logic.py:422-424)
          .select(try_parse_json(col("value")).as("doc"))
          .filter(col("doc").isNotNull)
          .select(explode(try_variant_get(col("doc"), "$",
            "array<variant>")).as("v"))
      }

    val schedules = wholeVariant("/schedule").map(df =>
      df.select(
        try_variant_get(col("v"), "$.entityName", "string").as("entity_name"),
        try_variant_get(col("v"), "$.entityType", "string").as("entity_type"),
        to_json(try_variant_get(col("v"), "$.data", "variant")).as("raw_json")))
    val week = source.fetch("/schedule/current-week").map(_.trim)

    Inputs(
      currentWeek = week,
      faculties = readArr("/faculties", Schemas.faculty),
      departments = readArr("/departments", Schemas.department),
      specialities = readArr("/specialities", Schemas.speciality),
      studentGroups = readArr("/student-groups", Schemas.studentGroup),
      employees = wholeVariant("/employees/all"),
      auditories = readArr("/auditories", Schemas.auditory),
      schedules = schedules)
  }

  /** Convenience: run against pre-staged JSON files in a directory. */
  def runFromDir(spark: SparkSession, inputDir: String,
                 warehouse: String, runTs: java.sql.Timestamp,
                 txLog: Boolean = true): EtlContext =
    runFromSource(spark, StagedDirSource(inputDir), warehouse, runTs, txLog)
}
