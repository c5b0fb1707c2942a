package graft.etl

import org.apache.spark.sql.functions._

/** Gold layer — the occupancy-index rebuild (EP3, reference
  * `/root/reference/iis_etl/logic.py:447-476`): scan events → filter group
  * rows with a weekday → explode weeks × rooms (the reference's double
  * `CROSS JOIN LATERAL unnest`) → inner-join the rooms dimension by name
  * (unknown rooms drop) → group by the occupancy grain → sorted distinct
  * group list + event count → day-name CASE.
  *
  * The reference TRUNCATEs first and can be left empty on failure
  * (logic.py:449,474-476); our rewrite is atomic (one overwrite commit in
  * [[EtlContext.replace]]). The only shuffle in this plan is the final
  * group-by — the rooms join is a broadcast; at 100 TB, `schedule_events`
  * partitioned by entity_type also gives partition pruning on the filter.
  */
object Occupancy {

  def rebuild(ctx: EtlContext): Unit = {
    if (!ctx.exists("schedule_events")) return
    val events = ctx.read("schedule_events", Schemas.scheduleEventsTable)
    val rooms = ctx.read("auditories", Schemas.auditoriesTable)
      .select(col("id").as("auditory_id"), col("name").as("auditory_name"))

    val exploded = events
      .filter(col("entity_type") === "group" && col("day_of_week").isNotNull)
      .select(col("entity_name"), col("day_of_week"),
        col("start_sec"), col("end_sec"),
        explode(col("week_numbers")).as("week_num"),
        col("auditories"))
      .select(col("entity_name"), col("day_of_week"), col("week_num"),
        col("start_sec"), col("end_sec"),
        explode(col("auditories")).as("aud_name"))

    val occupancy = exploded
      .join(broadcast(rooms), col("aud_name") === col("auditory_name"))
      .groupBy("day_of_week", "week_num", "start_sec", "end_sec",
        "auditory_id", "auditory_name")
      .agg(array_sort(collect_set(col("entity_name"))).as("groups"),
        count(lit(1)).as("n_events"))
      .withColumn("day_name", ScheduleFlatten.dayNameCase(col("day_of_week")))
      .select(Schemas.occupancyIndexTable.fieldNames.toIndexedSeq.map(col): _*)

    ctx.replace("occupancy_index", occupancy)
  }
}
