package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** Warehouse context: transaction-log tables under `warehouse` + the pinned
  * run timestamp.
  *
  * The reference commits row-at-a-time into Postgres; each of our tables is
  * a [[graft.sources.TxLogTable]] rewritten per run (merge-by-rewrite,
  * SURVEY §2.4). A replace is one overwrite commit: the new files are
  * staged first and become visible in a single manifest publish, so a
  * crash at any point leaves the previous version readable — the moral
  * equivalent of the reference's transaction, and the reason a failed
  * occupancy rebuild can no longer leave a truncated table behind
  * (`/root/reference/iis_etl/logic.py:449,474-476`).
  *
  * One `runTs` is captured per run and used for every SCD2 close/open in that
  * run (deterministic reruns; documented deviation from the reference's
  * per-statement `now()`, SURVEY §7).
  *
  * `seen` observes every table access as `(table, replaces)`: reads and
  * existence probes with `false`, replaces with `true`. The pipeline's
  * step declarations ([[EtlPipeline.Step]]) are checked against it.
  */
final case class EtlContext(spark: SparkSession, warehouse: String,
                            runTs: java.sql.Timestamp,
                            seen: (String, Boolean) => Unit = (_, _) => ()) {

  val runTsCol: Column = lit(runTs)

  private def tx(table: String): graft.sources.TxLogTable =
    graft.sources.TxLogTable(spark, Paths.get(warehouse, table).toString)

  def exists(table: String): Boolean = {
    seen(table, false)
    tx(table).latestVersion.isDefined
  }

  /** Read a table; absent table → empty DataFrame with the declared schema
    * (DDL-bootstrap semantics: create-if-absent, reference main.py:26-29).
    */
  def read(table: String, schema: StructType): DataFrame = {
    seen(table, false)
    tx(table).snapshot(schema)
  }

  /** Atomic table replace: one overwrite commit. `partitionCols` lays the
    * batch out hive-style (SURVEY §4: events partitioned by entity_type
    * match every delete/filter predicate — at 100 TB that is partition
    * pruning), and snapshot reads recover the partition columns via
    * basePath (TxLogTable scaladoc).
    */
  def replace(table: String, df: DataFrame,
              partitionCols: Seq[String] = Nil): Unit = {
    seen(table, true)
    tx(table).commit(df, overwrite = true, partitionCols = partitionCols)
    ()
  }

  /** The transaction-log table behind `name` — the operational surface:
    * change feed, compaction, history, vacuum and row-level DML are its
    * methods ([[graft.sources.TxLogTable]]).
    */
  def table(name: String): graft.sources.TxLogTable = tx(name)
}
