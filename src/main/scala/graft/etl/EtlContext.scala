package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** Warehouse context: parquet table paths + the pinned run timestamp.
  *
  * The reference commits row-at-a-time into Postgres; our tables are immutable
  * parquet directories rewritten atomically per run (merge-by-rewrite, SURVEY
  * §2.4). Because a rewrite both reads and replaces the same table, writes go
  * to a staging dir that is swapped in only after the write succeeds — the
  * moral equivalent of the reference's transaction, and the reason a failed
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
                            txLog: Boolean = false,
                            seen: (String, Boolean) => Unit = (_, _) => ()) {

  val runTsCol: Column = lit(runTs)

  private def path(table: String): Path = Paths.get(warehouse, table)

  private def tx(table: String): graft.sources.TxLogTable =
    graft.sources.TxLogTable(spark, path(table).toString)

  def exists(table: String): Boolean = {
    seen(table, false)
    if (txLog) tx(table).latestVersion.isDefined
    else Files.exists(path(table))
  }

  /** Read a table; absent table → empty DataFrame with the declared schema
    * (DDL-bootstrap semantics: create-if-absent, reference main.py:26-29).
    */
  def read(table: String, schema: StructType): DataFrame = {
    seen(table, false)
    if (txLog) tx(table).snapshot(schema)
    else if (exists(table))
      spark.read.schema(schema).parquet(path(table).toString)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Atomic table replace. Default backend: write to staging, then swap
    * directories — `partitionCols` lays the table out hive-style (SURVEY
    * §4: events partitioned by entity_type match every delete/filter
    * predicate — at scale that is partition pruning plus dynamic-partition-
    * overwrite-shaped slice replacement). With `txLog = true` the replace
    * is a transaction-log overwrite commit instead — safe on stores whose
    * directory rename is not atomic; `partitionCols` is threaded into the
    * commit, so the batch keeps its hive layout and snapshot reads recover
    * the partition columns via basePath (TxLogTable scaladoc).
    */
  def replace(table: String, df: DataFrame,
              partitionCols: Seq[String] = Nil): Unit = {
    seen(table, true)
    if (txLog) {
      tx(table).commit(df, overwrite = true, partitionCols = partitionCols)
      ()
    }
    else {
      val tmp = Paths.get(warehouse, s"_staging_$table")
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
      deleteRecursive(path(table))
      Files.move(tmp, path(table))
    }
  }

  /** The transaction-log table behind `name` (tx-log backend only) — the
    * operational surface: change feed, compaction, history, vacuum and
    * row-level DML are its methods ([[graft.sources.TxLogTable]]).
    */
  def table(name: String): graft.sources.TxLogTable = {
    require(txLog, s"table($name) requires the txLog backend")
    tx(name)
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
      }
}
