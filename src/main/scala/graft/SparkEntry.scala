package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CoreQueries, EtlQueries, MultimodalQueries, Query, SimQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator family from SURVEY §2 (or
  * a training-data-pipeline extension) over the driver's testdata tables; the
  * paired [[oracleSql]] is the ANSI-SQL equivalent the driver runs in DuckDB
  * over the same parquet to hash-compare results. Both maps are derived from
  * the one [[graft.queries.Query]] declaration per query in the five query
  * files; loading this object fails if two declarations share a name.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * EP3 occupancy-index rebuild shape (SURVEY §3): filter → double explode →
    * broadcast dim join → group-by grain → sorted distinct array agg.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("occupancy_index")(spark, "/root/testdata/sf0.001")

  private val declared: Seq[Query] =
    CoreQueries.queries ++ TextQueries.queries ++ SimQueries.queries ++
      MultimodalQueries.queries ++ EtlQueries.queries

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.byName(declared)(_.body)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  val oracleSql: Map[String, String] = Query.byName(declared)(_.oracle)
}
