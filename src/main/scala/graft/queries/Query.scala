package graft.queries

import scala.collection.immutable.HashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query, declared once: its name, the ANSI SQL that
  * DuckDB runs over the same parquet tables to hash-compare the result
  * (`tools/check_oracle.py`), and the body that computes it from
  * `(session, sfDir)`.
  */
final case class Query(name: String, oracle: String)(
    val body: (SparkSession, String) => DataFrame)

object Query {

  /** `f` of each declaration keyed by its name. Fails if two declarations
    * share a name: in a map literal the later one would silently shadow
    * the earlier.
    */
  def byName[V](qs: Seq[Query])(f: Query => V): Map[String, V] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    HashMap.from(qs.iterator.map(q => q.name -> f(q)))
  }
}
