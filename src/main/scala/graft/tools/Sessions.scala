package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session the tool mains build, in [[graft.Bench]]'s shape:
  * `local[cores]` with as many shuffle partitions, the graft extensions,
  * UTC, ANSI off (reference semantics: a failed parse is NULL),
  * `nanosAsLong` so `events.parquet`'s TIMESTAMP(NANOS) column reads, and
  * INT64 TIMESTAMP_MICROS writes — Spark's legacy INT96 carries no column
  * statistics, so manifest range pruning on time predicates needs the pin.
  * Logs at ERROR. `graft.Bench` (the timed harness) and `graft.Verify`
  * (whose INT96 dumps the oracle reads) keep their own builders.
  */
object Sessions {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
