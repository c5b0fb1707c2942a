package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional trailing names restrict the dump — dev fast loop; the driver
    // passes exactly (sfDir, outDir) and gets every query.
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the deployment config: native SQL functions + the txlog catalog
      // read rule (codegen path for catalog tables)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Reference semantics: parse failures yield null, never an error
      // (/root/reference/iis_etl/logic.py:52-56) — that is Spark's non-ANSI
      // behavior, so pin it against Spark 4's ANSI-on default.
      .config("spark.sql.ansi.enabled", "false")
      // NANOS-era events.parquet reads as epoch-nanos longs; timestamp[us]
      // regenerations are normalized to the same type in Tables.apply.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOT pinned to TIMESTAMP_MICROS here (unlike Bench/TestSpark/
      // tools): this session's parquet RESULT DUMPS feed the driver's
      // DuckDB hash compare, and INT64-micros timestamps carry
      // isAdjustedToUTC=true, which DuckDB reads as TIMESTAMPTZ while
      // the oracle SQL computes naive TIMESTAMP — identical instants,
      // different types, failed hash. Spark's INT96 default reads back
      // naive. Timestamp-stats pruning is exercised by the spec suite.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: one JSON object from query name to oracle SQL, in
    * the map's iteration order. Strings escape backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in an oracle string would
    * otherwise make a JSON reader reject the file and fail every compare.
    */
  def oracleJson(sql: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
