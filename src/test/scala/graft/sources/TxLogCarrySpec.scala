package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** State a commit must carry from the version it builds on: the table
  * properties of a schema-evolution commit, and the masks a group
  * replacement (the SQL UPDATE / MERGE publish) must neither drop nor
  * silently undo when they land between its scan and its publish.
  */
class TxLogCarrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(prefix: String): TxLogTable =
    TxLogTable(spark, Files.createTempDirectory(prefix).resolve("t").toString)

  test("schema evolution keeps the time layout and optimizeWrite") {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("ts", TimestampType), StructField("x", StringType)))
    // (evolution, the next append's columns in the evolved schema)
    val cases: Seq[(String, TxLogTable => Int, String)] = Seq(
      ("renameColumn", _.renameColumn("x", "y"),
        "CAST(id AS INT) AS id, ts, 'r' AS y"),
      ("addColumn", _.addColumn("z", LongType),
        "CAST(id AS INT) AS id, ts, 'a' AS x, id AS z"),
      ("dropColumn", _.dropColumn("x"), "CAST(id AS INT) AS id, ts"),
      ("widenColumn", _.widenColumn("id", LongType), "id, ts, 'w' AS x"))
    cases.foreach { case (name, evolve, select) =>
      val t = fresh("txcarry-evo")
      t.create(schema, partitionCols = Seq("_tp"),
        timeSpecs = Seq(("ts", "day")), optimizeWrite = true)
      val v = evolve(t)
      assert(t.timeSpecsOf(v) == Seq(("ts", "day")), name)
      assert(t.optimizeWriteOf(v), name)
      t.commit(spark.sql(s"SELECT $select FROM (SELECT id, " +
        "timestamp_seconds(1704067200 + id * 7200) AS ts FROM range(30))"),
        overwrite = false, partitionCols = Seq("_tp"))
      val rels = t.entries(None).map(_.rel)
      assert(rels.nonEmpty && rels.forall(_.startsWith("_tp=")),
        s"$name: the append after it must land in _tp= dirs: $rels")
    }
  }

  // two single-file versions (ids 0-4, then 5-9) and the rel of the
  // first file, which the "statement" below rewrites
  private val schema = StructType.fromDDL("id BIGINT, v STRING")

  private def twoFiles(t: TxLogTable): String = {
    t.commit((0L until 5L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), overwrite = true)
    t.commit((5L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), overwrite = false)
    t.entries(Some(0)).head.rel
  }

  // the rewritten content of the first file, staged for a group replace
  private def rewriteOfFirst(): java.nio.file.Path = {
    val scratch = Files.createTempDirectory("txcarry-s")
    (0L until 5L).map(i => (i, "upd")).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(scratch.toString)
    scratch
  }

  private def ids(t: TxLogTable): Set[Long] =
    t.snapshot(schema).collect().map(_.getLong(0)).toSet

  test("group replace keeps a concurrent positional delete of a carried " +
      "file and refuses one of a replaced file") {
    // the DV lands on the CARRIED file: the publish keeps it
    val t = fresh("txcarry-dv")
    val first = twoFiles(t)
    val scanned = t.latestVersion.get
    t.deleteWherePos(schema, col("id") === 7L)
    t.commitStagedReplace(rewriteOfFirst(), Some(Set(first)),
      "row-level-update", scanBase = Some(scanned),
      scanPred = Some(col("id") < 5L))
    assert(ids(t) == (0L until 10L).toSet - 7L,
      "row 7 was deleted after the scan and must stay deleted")
    assert(t.snapshot(schema).where("v = 'upd'").count() == 5)

    // the DV lands on the REPLACED file: the rewrite never saw the mask
    val u = fresh("txcarry-dv2")
    val firstU = twoFiles(u)
    val scannedU = u.latestVersion.get
    u.deleteWherePos(schema, col("id") === 2L)
    val before = u.latestVersion
    val err = intercept[java.util.ConcurrentModificationException] {
      u.commitStagedReplace(rewriteOfFirst(), Some(Set(firstU)),
        "row-level-update", scanBase = Some(scannedU),
        scanPred = Some(col("id") < 5L))
    }
    assert(err.getMessage.contains("positional delete"), err.getMessage)
    assert(u.latestVersion == before)
    assert(ids(u) == (0L until 10L).toSet - 2L)
  }

  test("group replace refuses a key delete that landed after its scan") {
    val t = fresh("txcarry-tomb")
    val first = twoFiles(t)
    val scanned = t.latestVersion.get
    t.deleteByKeysMor(Seq(2L).toDF("id"))
    val before = t.latestVersion
    val err = intercept[java.util.ConcurrentModificationException] {
      t.commitStagedReplace(rewriteOfFirst(), Some(Set(first)),
        "row-level-update", scanBase = Some(scanned),
        scanPred = Some(col("id") < 5L))
    }
    assert(err.getMessage.contains("key delete"), err.getMessage)
    assert(t.latestVersion == before)
    assert(ids(t) == (0L until 10L).toSet - 2L,
      "the deleted row must not resurrect")
  }
}
