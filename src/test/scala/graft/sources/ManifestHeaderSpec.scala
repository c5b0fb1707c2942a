package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The manifest-header codec and the carry rule: a hand-written header
  * decodes to the expected fields and round-trips, and every commit
  * family's header equals its base's carried header except the fields
  * that op documents changing.
  */
class ManifestHeaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType.fromDDL(
    "id BIGINT, k BIGINT, ts TIMESTAMP, s BIGINT, y STRING, n BIGINT")
  // `y` is created as `x` and renamed, so the table carries a colmap
  private val created = StructType(schema.fields.map(f =>
    if (f.name == "y") f.copy(name = "x") else f))
  private val layout = Seq("_tp", "_bkt")

  // `n` rows from id `lo`, three days of timestamps, sort keys that
  // overlap across batches (so resort finds damaged dirs)
  private def rows(lo: Long, n: Int, str: String = "y"): DataFrame =
    spark.sql(s"SELECT id, id % 7 AS k, " +
      "timestamp_seconds(1704067200 + (id % 3) * 86400) AS ts, " +
      s"(id * 37) % 101 AS s, 'r$lo' AS $str, id % 13 AS n " +
      s"FROM range($lo, ${lo + n})")

  // a table with every table property set
  private def propertyTable(sorted: Boolean): TxLogTable = {
    val t = TxLogTable(spark,
      Files.createTempDirectory("txhdr").resolve("t").toString)
    t.create(created, partitionCols = layout, bloomCols = Seq("id"),
      bucketSpecs = Seq(("k", 4)), sortCols = if (sorted) Seq("s") else Nil,
      ndvCols = Seq("n"), optimizeWrite = true,
      timeSpecs = Seq(("ts", "day")))
    t.commit(rows(0, 60, "x"), overwrite = false, partitionCols = layout,
      bloomBits = 16384)
    t.renameColumn("x", "y")
    t.addCheck(schema, "nonneg", "id >= 0")
    t.commit(rows(60, 60), overwrite = false, partitionCols = layout)
    t
  }

  private def changedFields(a: ManifestHeader,
                            b: ManifestHeader): Set[String] =
    a.productElementNames.zip(a.productIterator.zip(b.productIterator))
      .collect { case (f, (x, y)) if x != y => f }.toSet --
      Set("op", "commitMillis")

  private def rels(t: TxLogTable, v: Int): Seq[String] =
    t.entries(Some(v)).map(_.rel)

  test("every commit family carries its base header, changing only the " +
      "fields its op documents") {
    val t = propertyTable(sorted = true)
    // zorder and sortCols are competing layouts: the z-order rewrite
    // runs on an unsorted twin, with a live DV on a file it keeps
    val z = propertyTable(sorted = false)
    z.deleteWherePos(schema, col("id") === 0L)
    val setup = t.latestVersion.get
    val h0 = t.headerOf(setup)
    assert(h0.schema.contains(schema) && h0.colmap == Map("y" -> "x") &&
      h0.bloomCols == Seq("id") && h0.bloomBits.contains(16384) &&
      h0.bucketSpecs == Seq(("k", 4)) && h0.timeSpecs == Seq(("ts", "day")) &&
      h0.sortCols == Seq("s") && h0.ndvCols == Seq("n") && h0.ndv.nonEmpty &&
      h0.optimizeWrite && h0.checks == Seq(("nonneg", "id >= 0")), h0)

    // the header an op starts from: carried onto every file of `b` (the
    // op's own rewrites show up as changed dvs), carried onto none
    // (overwrite), or copied whole
    def carried(t: TxLogTable, b: Int) =
      t.headerOf(b).carry("", rels(t, b))
    def overwritten(t: TxLogTable, b: Int) =
      t.headerOf(b).carry("", Nil, overwrite = true)
    def copied(t: TxLogTable, b: Int) = t.headerOf(b)

    type Expect = (TxLogTable, Int) => ManifestHeader
    val cases: Seq[(String, TxLogTable, Expect, Set[String], () => Any)] = Seq(
      ("append", t, carried, Set("ndv"), () =>
        t.commit(rows(120, 30), overwrite = false, partitionCols = layout)),
      ("deleteWherePos", t, carried, Set("dvs"), () =>
        t.deleteWherePos(schema, col("id") === 3L)),
      ("updateWherePos", t, carried, Set("dvs", "ndv"), () =>
        t.updateWherePos(schema, col("id") === 4L, Seq("n" -> lit(99L)))),
      ("upsertPos", t, carried, Set("dvs", "ndv", "annotations"), () =>
        t.upsertPos(schema, rows(5, 1), Seq("id"),
          extraMeta = Seq("#probe=1"))),
      ("deleteByKeysMor", t, carried, Set("tombs", "morKeys"), () =>
        t.deleteByKeysMor(Seq(6L).toDF("id"))),
      ("merge", t, carried, Set("dvs", "ndv"), () =>
        t.merge(schema, rows(7, 2), Seq("id"))),
      ("deleteWhere", t, carried, Set("dvs"), () =>
        t.deleteWhere(schema, col("id") === 9L)),
      ("replaceWhere", t, carried, Set("dvs"), () =>
        t.replaceWhere(schema, col("id") === 10L, rows(10, 1))),
      ("commitDynamic", t, carried, Set("dvs", "ndv"), () =>
        t.commitDynamic(rows(200, 10), layout)),
      ("compactWhere", t, carried, Set("dvs"), () =>
        t.compactWhere(schema, Map("_tp" -> Set("2024-01-01")))),
      ("resort", t, carried, Set("dvs"), () => t.resort(schema)),
      ("compactSmall", t, carried, Set("dvs"), () =>
        t.compactSmall(schema, minBytes = 1L << 40)),
      ("zorder-where", z, carried, Set(), () =>
        z.compactZOrderWhere(schema, Map("_tp" -> Set("2024-01-02")),
          Seq("id", "n"), numFiles = 1)),
      ("addCheck", t, carried, Set("checks"), () =>
        t.addCheck(schema, "small", "n < 1000")),
      ("analyze", t, copied, Set("ndvCols", "ndv"), () =>
        t.analyze(schema, Seq("k"))),
      ("alterTimeUnit", t, copied, Set("timeSpecs"), () =>
        t.alterTimeUnit("ts", "hour")),
      ("restore", t, (t, _) => t.headerOf(setup), Set(), () =>
        t.restore(setup)),
      // the expectation forks the branch and commits on it; the op
      // publishes the branch head
      ("publishBranch", t, (t, _) => {
        t.createBranch("b")
        val bt = t.branchTable("b")
        bt.commit(rows(300, 5), overwrite = false, partitionCols = layout)
        bt.headerOf(bt.latestVersion.get)
      }, Set(), () => t.publishBranch("b")),
      ("overwrite", t, overwritten, Set("ndv"), () =>
        t.commit(rows(0, 40), overwrite = true, partitionCols = layout)),
      ("deleteByKeysMor again", t, carried, Set("tombs", "morKeys"), () =>
        t.deleteByKeysMor(Seq(12L).toDF("id"))),
      ("rebucket", t, overwritten, Set("bucketSpecs"), () =>
        t.rebucket(schema, 8)))

    cases.foreach { case (name, table, expect, allowed, run) =>
      val base = table.latestVersion.get
      val expected = expect(table, base)
      run()
      val next = table.latestVersion.get
      assert(next > base, s"$name committed nothing")
      val got = table.headerOf(next)
      val changed = changedFields(expected, got)
      assert(changed.subsetOf(allowed),
        s"$name changed ${changed -- allowed}: $expected -> $got")
    }
    // the file-bound cases above really carried something
    assert(t.headerOf(setup + 3).dvs.size == 2)
    assert(t.headerOf(setup + 4).annotations == Seq("#probe=1"))
    assert(t.headerOf(setup + 5).tombs.size == 1)
    assert(z.headerOf(z.latestVersion.get).dvs.size == 1)
  }

  test("a manifest in the older line order decodes to the same header") {
    val dv = TxLogTable.DvEntry("batch-d/part-0.parquet", 5, 2L,
      "_tp=2024-01-01/_bkt=1/part-1.parquet")
    val schemaJson = schema.json
    // the order the engine wrote before the header codec
    val lines = Seq("#partitionCols=_tp,_bkt", "#commitMillis=1700000000000",
      "#op=merge", "#bloomCols=id", "#bloomBits=16384",
      s"#schema=$schemaJson", "#colmap=y>x", "#bucketSpec=k:4",
      "#timeSpec=ts:day", "#sortCols=s", "#ndvCols=n",
      "#ndv:n=0a1,0b2", "#optimizeWrite=true", "#droppedPhys=old",
      "#morKeys=id", "#tomb=batch-t/part-0.parquet;v=4",
      s"#dv=${dv.dvRel};v=5;n=2;file=${dv.file}",
      "#check:nonneg=id >= 0", "#mvsrc=3",
      "_tp=2024-01-01/_bkt=1/part-1.parquet\t:rows=4:4")
    val expected = ManifestHeader(op = Some("merge"),
      commitMillis = Some(1700000000000L), partitionCols = layout,
      bloomCols = Seq("id"), annotations = Seq("#mvsrc=3"),
      schema = Some(schema), colmap = Map("y" -> "x"),
      droppedPhys = Set("old"), bloomBits = Some(16384),
      bucketSpecs = Seq(("k", 4)), timeSpecs = Seq(("ts", "day")),
      sortCols = Seq("s"), ndvCols = Seq("n"),
      ndv = Seq("n" -> Seq("0a1", "0b2")), optimizeWrite = true,
      checks = Seq("nonneg" -> "id >= 0"), morKeys = Seq("id"),
      tombs = Seq("batch-t/part-0.parquet" -> 4), dvs = Seq(dv))
    assert(ManifestHeader.decode(lines) == expected)
    assert(ManifestHeader.decode(expected.lines) == expected)
    assert(expected.lines.toSet == lines.filter(_.startsWith("#")).toSet,
      "only the line order may differ from the older writer")
    // and through a table: the accessors read the same values
    val root = Files.createTempDirectory("txhdr-old").resolve("t")
    Files.createDirectories(root.resolve("_log"))
    Files.write(root.resolve("_log").resolve("v00000000.manifest"),
      lines.mkString("\n").getBytes(UTF_8))
    val t = TxLogTable(spark, root.toString)
    assert(t.headerOf(0) == expected)
    assert(t.partitionColsOf(0) == layout && t.colMapOf(0) == expected.colmap &&
      t.checksOf(0) == Map("nonneg" -> "id >= 0") && t.dvsOf(0) == Seq(dv) &&
      t.metaOf(0, "mvsrc").contains("3") && t.ndvOf(0) == Map("n" -> 2L))
    assert(t.history().map(h => (h.op, h.numFiles)) == Seq((Some("merge"), 1)))
  }

  test("malformed values of tolerant keys are skipped; first value wins") {
    val h = ManifestHeader.decode(Seq("#op=a", "#op=b", "#colmap=a>b,bad",
      "#tomb=x;v=nope", "#dv=broken", "#check:=e", "#ndv:c",
      "#commitMillis=soon", "#unknown:x=1"))
    assert(h == ManifestHeader(op = Some("a"), colmap = Map("a" -> "b"),
      annotations = Seq("#unknown:x=1")))
  }
}
