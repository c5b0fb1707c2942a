package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.TxLogTable

/** Persisted incremental materialized views: create/refresh lifecycle,
  * counting-fold exactness against a recompute under every DML shape the
  * feed can carry, MOR group-drop sequencing, zero-group removal, reset
  * fallback, exactly-once progress, and the source-side vacuum cursor.
  */
class MaterializedViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType),
    StructField("v", DoubleType)))

  private def fresh(): (TxLogTable, String) = {
    val dir = Files.createTempDirectory("mv")
    (TxLogTable(spark, dir.resolve("src").toString),
      dir.resolve("mv").toString)
  }

  private def df(rows: (Long, String, Double)*): DataFrame =
    rows.toDF("k", "cat", "v")

  private def mvRows(mvRoot: String): Set[(Option[Long], Long, Double)] = {
    val d = MaterializedView.definition(spark, mvRoot)
    TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getAs[Long](MaterializedView.CountCol),
        Option(r.getAs[java.math.BigDecimal]("total"))
          .map(_.doubleValue()).getOrElse(Double.NaN))
    }.toSet
  }

  private def recompute(src: TxLogTable): Set[(Option[Long], Long, Double)] =
    src.snapshot(schema).groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(38, 6))).as("total"))
      .collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getAs[Long]("n"),
          Option(r.getAs[java.math.BigDecimal]("total"))
            .map(_.doubleValue()).getOrElse(Double.NaN))
      }.toSet

  test("create + incremental refresh across append, COW delete, DV " +
    "update — fold equals recompute, refresh is O(changed groups)") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (1L, "a", 2.0), (2L, "b", 5.0)),
      overwrite = true)
    MaterializedView.create(spark, mvRoot, "per_k", src, schema,
      Seq("k"), Seq("total" -> "v"))
    assert(mvRows(mvRoot) === recompute(src))
    src.commit(df((2L, "b", 7.0), (3L, "c", 9.0)), overwrite = false)
    src.deleteWhere(schema, col("v") === 1.0) // COW: exact events
    src.updateWherePos(schema, col("k") === 3L,
      Seq("v" -> (col("v") + 1.0)))          // DV: exact delete+insert
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(st.groupsChanged === 3, st) // k = 1, 2, 3 all touched
    assert(mvRows(mvRoot) === recompute(src))
    assert(mvRows(mvRoot) === Set(
      (Some(1L), 1L, 2.0), (Some(2L), 2L, 12.0), (Some(3L), 1L, 10.0)))
  }

  test("groups reaching zero leave the view; NULL group keys maintained") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    src.commit(Seq((Option.empty[Long], "n", 4.0)).toDF("k", "cat", "v"),
      overwrite = false)
    MaterializedView.create(spark, mvRoot, "zk", src, schema,
      Seq("k"), Seq("total" -> "v"))
    src.deleteWhere(schema, col("k") === 1L)                 // empties k=1
    src.commit(Seq((Option.empty[Long], "n", 6.0)).toDF("k", "cat", "v"),
      overwrite = false)                                     // grows NULL
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(mvRows(mvRoot) === recompute(src))
    assert(mvRows(mvRoot) === Set(
      (Some(2L), 1L, 2.0), (None, 2L, 10.0)))
  }

  test("MOR delete folds as a group drop at its exact position: " +
    "re-insert after the drop survives") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "mor", src, schema,
      Seq("k"), Seq("total" -> "v"))
    src.commit(df((1L, "a", 10.0)), overwrite = false)  // pre-drop insert
    src.deleteByKeysMor(Seq(1L).toDF("k"))              // drop group k=1
    src.commit(df((1L, "a", 100.0)), overwrite = false) // re-insert
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(mvRows(mvRoot) === recompute(src))
    assert(mvRows(mvRoot) === Set(
      (Some(1L), 1L, 100.0), (Some(2L), 1L, 2.0)))
  }

  test("MOR keys outside the group columns fall back to a full " +
    "recompute — still correct, one commit") {
    val dir = Files.createTempDirectory("mv")
    val src = TxLogTable(spark, dir.resolve("src").toString)
    val mvRoot = dir.resolve("mv").toString
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    // group by cat, but MOR-delete by k: tombstone keys ⊄ group cols
    MaterializedView.create(spark, mvRoot, "bycat", src, schema,
      Seq("cat"), Seq("total" -> "v"))
    src.deleteByKeysMor(Seq(1L).toDF("k"))
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "full", st)
    val d = MaterializedView.definition(spark, mvRoot)
    val got = TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
      .map(r => (r.getString(0), r.getAs[Long](MaterializedView.CountCol)))
      .toSet
    assert(got === Set(("b", 1L)))
  }

  test("overwrite on the source is a reset: refresh recomputes") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "ow", src, schema,
      Seq("k"), Seq("total" -> "v"))
    src.commit(df((7L, "z", 7.0)), overwrite = true) // reset
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "full", st)
    assert(mvRows(mvRoot) === Set((Some(7L), 1L, 7.0)))
  }

  test("refresh is a no-op when current; progress and data are one " +
    "commit (#mvsrc rides the refresh manifest)") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "np", src, schema,
      Seq("k"), Seq("total" -> "v"))
    val n0 = MaterializedView.refresh(spark, mvRoot)
    assert(n0.mode === "noop")
    val mv = TxLogTable(spark, mvRoot)
    val before = mv.latestVersion.get
    src.commit(df((1L, "a", 3.0)), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental")
    val h = mv.latestVersion.get
    assert(h === before + 1)
    assert(mv.opOf(h).contains("mv-refresh"))
    assert(mv.metaOf(h, "mvsrc").flatMap(_.toIntOption)
      .contains(src.latestVersion.get))
    // a second refresh sees the recorded progress and does nothing
    assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
  }

  test("view maintenance: compacting the MV folds its accrued DV masks " +
    "and refresh continues exactly — RewriteOps are not tampering") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "cpt", src, schema,
      Seq("k"), Seq("total" -> "v"))
    val mv = TxLogTable(spark, mvRoot)
    val d = MaterializedView.definition(spark, mvRoot)
    // several refreshes accrue DV masks on the view
    (1 to 3).foreach { i =>
      src.commit(df((1L, "a", i.toDouble)), overwrite = false)
      assert(MaterializedView.refresh(spark, mvRoot).mode ===
        "incremental")
    }
    assert(mv.dvsOf(mv.latestVersion.get).nonEmpty,
      "refreshes must have accrued a positional mask")
    // the standard maintenance: compact folds every mask; the refresh
    // guard allows RewriteOps at head (maintenance is not tampering)
    mv.compact(d.mvSchema)
    assert(mv.dvsOf(mv.latestVersion.get).isEmpty,
      "compact must fold the masks")
    src.commit(df((2L, "b", 9.0)), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(mvRows(mvRoot) === recompute(src))
  }

  test("raw DML on the view is detected and refused at refresh") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "tamper", src, schema,
      Seq("k"), Seq("total" -> "v"))
    val d = MaterializedView.definition(spark, mvRoot)
    TxLogTable(spark, mvRoot).commit(
      Seq((9L, new java.math.BigDecimal("9.000000"), 1L))
        .toDF("k", "total", MaterializedView.CountCol)
        .select(col("k"), col("total").cast(DecimalType(38, 6)),
          col(MaterializedView.CountCol)),
      overwrite = false)
    src.commit(df((2L, "b", 2.0)), overwrite = false)
    val e = intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, mvRoot)
    }
    assert(e.getMessage.contains("not engine-maintained"), e.getMessage)
    assert(d.groupCols === Seq("k"))
  }

  test("the view pins the source feed window: a cursor named mv:<name> " +
    "floors source vacuum at the consumed version") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "pin", src, schema,
      Seq("k"), Seq("total" -> "v"))
    assert(src.cursors().get("mv:pin").map(_.version)
      .contains(src.latestVersion.get))
    src.commit(df((2L, "b", 2.0)), overwrite = false)
    src.commit(df((3L, "c", 3.0)), overwrite = false)
    // an aggressive vacuum cannot drop the un-consumed window
    src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(src.versions.min <= MaterializedView.lastSourceVersion(
      TxLogTable(spark, mvRoot)))
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(mvRows(mvRoot) === recompute(src))
    // after the refresh the cursor advanced; vacuum may now proceed
    assert(src.cursors()("mv:pin").version === src.latestVersion.get)
  }

  test("filtered view: the WHERE commutes with the feed, and its columns " +
    "join the pinned projection even when outside group/sum cols") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (1L, "b", 2.0), (2L, "a", 3.0)),
      overwrite = true)
    MaterializedView.create(spark, mvRoot, "filt", src, schema,
      Seq("k"), Seq("total" -> "v"), filterExpr = Some("cat = 'a'"))
    assert(mvRows(mvRoot) === Set(
      (Some(1L), 1L, 1.0), (Some(2L), 1L, 3.0)))
    src.commit(df((1L, "a", 10.0), (1L, "b", 20.0)), overwrite = false)
    src.deleteWhere(schema, col("v") === 3.0) // empties k=2 under filter
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(mvRows(mvRoot) === Set((Some(1L), 2L, 11.0)))
    val d = MaterializedView.definition(spark, mvRoot)
    assert(d.filterExpr === Some("cat = 'a'"))
    assert(d.projSchema.fieldNames.contains("cat"))
  }

  // (group, count, total) with a NULL total kept as None
  private def totals(mvRoot: String): Set[(Any, Long, Option[BigDecimal])] = {
    val d = MaterializedView.definition(spark, mvRoot)
    TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect().map(r =>
      (r.get(0), r.getAs[Long](MaterializedView.CountCol),
        Option(r.getAs[java.math.BigDecimal]("total")).map(BigDecimal(_))))
      .toSet
  }

  test("a SUM whose remaining inputs are all NULL folds to NULL, as a " +
    "recompute gives it; a true zero stays 0") {
    val (src, mvRoot) = fresh()
    src.commit(Seq((1L, "a", Option(5.0)), (1L, "a", None),
      (2L, "b", Option(3.0)), (3L, "c", Option(2.0)), (3L, "c", Option(-2.0)),
      (3L, "c", Option(4.0))).toDF("k", "cat", "v"), overwrite = true)
    MaterializedView.create(spark, mvRoot, "nullsum", src, schema,
      Seq("k"), Seq("total" -> "v"))
    src.deleteWhere(schema, col("v") === 5.0 || col("v") === 4.0)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(totals(mvRoot) === Set[(Any, Long, Option[BigDecimal])](
      (1L, 1L, None), (2L, 1L, Some(BigDecimal(3))),
      (3L, 2L, Some(BigDecimal(0)))))
  }

  test("star view: a dim delta that moves a group's only non-NULL input " +
    "away leaves its SUM NULL, as a recompute gives it") {
    val dir = Files.createTempDirectory("mvjnull")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(Seq((1L, "x", Option(5.0)), (2L, "x", None))
      .toDF("k", "cat", "v"), overwrite = true)
    dim.commit(Seq((1L, "gold"), (2L, "gold")).toDF("uid", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "starnull", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"))
    dim.deleteWhere(dimSchema, col("uid") === 1L)
    dim.commit(Seq((1L, "iron")).toDF("uid", "seg"), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assert(totals(mvRoot) === Set[(Any, Long, Option[BigDecimal])](
      ("gold", 1L, None), ("iron", 1L, Some(BigDecimal(5)))))
  }

  test("star-schema view: fact deltas fold against the PINNED dim; a dim " +
    "change folds as a dim delta that re-pins — never O(view)") {
    val dir = Files.createTempDirectory("mvj")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L, "x", 1.0), (2L, "x", 2.0)), overwrite = true)
    dim.commit(Seq((1L, "gold"), (2L, "iron"), (3L, "gold"))
      .toDF("uid", "seg"), overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "star", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"))
    def seg(): Set[(String, Long, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
    }
    assert(seg() === Set(("gold", 1L, 1.0), ("iron", 1L, 2.0)))
    // fact-only DML folds incrementally against the pinned dim
    fact.commit(df((3L, "x", 10.0), (4L, "x", 99.0)), overwrite = false)
    fact.deleteWhere(schema, col("k") === 2L)
    val r1 = MaterializedView.refresh(spark, mvRoot)
    assert(r1.mode === "incremental", r1)
    // k=4 has no dim row: contributes nothing (inner join)
    assert(seg() === Set(("gold", 2L, 11.0)))
    // dim change → the next refresh folds it as a DIM DELTA (changed
    // keys → affected groups only) and re-pins the dim head
    dim.deleteWhere(dimSchema, col("uid") === 3L)
    dim.commit(Seq((3L, "iron")).toDF("uid", "seg"), overwrite = false)
    val r2 = MaterializedView.refresh(spark, mvRoot)
    assert(r2.mode === "incremental", r2)
    assert(seg() === Set(("gold", 1L, 1.0), ("iron", 1L, 10.0)))
    assert(MaterializedView.lastDimVersion(TxLogTable(spark, mvRoot)) ===
      dim.latestVersion.get, "the dim-delta fold must re-pin the dim")
    // and fact deltas fold again under the new pin
    fact.commit(df((1L, "x", 5.0)), overwrite = false)
    val r3 = MaterializedView.refresh(spark, mvRoot)
    assert(r3.mode === "incremental", r3)
    assert(seg() === Set(("gold", 2L, 6.0), ("iron", 1L, 10.0)))
    assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
  }

  test("N-dim star view: ONE handle, two dims — fact deltas fold " +
    "against both pins, each moved dim folds as its own telescoped " +
    "correction, and a window moving BOTH dims plus fact DML stays " +
    "incremental") {
    val dir = Files.createTempDirectory("mvstar2")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dimU = TxLogTable(spark, dir.resolve("dimu").toString)
    val dimC = TxLogTable(spark, dir.resolve("dimc").toString)
    val mvRoot = dir.resolve("mv").toString
    val duSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    val dcSchema = StructType(Seq(
      StructField("ckey", StringType), StructField("cls", StringType)))
    fact.commit(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 4.0)),
      overwrite = true)
    dimU.commit(Seq((1L, "gold"), (2L, "iron"), (3L, "gold"))
      .toDF("uid", "seg"), overwrite = true)
    dimC.commit(Seq(("a", "hot"), ("b", "cold")).toDF("ckey", "cls"),
      overwrite = true)
    MaterializedView.createStar(spark, mvRoot, "star2", fact, schema,
      Seq((dimU, duSchema, Seq("k" -> "uid")),
        (dimC, dcSchema, Seq("cat" -> "ckey"))),
      Seq("seg", "cls"), Seq("total" -> "v"))
    def st(): Set[(String, String, Long, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
    }
    assert(st() === Set(("gold", "hot", 2L, 5.0),
      ("iron", "cold", 1L, 2.0)))
    // fact-only window folds against BOTH pinned dims
    fact.commit(df((2L, "a", 10.0)), overwrite = false)
    val r1 = MaterializedView.refresh(spark, mvRoot)
    assert(r1.mode === "incremental", r1)
    assert(st() === Set(("gold", "hot", 2L, 5.0),
      ("iron", "hot", 1L, 10.0), ("iron", "cold", 1L, 2.0)))
    // dim 0 alone: uid=3 migrates gold → iron
    dimU.updateWherePos(duSchema, col("uid") === 3L,
      Seq("seg" -> lit("iron")))
    val r2 = MaterializedView.refresh(spark, mvRoot)
    assert(r2.mode === "incremental", r2)
    assert(st() === Set(("gold", "hot", 1L, 1.0),
      ("iron", "hot", 2L, 14.0), ("iron", "cold", 1L, 2.0)))
    // dim 1 alone: class 'a' reclasses hot → warm
    dimC.updateWherePos(dcSchema, col("ckey") === "a",
      Seq("cls" -> lit("warm")))
    val r3 = MaterializedView.refresh(spark, mvRoot)
    assert(r3.mode === "incremental", r3)
    assert(st() === Set(("gold", "warm", 1L, 1.0),
      ("iron", "warm", 2L, 14.0), ("iron", "cold", 1L, 2.0)))
    // ONE window: fact append + dim0 delete + dim1 update — the
    // telescoped corrections absorb all of it incrementally
    fact.commit(df((1L, "b", 3.0)), overwrite = false)
    dimU.deleteWherePos(duSchema, col("uid") === 2L)
    dimC.updateWherePos(dcSchema, col("ckey") === "b",
      Seq("cls" -> lit("mild")))
    val r4 = MaterializedView.refresh(spark, mvRoot)
    assert(r4.mode === "incremental", r4)
    assert(st() === Set(("gold", "warm", 1L, 1.0),
      ("iron", "warm", 1L, 4.0), ("gold", "mild", 1L, 3.0)))
    // both pins re-advanced; a current star noops
    val mvT = TxLogTable(spark, mvRoot)
    assert(MaterializedView.lastDimVersion(mvT, 0) ===
      dimU.latestVersion.get)
    assert(MaterializedView.lastDimVersion(mvT, 1) ===
      dimC.latestVersion.get)
    assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
  }

  test("N-dim star with MIN/MAX measures: churn on both dims routes " +
    "through the dim-targeted group recompute — incremental, equal to " +
    "a 2-join recompute") {
    val dir = Files.createTempDirectory("mvstar2mm")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dimU = TxLogTable(spark, dir.resolve("dimu").toString)
    val dimC = TxLogTable(spark, dir.resolve("dimc").toString)
    val mvRoot = dir.resolve("mv").toString
    val duSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    val dcSchema = StructType(Seq(
      StructField("ckey", StringType), StructField("cls", StringType)))
    fact.commit(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 4.0),
      (2L, "a", 8.0)), overwrite = true)
    dimU.commit(Seq((1L, "gold"), (2L, "iron"), (3L, "gold"))
      .toDF("uid", "seg"), overwrite = true)
    dimC.commit(Seq(("a", "hot"), ("b", "cold")).toDF("ckey", "cls"),
      overwrite = true)
    MaterializedView.createStar(spark, mvRoot, "star2mm", fact, schema,
      Seq((dimU, duSchema, Seq("k" -> "uid")),
        (dimC, dcSchema, Seq("cat" -> "ckey"))),
      Seq("seg", "cls"), Seq("total" -> "v"),
      mins = Seq("lo" -> "v"), maxs = Seq("hi" -> "v"))
    def recomputeMm(): Set[(String, String, Long, Double, Double)] =
      fact.snapshot(schema)
        .join(dimU.snapshot(duSchema), col("k") === col("uid"))
        .join(dimC.snapshot(dcSchema), col("cat") === col("ckey"))
        .groupBy("seg", "cls").agg(count(lit(1)).as("n"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    def viewMm(): Set[(String, String, Long, Double, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toSet
    }
    assert(viewMm() === recomputeMm())
    // ONE window: both dims churn (a migration that moves the group
    // extremum, and a reclass) + a fact delete removing an extremum
    dimU.updateWherePos(duSchema, col("uid") === 2L,
      Seq("seg" -> lit("gold")))
    dimC.updateWherePos(dcSchema, col("ckey") === "a",
      Seq("cls" -> lit("warm")))
    fact.deleteWherePos(schema, col("v") === 8.0)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental",
      s"dim churn on a MIN/MAX star must stay incremental: $st")
    assert(viewMm() === recomputeMm())
    assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
  }

  test("views compose: an MV over an MV folds incrementally — the " +
    "upstream refresh's DV-upsert feeds exact delete+insert events") {
    val dir = Files.createTempDirectory("mvchain")
    val src = TxLogTable(spark, dir.resolve("src").toString)
    val mv1Root = dir.resolve("mv1").toString
    val mv2Root = dir.resolve("mv2").toString
    src.commit(df((1L, "a", 1.0), (1L, "b", 2.0), (2L, "a", 4.0)),
      overwrite = true)
    // mv1: per (k, cat); mv2: per k over mv1's totals
    MaterializedView.create(spark, mv1Root, "lvl1", src, schema,
      Seq("k", "cat"), Seq("total" -> "v"))
    val d1 = MaterializedView.definition(spark, mv1Root)
    MaterializedView.create(spark, mv2Root, "lvl2",
      TxLogTable(spark, mv1Root), d1.mvSchema,
      Seq("k"), Seq("t2" -> "total"))
    def lvl2(): Set[(Long, Long, Double)] = {
      val d2 = MaterializedView.definition(spark, mv2Root)
      TxLogTable(spark, mv2Root).snapshot(d2.mvSchema).collect()
        .map(r => (r.getLong(0),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("t2").doubleValue())).toSet
    }
    assert(lvl2() === Set((1L, 2L, 3.0), (2L, 1L, 4.0)))
    src.commit(df((1L, "a", 10.0), (3L, "c", 7.0)), overwrite = false)
    src.deleteWhere(schema, col("v") === 4.0) // empties k=2 everywhere
    val r1 = MaterializedView.refresh(spark, mv1Root)
    assert(r1.mode === "incremental", r1)
    val r2 = MaterializedView.refresh(spark, mv2Root)
    assert(r2.mode === "incremental",
      s"an upstream DV-upsert must fold downstream: $r2")
    assert(lvl2() === Set((1L, 2L, 13.0), (3L, 1L, 7.0)))
  }

  test("MIN/MAX measures fold over append-only windows; a row-changing " +
    "version triggers a GROUP-TARGETED partial recompute — only the " +
    "affected groups re-aggregate, untouched groups keep their rows") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 5.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "mm", src, schema,
      Seq("k"), Seq("total" -> "v"),
      mins = Seq("lo" -> "v"), maxs = Seq("hi" -> "v"))
    val d = MaterializedView.definition(spark, mvRoot)
    def rows(): Set[(Long, Double, Double, Double, Long)] =
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getLong(0),
          r.getAs[java.math.BigDecimal]("total").doubleValue(),
          r.getDouble(2), r.getDouble(3),
          r.getAs[Long](MaterializedView.CountCol))).toSet
    assert(rows() === Set((1L, 5.0, 5.0, 5.0, 1L), (2L, 2.0, 2.0, 2.0, 1L)))
    // append-only window: extrema fold incrementally
    src.commit(df((1L, "a", 1.0), (1L, "a", 9.0)), overwrite = false)
    val r1 = MaterializedView.refresh(spark, mvRoot)
    assert(r1.mode === "incremental", r1)
    assert(rows() === Set(
      (1L, 15.0, 1.0, 9.0, 3L), (2L, 2.0, 2.0, 2.0, 1L)))
    // a delete may remove the extremum itself: the refresh stays
    // incremental — the affected group (k=1) re-aggregates from the
    // snapshot, exact; group 2 is untouched
    src.deleteWhere(schema, col("v") === 9.0)
    val r2 = MaterializedView.refresh(spark, mvRoot)
    assert(r2.mode === "incremental",
      s"a deleting window under min/max must target-recompute: $r2")
    assert(r2.groupsChanged === 1L,
      s"only the extremum's group is affected: $r2")
    assert(rows() === Set(
      (1L, 6.0, 1.0, 5.0, 2L), (2L, 2.0, 2.0, 2.0, 1L)))
    // a targeted window may also EMPTY a group (count 0 → leaves) and
    // drop-then-reinsert keys (snapshot semantics carry the sequence)
    src.deleteWherePos(schema, col("k") === 2L)
    src.commit(df((2L, "b", 7.0)), overwrite = false)
    val r2b = MaterializedView.refresh(spark, mvRoot)
    assert(r2b.mode === "incremental", r2b)
    assert(rows() === Set(
      (1L, 6.0, 1.0, 5.0, 2L), (2L, 7.0, 7.0, 7.0, 1L)))
    // and appends fold again after the targeted window
    src.commit(df((2L, "b", 0.5)), overwrite = false)
    val r3 = MaterializedView.refresh(spark, mvRoot)
    assert(r3.mode === "incremental", r3)
    assert(rows() === Set(
      (1L, 6.0, 1.0, 5.0, 2L), (2L, 7.5, 0.5, 7.0, 2L)))
  }

  test("streaming ingest composes with MV maintenance: refresh folds " +
    "the stream sink's keyed-merge commits, and WAP publish on the " +
    "source is a reset the refresh absorbs as one recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "strm", src, schema,
      Seq("k"), Seq("total" -> "v"))
    val input = MemoryStream[(Long, String, Double)]
    val ckpt = Files.createTempDirectory("mv-strm-ckpt").toString
    val q = graft.streaming.StreamOps.upsertIntoTxLog(
      input.toDF().toDF("k", "cat", "v"), src, Seq("k"), ckpt)
    try {
      input.addData((1L, "a", 10.0), (3L, "c", 3.0)) // update + insert
      q.processAllAvailable()
      val r1 = MaterializedView.refresh(spark, mvRoot)
      assert(r1.mode === "incremental",
        s"the sink's keyed merge is COW — exact events: $r1")
      assert(mvRows(mvRoot) === recompute(src))
      assert(mvRows(mvRoot) === Set(
        (Some(1L), 1L, 10.0), (Some(2L), 1L, 2.0), (Some(3L), 1L, 3.0)))
      input.addData((2L, "b", 20.0))
      q.processAllAvailable()
      assert(MaterializedView.refresh(spark, mvRoot).mode === "incremental")
      assert(mvRows(mvRoot) === recompute(src))
    } finally q.stop()
    // write-audit-publish on the source: the publish commit replaces
    // main's file set, which the triage sees as a reset → one recompute
    src.createBranch("audit")
    src.branchTable("audit").deleteWhere(schema, col("v") >= 20.0)
    src.publishBranch("audit")
    val r3 = MaterializedView.refresh(spark, mvRoot)
    assert(r3.mode === "full",
      s"a publish rewrites main's file set — must recompute: $r3")
    assert(mvRows(mvRoot) === recompute(src))
    // the audited delete (v >= 20 — key 2's streamed update) published
    assert(mvRows(mvRoot) === Set(
      (Some(1L), 1L, 10.0), (Some(3L), 1L, 3.0)))
  }

  test("maintainMv: a streaming query keeps the view current — each " +
    "micro-batch triggers one exactly-once refresh") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "cont", src, schema,
      Seq("k"), Seq("total" -> "v"))
    val ckpt = Files.createTempDirectory("mv-maint-ckpt").toString
    val q = graft.streaming.StreamOps.maintainMv(spark, mvRoot, ckpt)
    try {
      src.commit(df((1L, "a", 10.0), (3L, "c", 3.0)), overwrite = false)
      q.processAllAvailable()
      assert(mvRows(mvRoot) === recompute(src))
      assert(mvRows(mvRoot) === Set((Some(1L), 2L, 11.0),
        (Some(2L), 1L, 2.0), (Some(3L), 1L, 3.0)))
      src.deleteWhere(schema, col("v") === 2.0) // COW delete folds too
      q.processAllAvailable()
      assert(mvRows(mvRoot) === recompute(src))
      assert(mvRows(mvRoot) === Set((Some(1L), 2L, 11.0),
        (Some(3L), 1L, 3.0)))
    } finally q.stop()
    // the maintained view is already current: a manual refresh noops
    assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
  }

  test("maintainMv on a star view: fact appends fold under the pinned " +
    "dim, a mid-stream dim update folds as a dim delta that re-pins — " +
    "all paced by the stream, no manual refresh") {
    val dir = Files.createTempDirectory("mvj-maint")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L, "x", 1.0), (2L, "x", 2.0)), overwrite = true)
    dim.commit(Seq((1L, "a"), (2L, "b")).toDF("uid", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "starm", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"),
      Seq("total" -> "v"))
    val mv = TxLogTable(spark, mvRoot)
    val d = MaterializedView.definition(spark, mvRoot)
    def viewRows: Set[(String, Long, Double)] =
      mv.snapshot(d.mvSchema).collect().map(r => (r.getString(0),
        r.getAs[Long](MaterializedView.CountCol),
        r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
    val ckpt = Files.createTempDirectory("mvj-maint-ckpt").toString
    val q = graft.streaming.StreamOps.maintainMv(spark, mvRoot, ckpt)
    try {
      // a fact append folds incrementally against the pinned dim
      fact.commit(df((1L, "x", 10.0)), overwrite = false)
      q.processAllAvailable()
      assert(viewRows === Set(("a", 2L, 11.0), ("b", 1L, 2.0)))
      assert(mv.opOf(mv.latestVersion.get).contains("mv-refresh"))
      // mid-stream DIM update: the dim feed fires the batch, the
      // refresh folds the changed key's groups as a dim delta and
      // re-pins — the view is never recomputed wholesale
      dim.updateWherePos(dimSchema, col("uid") === 2L,
        Seq("seg" -> lit("a")))
      q.processAllAvailable()
      assert(viewRows === Set(("a", 3L, 13.0)))
      assert(mv.opOf(mv.latestVersion.get).contains("mv-refresh"),
        "a dim move must fold as an incremental dim delta")
      assert(MaterializedView.lastDimVersion(mv) ===
        dim.latestVersion.get, "the dim-delta fold must re-pin the dim")
      // and fact deltas fold again under the NEW pin
      fact.commit(df((2L, "x", 5.0)), overwrite = false)
      q.processAllAvailable()
      assert(viewRows === Set(("a", 4L, 18.0)))
      assert(mv.opOf(mv.latestVersion.get).contains("mv-refresh"))
    } finally q.stop()
    assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
  }

  test("view base files are range-clustered by group key: disjoint " +
    "per-file ranges are what lets the refresh's mask join prune to " +
    "the touched groups' files instead of reading the whole view") {
    val dir = Files.createTempDirectory("mv-clust")
    val src = TxLogTable(spark, dir.resolve("src").toString)
    val mvRoot = dir.resolve("mv").toString
    src.commit(spark.range(20000).select(col("id").as("k"),
      lit("c").as("cat"), (col("id") % 7).cast("double").as("v")),
      overwrite = true)
    MaterializedView.create(spark, mvRoot, "clust", src, schema,
      Seq("k"), Seq("total" -> "v"))
    // At test scale the size-based rebalance packs the tiny state into
    // few files (correct: small views SHOULD be few files); the scale
    // property this pins is the ordering the range+sort guarantees —
    // rows ascend by key inside every file, so however the size policy
    // splits them at a billion groups, each file's min/max is tight and
    // files are pairwise disjoint. Both facets asserted: in-file
    // ascension always, range disjointness whenever >1 file exists.
    def assertClustered(): Unit = {
      val t = TxLogTable(spark, mvRoot)
      val ranges = t.entries(None).flatMap(_.stats.get("k")).sortBy(_._1)
      assert(ranges.nonEmpty)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(lo2 > hi,
            s"file key ranges must be disjoint: ..$hi then $lo2..")
        case _ => ()
      }
      t.entries(None).foreach { e =>
        val ks = spark.read.parquet(
            java.nio.file.Paths.get(mvRoot, "data", e.rel).toString)
          .select("k").collect().map(_.getLong(0))
        assert(ks.sameElements(ks.sorted),
          s"rows inside ${e.rel} must ascend by the group key")
      }
    }
    assertClustered()
    // a full recompute re-clusters too
    src.commit(spark.range(20000, 21000).select(col("id").as("k"),
      lit("c").as("cat"), lit(1.0).as("v")), overwrite = false)
    MaterializedView.refresh(spark, mvRoot, full = true)
    assertClustered()
  }

  test("star-schema view refuses a non-unique dim at create") {
    val dir = Files.createTempDirectory("mvj2")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L, "x", 1.0)), overwrite = true)
    dim.commit(Seq((1L, "gold"), (1L, "iron")).toDF("uid", "seg"),
      overwrite = true)
    val e = intercept[IllegalArgumentException] {
      MaterializedView.createJoined(spark, dir.resolve("mv").toString,
        "dup", fact, schema, dim, dimSchema, Seq("k" -> "uid"),
        Seq("seg"), Seq("total" -> "v"))
    }
    assert(e.getMessage.contains("not unique"), e.getMessage)
  }

  test("dim delta past the broadcast cap folds through SHUFFLE joins — " +
    "still incremental, still equal to a recompute; only a churn " +
    "covering most of the dim pays the full recompute") {
    val dir = Files.createTempDirectory("mvj-shuf")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L to 24L).map(i => (i % 12, "x", i.toDouble)): _*),
      overwrite = true)
    dim.commit((0L to 11L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("uid", "seg"), overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "shufstar", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"))
    def seg(): Set[(String, Long, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
    }
    def expect(): Set[(String, Long, Double)] =
      fact.snapshot(schema).join(dim.snapshot(dimSchema),
          col("k") === col("uid"), "inner")
        .groupBy("seg").agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(38, 6))).as("t"))
        .collect().map(r => (r.getString(0), r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("t").doubleValue())).toSet
    spark.conf.set("spark.graft.mv.maxDimDeltaKeys", "2")
    try {
      // 4 changed keys > cap 2, but 4*2 ≤ 12 dim rows: the SAME signed
      // arithmetic folds through shuffle joins — mode stays incremental
      dim.updateWherePos(dimSchema, col("uid").isin(1L, 3L, 5L, 7L),
        Seq("seg" -> lit("prime")))
      val r1 = MaterializedView.refresh(spark, mvRoot)
      assert(r1.mode === "incremental", r1)
      assert(seg() === expect())
      assert(MaterializedView.lastDimVersion(TxLogTable(spark, mvRoot)) ===
        dim.latestVersion.get, "the shuffle fold must re-pin the dim")
      // churn covering MOST of the dim (8 of 12 keys > half): the
      // affected groups approach the whole view — recompute is cheaper
      dim.updateWherePos(dimSchema, col("uid") < 8L,
        Seq("seg" -> lit("bulk")))
      val r2 = MaterializedView.refresh(spark, mvRoot)
      assert(r2.mode === "full", r2)
      assert(seg() === expect())
    } finally spark.conf.unset("spark.graft.mv.maxDimDeltaKeys")
  }

  test("MIN/MAX star under an over-cap dim delta: the affected-group " +
    "derivation runs through shuffle joins and routes to the " +
    "dim-targeted recompute — incremental, equal to a recompute") {
    val dir = Files.createTempDirectory("mvj-shufmm")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L to 24L).map(i => (i % 12, "x", i.toDouble)): _*),
      overwrite = true)
    dim.commit((0L to 11L).map(i => (i, if (i % 3 == 0) "tri" else "rest"))
      .toDF("uid", "seg"), overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "shufmm", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"),
      mins = Seq("vmin" -> "v"), maxs = Seq("vmax" -> "v"))
    def stateOf(): Set[(String, Long, Double, Double, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue(),
          r.getAs[Double]("vmin"), r.getAs[Double]("vmax"))).toSet
    }
    def expect(): Set[(String, Long, Double, Double, Double)] =
      fact.snapshot(schema).join(dim.snapshot(dimSchema),
          col("k") === col("uid"), "inner")
        .groupBy("seg").agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(38, 6))).as("t"),
          min("v").as("mn"), max("v").as("mx"))
        .collect().map(r => (r.getString(0), r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("t").doubleValue(),
          r.getAs[Double]("mn"), r.getAs[Double]("mx"))).toSet
    spark.conf.set("spark.graft.mv.maxDimDeltaKeys", "2")
    try {
      // 4 changed keys (> cap, ≤ half the dim) migrate groups — extrema
      // must be re-derived for both sides of each migration
      dim.updateWherePos(dimSchema, col("uid").isin(0L, 3L, 6L, 9L),
        Seq("seg" -> lit("moved")))
      val r1 = MaterializedView.refresh(spark, mvRoot)
      assert(r1.mode === "incremental", r1)
      assert(stateOf() === expect())
      assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
    } finally spark.conf.unset("spark.graft.mv.maxDimDeltaKeys")
  }

  test("a dim past maxBroadcastDimRows loses the broadcast hint: " +
    "create, fact folds, and dim-delta folds all stay correct through " +
    "shuffle enrichment") {
    val dir = Files.createTempDirectory("mvj-bigdim")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L to 40L).map(i => (i % 20, "x", i.toDouble)): _*),
      overwrite = true)
    dim.commit((0L to 19L).map(i => (i, "s" + (i % 4)))
      .toDF("uid", "seg"), overwrite = true)
    def expect(): Set[(String, Long, Double)] =
      fact.snapshot(schema).join(dim.snapshot(dimSchema),
          col("k") === col("uid"), "inner")
        .groupBy("seg").agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(38, 6))).as("t"))
        .collect().map(r => (r.getString(0), r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("t").doubleValue())).toSet
    // every enrichment join in create/refresh/dim-delta now plans
    // WITHOUT the forced broadcast hint (dim has 20 rows > cap 10)
    spark.conf.set("spark.graft.mv.maxBroadcastDimRows", "10")
    try {
      MaterializedView.createJoined(spark, mvRoot, "bigdim", fact, schema,
        dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"))
      def seg(): Set[(String, Long, Double)] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
          .map(r => (r.getString(0),
            r.getAs[Long](MaterializedView.CountCol),
            r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
      }
      assert(seg() === expect())
      // fact delta folds (enrichment un-hinted)
      fact.commit(df((5L, "x", 100.0)), overwrite = false)
      fact.deleteWhere(schema, col("v") === 1.0)
      val r1 = MaterializedView.refresh(spark, mvRoot)
      assert(r1.mode === "incremental", r1)
      assert(seg() === expect())
      // dim delta folds (changed keys ≤ delta cap, dim itself un-hinted)
      dim.updateWherePos(dimSchema, col("uid") === 5L,
        Seq("seg" -> lit("s9")))
      val r2 = MaterializedView.refresh(spark, mvRoot)
      assert(r2.mode === "incremental", r2)
      assert(seg() === expect())
      assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
    } finally spark.conf.unset("spark.graft.mv.maxBroadcastDimRows")
  }

  test("driver-local dim-churn path: a duplicate dim key inside a small " +
    "churn window trips the uniqueness require") {
    val dir = Files.createTempDirectory("mvdup")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L, "x", 1.0), (2L, "x", 2.0)), overwrite = true)
    dim.commit(Seq((1L, "gold"), (2L, "iron")).toDF("uid", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "dup", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"))
    // churn window appends a SECOND row for uid=1: both the key set and
    // the dim snapshot are tiny (driver-local path), and the refresh
    // must refuse — a fact row would enrich to two dim rows
    dim.commit(Seq((1L, "dupe")).toDF("uid", "seg"), overwrite = false)
    val e = intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, mvRoot) }
    assert(e.getMessage.contains("not unique"), e.getMessage)
  }

  test("driver-local dim-churn gate: a Double-keyed dim routes the probe " +
    "distributed (sqlEqualsSafe excludes floats) — duplicates still trip, " +
    "clean churn still folds exactly") {
    val dir = Files.createTempDirectory("mvdbl")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val factSchema = StructType(Seq(
      StructField("fk", DoubleType), StructField("v", DoubleType)))
    val dimSchema = StructType(Seq(
      StructField("dk", DoubleType), StructField("seg", StringType)))
    fact.commit(Seq((1.0, 10.0), (2.0, 20.0)).toDF("fk", "v"),
      overwrite = true)
    dim.commit(Seq((1.0, "gold"), (2.0, "iron")).toDF("dk", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "dbl", fact, factSchema,
      dim, dimSchema, Seq("fk" -> "dk"), Seq("seg"), Seq("total" -> "v"))
    def seg(): Set[(String, Long, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
    }
    assert(seg() === Set(("gold", 1L, 10.0), ("iron", 1L, 20.0)))
    // clean Double-keyed churn: the distributed probe passes and the
    // fold matches the recompute semantics
    dim.updateWherePos(dimSchema, col("dk") === 2.0,
      Seq("seg" -> lit("gold")))
    val r = MaterializedView.refresh(spark, mvRoot)
    assert(r.mode === "incremental", r)
    assert(seg() === Set(("gold", 2L, 30.0)))
    // duplicate Double key in the churn window: the DISTRIBUTED probe
    // must trip the same uniqueness require the local path enforces
    dim.commit(Seq((1.0, "dupe")).toDF("dk", "seg"), overwrite = false)
    val e = intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, mvRoot) }
    assert(e.getMessage.contains("not unique"), e.getMessage)
  }

  test("driver-local dim-churn path: a null-keyed dim row is excluded on " +
    "both paths — no fact row enriches to it, the refresh stays clean") {
    val dir = Files.createTempDirectory("mvnull")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L, "x", 1.0), (2L, "x", 2.0)), overwrite = true)
    dim.commit(Seq((1L, "gold"), (2L, "iron")).toDF("uid", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "nullk", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"))
    def seg(): Set[(String, Long, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
    }
    assert(seg() === Set(("gold", 1L, 1.0), ("iron", 1L, 2.0)))
    // churn window adds a NULL-keyed dim row (and a real migration):
    // the null key must drop out of the changed-key set on the local
    // path exactly as the null-rejecting === semi-join would drop it
    dim.commit(spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, "ghost"),
        org.apache.spark.sql.Row(2L, "gold")),
      dimSchema), overwrite = false)
    // uid=2 now has TWO rows (iron@v0, gold@v1) — dedupe by masking the
    // old row first so the dim stays key-unique
    dim.deleteWherePos(dimSchema, col("uid") === 2L && col("seg") === "iron")
    val r = MaterializedView.refresh(spark, mvRoot)
    assert(r.mode === "incremental", r)
    assert(seg() === Set(("gold", 2L, 3.0)),
      "the null-keyed dim row must enrich nothing")
  }

  test("driver-local dim-churn snapshot diff: a content-identical dim " +
    "rewrite folds to a zero correction; a mixed window corrects only " +
    "the real change — content equals the recompute throughout") {
    val dir = Files.createTempDirectory("mvdiffk")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L, "x", 1.0), (2L, "x", 2.0), (2L, "x", 3.0)),
      overwrite = true)
    dim.commit(Seq((1L, "gold"), (2L, "iron")).toDF("uid", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "diffk", fact, schema,
      dim, dimSchema, Seq("k" -> "uid"), Seq("seg"), Seq("total" -> "v"))
    def seg(): Set[(String, Long, Double)] = {
      val d = MaterializedView.definition(spark, mvRoot)
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getString(0),
          r.getAs[Long](MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
    }
    assert(seg() === Set(("gold", 1L, 1.0), ("iron", 2L, 5.0)))
    // rewrite uid=1 to the SAME content: the change feed emits
    // delete+insert events for the key, but the local snapshot diff
    // proves the enrichment unchanged — the window is consumed with a
    // ZERO correction (empty commit), group 'gold' untouched
    dim.updateWherePos(dimSchema, col("uid") === 1L,
      Seq("seg" -> lit("gold")))
    val r1 = MaterializedView.refresh(spark, mvRoot)
    assert(r1.mode === "incremental", r1)
    assert(r1.groupsChanged === 0L,
      s"an identical rewrite must correct nothing: $r1")
    assert(seg() === Set(("gold", 1L, 1.0), ("iron", 2L, 5.0)))
    // mixed window: one identical rewrite + one real migration — only
    // the real change corrects, and the fold matches the recompute
    dim.updateWherePos(dimSchema, col("uid") === 1L,
      Seq("seg" -> lit("gold")))
    dim.updateWherePos(dimSchema, col("uid") === 2L,
      Seq("seg" -> lit("gold")))
    val r2 = MaterializedView.refresh(spark, mvRoot)
    assert(r2.mode === "incremental", r2)
    assert(seg() === Set(("gold", 3L, 6.0)))
    assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
  }

  test("refresh writes zero rewrites — the changed groups arrive as a " +
    "DV mask plus replacement rows, other groups stay carried") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L to 50L).map(i => (i, "a", i.toDouble)): _*),
      overwrite = true)
    MaterializedView.create(spark, mvRoot, "dv", src, schema,
      Seq("k"), Seq("total" -> "v"))
    val mv = TxLogTable(spark, mvRoot)
    val filesBefore = mv.fileCount()
    src.commit(df((1L, "a", 100.0)), overwrite = false) // touch ONE group
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental" && st.groupsChanged === 1, st)
    // all pre-refresh files carried by reference, one DV + one new file
    assert(mv.fileCount() === filesBefore + 1)
    assert(mv.opOf(mv.latestVersion.get).contains("mv-refresh"))
    assert(mvRows(mvRoot) === recompute(src))
  }

  // ---- fold exactness: the incremental fold equals the recompute
  // bit for bit (Row equality: doubles by Double.compare, binary by
  // content) on the key and measure shapes a driver-keyed fold could
  // get wrong ----

  /** The view's rows against GROUP BY over the source snapshot, both in
    * the view's column order, compared as multisets of Rows. */
  private def assertFoldExact(src: TxLogTable, srcSchema: StructType,
                              mvRoot: String): Unit = {
    val d = MaterializedView.definition(spark, mvRoot)
    val cols = d.mvSchema.fieldNames.toSeq.map(col)
    val aggs = d.sums.map { case (out, c) =>
      sum(col(c).cast(MaterializedView.SumType)).as(out) } :+
      count(lit(1)).as(MaterializedView.CountCol)
    val want = src.snapshot(srcSchema).groupBy(d.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).select(cols: _*).collect()
    val got = TxLogTable(spark, mvRoot).snapshot(d.mvSchema)
      .select(cols: _*).collect()
    def canon(r: org.apache.spark.sql.Row): String = r.toSeq.map {
      case b: Array[Byte] => b.mkString("bin(", ",", ")")
      case x: java.lang.Double => java.lang.Double.doubleToRawLongBits(x)
        .toString
      case x => String.valueOf(x)
    }.mkString("|")
    assert(got.map(canon).sorted.toSeq === want.map(canon).sorted.toSeq)
    assert(got.sortBy(canon).toSeq === want.sortBy(canon).toSeq)
  }

  test("fold exactness: NULL fields of a two-column group key") {
    val (src, mvRoot) = fresh()
    val rows = Seq[(Option[Long], Option[String], Double)](
      (Some(1L), Some("a"), 1.0), (None, Some("a"), 2.0),
      (Some(1L), None, 3.0), (None, None, 4.0))
    src.commit(rows.toDF("k", "cat", "v"), overwrite = true)
    MaterializedView.create(spark, mvRoot, "nullkeys", src, schema,
      Seq("k", "cat"), Seq("total" -> "v"))
    src.commit(Seq[(Option[Long], Option[String], Double)](
      (None, Some("a"), 20.0), (None, None, 40.0), (Some(2L), None, 5.0))
      .toDF("k", "cat", "v"), overwrite = false)
    src.deleteWhere(schema, col("v") === 3.0) // empties (1, NULL)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental" && st.groupsChanged === 4, st)
    assertFoldExact(src, schema, mvRoot)
  }

  test("fold exactness: a DOUBLE group key receiving -0.0, 0.0 and NaN") {
    val (src, mvRoot) = fresh()
    val dSchema = StructType(Seq(StructField("d", DoubleType),
      StructField("v", DoubleType)))
    src.commit(Seq((0.0, 1.0), (1.5, 2.0)).toDF("d", "v"), overwrite = true)
    MaterializedView.create(spark, mvRoot, "dbl", src, dSchema,
      Seq("d"), Seq("total" -> "v"))
    src.commit(Seq((-0.0, 10.0), (Double.NaN, 3.0), (-0.0, 7.0))
      .toDF("d", "v"), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental" && st.groupsChanged === 2, st)
    assertFoldExact(src, dSchema, mvRoot)
    // a second window: the NaN group grows, the zero group shrinks
    src.commit(Seq((java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
      1.0)).toDF("d", "v"), overwrite = false)
    src.deleteWhere(dSchema, col("v") === 10.0)
    assert(MaterializedView.refresh(spark, mvRoot).mode === "incremental")
    assertFoldExact(src, dSchema, mvRoot)
  }

  test("fold exactness: a BINARY group key") {
    val (src, mvRoot) = fresh()
    val bSchema = StructType(Seq(StructField("b", BinaryType),
      StructField("v", DoubleType)))
    val (x, y, z) = (Array[Byte](1, 2), Array[Byte](1, 2, 0), Array[Byte]())
    src.commit(Seq((x, 1.0), (y, 2.0)).toDF("b", "v"), overwrite = true)
    MaterializedView.create(spark, mvRoot, "bin", src, bSchema,
      Seq("b"), Seq("total" -> "v"))
    // equal CONTENT in fresh arrays must land in the same group
    src.commit(Seq((Array[Byte](1, 2), 5.0), (z, 3.0)).toDF("b", "v"),
      overwrite = false)
    src.deleteWhere(bSchema, col("v") === 2.0) // empties y
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental" && st.groupsChanged === 3, st)
    assertFoldExact(src, bSchema, mvRoot)
  }

  test("fold exactness: a decimal sum that overflows SumType is NULL, " +
    "as in the recompute") {
    val (src, mvRoot) = fresh()
    val decSchema = StructType(Seq(StructField("k", LongType),
      StructField("v", DecimalType(38, 6))))
    val big = new java.math.BigDecimal("60000000000000000000000000000000")
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, big), org.apache.spark.sql.Row(2L, big)),
      decSchema)
    src.commit(rows, overwrite = true)
    MaterializedView.create(spark, mvRoot, "dec", src, decSchema,
      Seq("k"), Seq("total" -> "v"))
    // k=1 crosses 10^32 (NULL); k=2 grows to just under it
    src.commit(spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, big),
      org.apache.spark.sql.Row(2L,
        new java.math.BigDecimal("39999999999999999999999999999999.999999"))),
      decSchema), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assertFoldExact(src, decSchema, mvRoot)
    val sums = TxLogTable(spark, mvRoot)
      .snapshot(MaterializedView.definition(spark, mvRoot).mvSchema)
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(sums(1L) == null && sums(2L) != null, sums)
  }

  test("fold exactness: groups emptied and re-created inside one window, " +
    "across copy-on-write deletes and a MOR drop") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (1L, "a", 2.0), (2L, "b", 3.0)),
      overwrite = true)
    MaterializedView.create(spark, mvRoot, "recreate", src, schema,
      Seq("k"), Seq("total" -> "v"))
    src.deleteWhere(schema, col("k") === 1L)          // empties k=1
    src.commit(df((1L, "a", 7.0), (9L, "n", 4.0)), overwrite = false)
    src.deleteWhere(schema, col("k") === 9L)          // k=9 born and gone
    src.commit(df((9L, "n", 5.0)), overwrite = false) // ... and back
    src.deleteByKeysMor(Seq(9L, 2L).toDF("k"))        // drop step
    src.commit(df((9L, "n", 6.0), (2L, "b", 8.0)), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental", st)
    assertFoldExact(src, schema, mvRoot)
    assert(mvRows(mvRoot) === Set((Some(1L), 1L, 7.0), (Some(2L), 1L, 8.0),
      (Some(9L), 1L, 6.0)))
  }

  test("fold exactness: a window touching more groups than the keyed " +
    "read filters inline reads them through a broadcast semi-join") {
    val (src, mvRoot) = fresh()
    val n = TxLogTable.MaxLocalKeyPoints + 100L
    src.commit(df((1L to n).map(k => (k, "a", k.toDouble)): _*),
      overwrite = true)
    MaterializedView.create(spark, mvRoot, "wide", src, schema,
      Seq("k", "cat"), Seq("total" -> "v"))
    src.commit(df((1L to n + 5).map(k => (k, "a", 1.0)): _*),
      overwrite = false)
    src.deleteWhere(schema, col("k") === 3L)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "incremental" && st.groupsChanged === n + 5, st)
    assertFoldExact(src, schema, mvRoot)
  }

  test("fold exactness: a group column under a non-binary collation " +
    "recomputes, grouping as the collation does") {
    val (src, mvRoot) = fresh()
    val lcase = StringType("UTF8_LCASE")
    def rows(xs: (String, Double)*): DataFrame = xs.toDF("s", "v")
      .select(col("s").cast(lcase).as("s"), col("v"))
    val first = rows(("A", 1.0), ("b", 2.0))
    src.commit(first, overwrite = true)
    MaterializedView.create(spark, mvRoot, "coll", src, first.schema,
      Seq("s"), Seq("total" -> "v"))
    src.commit(rows(("a", 10.0), ("B", 20.0)), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mode === "full", st)
    val d = MaterializedView.definition(spark, mvRoot)
    assert(TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
      .map(r => (r.getString(0).toLowerCase, r.getLong(2))).toSet ===
      Set(("a", 2L), ("b", 2L)))
  }

  test("a full recompute reports the recomputed view's group count") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0), (2L, "b", 3.0),
      (3L, "c", 4.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "gc_full", src, schema,
      Seq("k"), Seq("total" -> "v"))
    src.commit(df((4L, "d", 5.0), (4L, "d", 6.0)), overwrite = false)
    val st = MaterializedView.refresh(spark, mvRoot, full = true)
    assert(st.mode === "full", st)
    assert(st.groupsChanged === 4L, st) // k = 1, 2, 3, 4
    assert(mvRows(mvRoot) === recompute(src))
  }

  test("a dimension probe that throws fails the refresh; the view stays " +
    "at its pre-state") {
    val dir = Files.createTempDirectory("mvprobe")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L to 20L).map(i => (i % 5, "x", i.toDouble)): _*),
      overwrite = true)
    dim.commit((0L to 4L).map(i => (i, "s" + (i % 2))).toDF("uid", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "probe_star", fact,
      schema, dim, dimSchema, Seq("k" -> "uid"), Seq("seg"),
      Seq("total" -> "v"))
    val mv = TxLogTable(spark, mvRoot)
    val d = MaterializedView.definition(spark, mvRoot)
    val preV = mv.latestVersion
    val pre = mv.snapshot(d.mvSchema).collect().toSet
    // the dim moves by an append whose file a compaction then replaces:
    // only the dim's change feed — the probe — still reads that file,
    // which is then damaged
    val before = dim.entries().map(_.rel).toSet
    dim.commit(Seq((5L, "s9"), (1L, "s7")).toDF("uid", "seg"),
      overwrite = false)
    val added = dim.entries().map(_.rel).filterNot(before)
    dim.compact(dimSchema)
    added.foreach(r => Files.write(dir.resolve("dim").resolve("data")
      .resolve(r), "not parquet".getBytes))
    // past the local-snapshot cap, so the probe runs instead of the
    // driver-side snapshot diff
    spark.conf.set("spark.graft.mv.maxLocalDimRows", "0")
    try intercept[Exception](MaterializedView.refresh(spark, mvRoot))
    finally spark.conf.unset("spark.graft.mv.maxLocalDimRows")
    assert(mv.latestVersion === preV)
    assert(mv.snapshot(d.mvSchema).collect().toSet === pre)
  }

  // ---- job budgets: job counts are deterministic, so a refresh that
  // starts doing more Spark work fails here rather than hiding in
  // wall-time noise ----

  private def jobsOf[A](body: => A): (A, Int) =
    org.apache.spark.JobCount.of(spark.sparkContext)(body)

  // the measured counts of the two scenarios below (local[4], AQE on)
  private val JobBudgetAgg = 9
  private val JobBudgetStar = 12

  test("job budget: an incremental refresh over an append + merge + " +
    "delete window") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L to 40L).map(i => (i, "c" + (i % 4), i.toDouble)): _*),
      overwrite = true)
    MaterializedView.create(spark, mvRoot, "budget", src, schema,
      Seq("cat"), Seq("total" -> "v"))
    // warm the view once so its DV masks are live, as in steady state
    src.commit(df((41L, "c1", 1.0)), overwrite = false)
    MaterializedView.refresh(spark, mvRoot)
    src.commit(df((42L, "c2", 2.0), (43L, "c5", 3.0)), overwrite = false)
    src.merge(schema, df((5L, "c1", 50.0), (6L, "c6", 60.0)), Seq("k"))
    src.deleteWhere(schema, col("k") === 7L)
    val (st, jobs) = jobsOf(MaterializedView.refresh(spark, mvRoot))
    assert(st.mode === "incremental", st)
    assertFoldExact(src, schema, mvRoot)
    info(s"refresh ran $jobs Spark jobs")
    assert(jobs <= JobBudgetAgg, s"refresh ran $jobs Spark jobs")
  }

  test("job budget: a star view's refresh under dimension churn") {
    val dir = Files.createTempDirectory("mvbudget-star")
    val fact = TxLogTable(spark, dir.resolve("fact").toString)
    val dim = TxLogTable(spark, dir.resolve("dim").toString)
    val mvRoot = dir.resolve("mv").toString
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    fact.commit(df((1L to 40L).map(i => (i % 10, "x", i.toDouble)): _*),
      overwrite = true)
    dim.commit((0L to 9L).map(i => (i, "s" + (i % 3))).toDF("uid", "seg"),
      overwrite = true)
    MaterializedView.createJoined(spark, mvRoot, "budget_star", fact,
      schema, dim, dimSchema, Seq("k" -> "uid"), Seq("seg"),
      Seq("total" -> "v"))
    fact.commit(df((3L, "x", 100.0)), overwrite = false)
    dim.merge(dimSchema, Seq((4L, "s9"), (5L, "s0")).toDF("uid", "seg"),
      Seq("uid"))
    val (st, jobs) = jobsOf(MaterializedView.refresh(spark, mvRoot))
    assert(st.mode === "incremental", st)
    val d = MaterializedView.definition(spark, mvRoot)
    val want = fact.snapshot(schema).join(dim.snapshot(dimSchema),
        col("k") === col("uid"))
      .groupBy("seg").agg(
        sum(col("v").cast(MaterializedView.SumType)).as("total"),
        count(lit(1)).as(MaterializedView.CountCol))
      .collect().map(r => (r.getString(0), r.get(1), r.getLong(2))).toSet
    assert(TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
      .map(r => (r.getString(0), r.get(1), r.getLong(2))).toSet === want)
    info(s"refresh ran $jobs Spark jobs")
    assert(jobs <= JobBudgetStar, s"refresh ran $jobs Spark jobs")
  }
}
