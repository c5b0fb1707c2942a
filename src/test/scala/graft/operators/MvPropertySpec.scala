package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.TxLogTable

/** Model-based property test for materialized-view maintenance: a random
  * interleaving of source DML — appends, overwrites (resets), COW deletes,
  * DV deletes/updates, keys-only MOR drops, compactions — with refreshes
  * at random positions must leave the view equal to a from-scratch
  * recompute after EVERY refresh. The hand-written MaterializedViewSpec
  * pins each mechanism's contract; this covers their compositions
  * (MOR-drop-then-reinsert-then-refresh, overwrite-mid-window,
  * compaction-inside-the-fold-range, multi-version windows, ...).
  */
class MvPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType)))

  private sealed trait Op
  private case class Append(rows: List[(Long, Option[Double])]) extends Op
  private case class Overwrite(rows: List[(Long, Option[Double])]) extends Op
  private case class DeleteCow(ks: List[Long]) extends Op
  private case class DeletePos(ks: List[Long]) extends Op
  private case class UpdatePos(ks: List[Long]) extends Op
  private case class MorDrop(ks: List[Long]) extends Op
  private case object Compact extends Op
  private case object Vac extends Op
  private case object Refresh extends Op

  // NULL measures: a SUM over only NULL inputs is NULL, not 0
  private def dec(r: org.apache.spark.sql.Row, c: String): Option[BigDecimal] =
    Option(r.getAs[java.math.BigDecimal](c)).map(BigDecimal(_))
  private def dbl(r: org.apache.spark.sql.Row, c: String): Option[Double] =
    Option(r.getAs[java.lang.Double](c)).map(_.doubleValue)

  private val rowsGen: Gen[List[(Long, Option[Double])]] =
    Gen.resize(3, Gen.nonEmptyListOf(for {
      k <- Gen.choose(1L, 5L)
      v <- Gen.oneOf(Some(1.5), Some(2.25), Some(3.0), Some(10.0), None)
    } yield (k, v)))

  private val ksGen: Gen[List[Long]] =
    Gen.resize(2, Gen.nonEmptyListOf(Gen.choose(1L, 6L)))

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> rowsGen.map(Append),
    1 -> rowsGen.map(Overwrite),
    2 -> ksGen.map(DeleteCow),
    2 -> ksGen.map(DeletePos),
    2 -> ksGen.map(UpdatePos),
    2 -> ksGen.map(MorDrop),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Vac),
    3 -> Gen.const(Refresh))

  private val opGenNoRefresh: Gen[Op] = Gen.frequency(
    4 -> rowsGen.map(Append),
    1 -> rowsGen.map(Overwrite),
    2 -> ksGen.map(DeleteCow),
    2 -> ksGen.map(DeletePos),
    2 -> ksGen.map(UpdatePos),
    2 -> ksGen.map(MorDrop),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Vac))

  private val programGen: Gen[List[Op]] = for {
    head <- rowsGen.map(Overwrite)
    tail <- Gen.resize(10, Gen.listOf(opGen))
  } yield (head :: tail) :+ Refresh

  private def forAllSeeded[A](g: Gen[A], n: Int)(body: (A, Long) => Unit)
      : Unit =
    (1 to n).foreach { i =>
      body(g.pureApply(Gen.Parameters.default.withSize(10),
        Seed(4200L + i)), 4200L + i)
    }

  private def state(src: TxLogTable): Set[(Long, Long, Option[BigDecimal])] =
    src.snapshot(schema).groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(38, 6))).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        dec(r, "t"))).toSet

  private def mvState(spark0: org.apache.spark.sql.SparkSession,
                      mvRoot: String): Set[(Long, Long, Option[BigDecimal])] = {
    val d = MaterializedView.definition(spark0, mvRoot)
    TxLogTable(spark0, mvRoot).snapshot(d.mvSchema).collect()
      .map(r => (r.getLong(0), r.getAs[Long](MaterializedView.CountCol),
        dec(r, "total"))).toSet
  }

  test("star-schema fuzz: random fact DML + mid-program dim churn — the " +
    "joined view equals a join recompute after every refresh (fact MOR " +
    "drops exercise the full-recompute fallback: group col is dim-side)") {
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    forAllSeeded(programGen, 8) { (program, seed) =>
      val dir = Files.createTempDirectory("mvjprop")
      val fact = TxLogTable(spark, dir.resolve("fact").toString)
      val dim = TxLogTable(spark, dir.resolve("dim").toString)
      val mvRoot = dir.resolve("mv").toString
      dim.commit((1L to 6L).map(i => (i, s"s${i % 3}"))
        .toDF("uid", "seg"), overwrite = true)
      var created = false
      def joinState(): Set[(String, Long, Option[BigDecimal])] =
        fact.snapshot(schema).join(dim.snapshot(dimSchema),
            col("k") === col("uid"))
          .groupBy("seg")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            dec(r, "t"))).toSet
      def mvJState(): Set[(String, Long, Option[BigDecimal])] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
          .map(r => (r.getString(0),
            r.getAs[Long](MaterializedView.CountCol),
            dec(r, "total"))).toSet
      }
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        if (step == program.length / 2) // dim churn mid-program
          dim.updateWherePos(dimSchema, col("uid") === 2L,
            Seq("seg" -> concat(col("seg"), lit("x"))))
        op match {
          case Append(rows) =>
            fact.commit(rows.toDF("k", "v"), overwrite = false)
          case Overwrite(rows) =>
            fact.commit(rows.toDF("k", "v"), overwrite = true)
          case DeleteCow(ks) =>
            fact.deleteWhere(schema, col("k").isin(ks: _*))
          case DeletePos(ks) =>
            fact.deleteWherePos(schema, col("k").isin(ks: _*))
          case UpdatePos(ks) =>
            fact.updateWherePos(schema, col("k").isin(ks: _*),
              Seq("v" -> (col("v") + 0.5)))
          case MorDrop(ks) =>
            fact.deleteByKeysMor(ks.toDF("k").distinct())
          case Compact =>
            if (fact.latestVersion.nonEmpty) fact.compact(schema)
          case Vac =>
            fact.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case Refresh =>
            if (!created) {
              MaterializedView.createJoined(spark, mvRoot, s"j$seed",
                fact, schema, dim, dimSchema, Seq("k" -> "uid"),
                Seq("seg"), Seq("total" -> "v"))
              created = true
            } else {
              MaterializedView.refresh(spark, mvRoot)
            }
            assert(mvJState() === joinState(), ctx)
        }
      }
    }
  }

  test("dim-delta fuzz: random interleavings of fact DML with dim " +
    "insert/update/delete/MOR-drop — the joined view equals a join " +
    "recompute after every refresh, and dim-moved windows fold " +
    "incrementally (never O(view)) whenever the dim window is replayable") {
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    sealed trait DOp
    case class DimUpd(ks: List[Long]) extends DOp
    case class DimDel(ks: List[Long]) extends DOp
    case class DimIns(ks: List[Long]) extends DOp
    case class DimMor(ks: List[Long]) extends DOp
    case class FactOp(op: Op) extends DOp
    case object DRefresh extends DOp
    val dimKsGen = Gen.resize(2, Gen.nonEmptyListOf(Gen.choose(1L, 8L)))
    val dopGen: Gen[DOp] = Gen.frequency(
      5 -> opGenNoRefresh.map(FactOp),
      2 -> dimKsGen.map(DimUpd),
      1 -> dimKsGen.map(DimDel),
      2 -> dimKsGen.map(DimIns),
      1 -> dimKsGen.map(DimMor),
      4 -> Gen.const(DRefresh))
    val dProgGen: Gen[List[DOp]] = for {
      tail <- Gen.resize(12, Gen.listOf(dopGen))
    } yield (FactOp(Overwrite(List((1L, Some(1.5)), (2L, Some(3.0))))) :: tail) :+
      DRefresh
    var dimFolds = 0
    var shuffleFolds = 0
    forAllSeeded(dProgGen, 10) { (program, seed) =>
      // odd seeds force EVERY dim delta past the broadcast cap, so the
      // SHUFFLE-join fold faces the same random adversary as the capped
      // path (a delta past the covers-most-of-the-dim crossover still
      // recomputes — the equality assert holds on both routes)
      val overCap = seed % 2 == 1
      if (overCap) spark.conf.set("spark.graft.mv.maxDimDeltaKeys", "1")
      else spark.conf.unset("spark.graft.mv.maxDimDeltaKeys")
      val dir = Files.createTempDirectory("mvdimfold")
      val fact = TxLogTable(spark, dir.resolve("fact").toString)
      val dim = TxLogTable(spark, dir.resolve("dim").toString)
      val mvRoot = dir.resolve("mv").toString
      dim.commit((1L to 6L).map(i => (i, s"s${i % 3}"))
        .toDF("uid", "seg"), overwrite = true)
      var created = false
      def joinState(): Set[(String, Long, Option[BigDecimal])] =
        fact.snapshot(schema).join(dim.snapshot(dimSchema),
            col("k") === col("uid"))
          .groupBy("seg")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            dec(r, "t"))).toSet
      def mvJState(): Set[(String, Long, Option[BigDecimal])] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
          .map(r => (r.getString(0),
            r.getAs[Long](MaterializedView.CountCol),
            dec(r, "total"))).toSet
      }
      program.zipWithIndex.foreach { case (dop, step) =>
        def ctx = s"seed=$seed step=$step op=$dop program=$program"
        dop match {
          case FactOp(Append(rows)) =>
            fact.commit(rows.toDF("k", "v"), overwrite = false)
          case FactOp(Overwrite(rows)) =>
            fact.commit(rows.toDF("k", "v"), overwrite = true)
          case FactOp(DeleteCow(ks)) =>
            fact.deleteWhere(schema, col("k").isin(ks: _*))
          case FactOp(DeletePos(ks)) =>
            fact.deleteWherePos(schema, col("k").isin(ks: _*))
          case FactOp(UpdatePos(ks)) =>
            fact.updateWherePos(schema, col("k").isin(ks: _*),
              Seq("v" -> (col("v") + 0.5)))
          case FactOp(MorDrop(ks)) =>
            fact.deleteByKeysMor(ks.toDF("k").distinct())
          case FactOp(Compact) =>
            if (fact.latestVersion.nonEmpty) fact.compact(schema)
          case FactOp(Vac) =>
            fact.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            dim.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case FactOp(Refresh) => () // unreachable (opGenNoRefresh)
          case DimUpd(ks) =>
            dim.updateWherePos(dimSchema, col("uid").isin(ks: _*),
              Seq("seg" -> concat(col("seg"), lit("x"))))
          case DimDel(ks) =>
            dim.deleteWherePos(dimSchema, col("uid").isin(ks: _*))
          case DimIns(ks) =>
            // insert-if-absent keeps the dim unique on uid
            val present = dim.snapshot(dimSchema).select("uid")
              .collect().map(_.getLong(0)).toSet
            val fresh = ks.distinct.filterNot(present)
            if (fresh.nonEmpty)
              dim.commit(fresh.map(i => (i, s"n${i % 4}"))
                .toDF("uid", "seg"), overwrite = false)
          case DimMor(ks) =>
            dim.deleteByKeysMor(ks.toDF("uid").distinct())
          case DRefresh =>
            if (!created) {
              MaterializedView.createJoined(spark, mvRoot, s"df$seed",
                fact, schema, dim, dimSchema, Seq("k" -> "uid"),
                Seq("seg"), Seq("total" -> "v"))
              created = true
            } else {
              val dimBefore = MaterializedView.lastDimVersion(
                TxLogTable(spark, mvRoot))
              val st = MaterializedView.refresh(spark, mvRoot)
              if (st.mode == "incremental" &&
                  dim.latestVersion.exists(_ != dimBefore)) {
                dimFolds += 1
                if (overCap) shuffleFolds += 1
              }
            }
            assert(mvJState() === joinState(), ctx)
        }
      }
    }
    spark.conf.unset("spark.graft.mv.maxDimDeltaKeys")
    assert(dimFolds > 0, "the corpus never exercised the dim-delta " +
      "incremental path — weaken the full-recompute fallbacks?")
    assert(shuffleFolds > 0, "no over-cap window folded through the " +
      "shuffle path — the forced-cap seeds never hit an incremental " +
      "dim move?")
  }

  test("random DML programs with interleaved refreshes: the view equals " +
    "a recompute after every refresh") {
    forAllSeeded(programGen, 12) { (program, seed) =>
      val dir = Files.createTempDirectory("mvprop")
      val src = TxLogTable(spark, dir.resolve("src").toString)
      val mvRoot = dir.resolve("mv").toString
      var created = false
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        op match {
          case Append(rows) =>
            src.commit(rows.toDF("k", "v"), overwrite = false)
          case Overwrite(rows) =>
            src.commit(rows.toDF("k", "v"), overwrite = true)
          case DeleteCow(ks) =>
            src.deleteWhere(schema, col("k").isin(ks: _*))
          case DeletePos(ks) =>
            src.deleteWherePos(schema, col("k").isin(ks: _*))
          case UpdatePos(ks) =>
            src.updateWherePos(schema, col("k").isin(ks: _*),
              Seq("v" -> (col("v") + 0.5)))
          case MorDrop(ks) =>
            src.deleteByKeysMor(ks.toDF("k").distinct())
          case Compact =>
            if (src.latestVersion.nonEmpty) src.compact(schema)
          case Vac =>
            // an aggressive vacuum: the view's cursor (once it exists)
            // floors the drop, so the un-consumed window must survive
            // and the next refresh stay exact
            src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case Refresh =>
            if (!created) {
              MaterializedView.create(spark, mvRoot, s"p$seed", src,
                schema, Seq("k"), Seq("total" -> "v"))
              created = true
            } else {
              MaterializedView.refresh(spark, mvRoot)
            }
            assert(mvState(spark, mvRoot) === state(src), ctx)
        }
      }
    }
  }

  test("WAP fuzz: random branch write/refresh programs — main frozen " +
    "through the audit, publish lands a main equal to the recompute, " +
    "post-publish refresh noops") {
    val progGen = Gen.resize(8, Gen.listOf(Gen.frequency(
      3 -> rowsGen.map(Append), 2 -> Gen.const(Refresh))))
    forAllSeeded(progGen, 6) { (program, seed) =>
      val dir = Files.createTempDirectory("mvwapprop")
      val src = TxLogTable(spark, dir.resolve("src").toString)
      val mvRoot = dir.resolve("mv").toString
      src.commit(List((1L, 1.5), (2L, 3.0)).toDF("k", "v"),
        overwrite = true)
      MaterializedView.create(spark, mvRoot, s"w$seed", src,
        schema, Seq("k"), Seq("total" -> "v"))
      MaterializedView.branchMv(spark, mvRoot, "a")
      val bSrc = src.branchTable("a")
      val bHandle = graft.sources.TxLogTable.branchRoot(mvRoot, "a")
      val mainBefore = mvState(spark, mvRoot)
      program.foreach {
        case Append(rows) =>
          bSrc.commit(rows.toDF("k", "v"), overwrite = false)
        case Refresh =>
          MaterializedView.refresh(spark, bHandle)
          assert(mvState(spark, bHandle) ===
            state(bSrc), s"seed=$seed on-branch fold diverged")
        case _ => ()
      }
      assert(mvState(spark, mvRoot) === mainBefore,
        s"seed=$seed main moved during the audit")
      MaterializedView.refresh(spark, bHandle) // audit gate: current
      MaterializedView.publishWap(spark, mvRoot, "a")
      assert(mvState(spark, mvRoot) === state(src),
        s"seed=$seed published main != recompute")
      assert(MaterializedView.refresh(spark, mvRoot).mode === "noop",
        s"seed=$seed post-publish bookkeeping not seamless")
    }
  }

  test("composed fuzz: branch forks + WAP publishes + vacuum with " +
    "cursor/tag floors + tag pins interleaved with main/branch DML and " +
    "refreshes — fold == recompute on both handles, tagged snapshots " +
    "stay readable and exact, abandoned audits drop cleanly") {
    sealed trait COp
    case class MAppend(rows: List[(Long, Option[Double])]) extends COp
    case class MDelete(ks: List[Long]) extends COp
    case class BAppend(rows: List[(Long, Option[Double])]) extends COp
    case object MRefresh extends COp
    case object BRefresh extends COp
    case object Fork extends COp
    case object Publish extends COp
    case object VacAll extends COp
    case object TagNow extends COp
    val copGen: Gen[COp] = Gen.frequency(
      4 -> rowsGen.map(MAppend),
      2 -> ksGen.map(MDelete),
      3 -> rowsGen.map(BAppend),
      3 -> Gen.const(MRefresh),
      3 -> Gen.const(BRefresh),
      2 -> Gen.const(Fork),
      2 -> Gen.const(Publish),
      2 -> Gen.const(VacAll),
      2 -> Gen.const(TagNow))
    val progGen = Gen.resize(14, Gen.listOf(copGen))
    var forks = 0
    var publishes = 0
    forAllSeeded(progGen, 8) { (program, seed) =>
      val dir = Files.createTempDirectory("mvcomp")
      val src = TxLogTable(spark, dir.resolve("src").toString)
      val mvRoot = dir.resolve("mv").toString
      src.commit(List((1L, 1.5), (2L, 3.0)).toDF("k", "v"),
        overwrite = true)
      MaterializedView.create(spark, mvRoot, s"c$seed", src, schema,
        Seq("k"), Seq("total" -> "v"))
      val mv = TxLogTable(spark, mvRoot)
      var branch = false
      var tagN = 0
      var tagged = Map.empty[String, Set[(Long, Long, Option[BigDecimal])]]
      def bSrc = src.branchTable("a")
      def bHandle = TxLogTable.branchRoot(mvRoot, "a")
      def stateAt(v: Int): Set[(Long, Long, Option[BigDecimal])] =
        src.snapshot(schema, Some(v)).groupBy("k")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            dec(r, "t"))).toSet
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        op match {
          case MAppend(rows) =>
            src.commit(rows.toDF("k", "v"), overwrite = false)
          case MDelete(ks) =>
            src.deleteWherePos(schema, col("k").isin(ks: _*))
          case BAppend(rows) => if (branch)
            bSrc.commit(rows.toDF("k", "v"), overwrite = false)
          case MRefresh =>
            MaterializedView.refresh(spark, mvRoot)
            assert(mvState(spark, mvRoot) === state(src), ctx)
          case BRefresh => if (branch) {
            MaterializedView.refresh(spark, bHandle)
            assert(mvState(spark, bHandle) === state(bSrc), ctx)
          }
          case Fork => if (!branch) {
            MaterializedView.refresh(spark, mvRoot) // forks correspond
            MaterializedView.branchMv(spark, mvRoot, "a")
            branch = true; forks += 1
          }
          case Publish => if (branch) {
            MaterializedView.refresh(spark, bHandle) // audit gate
            try {
              MaterializedView.publishWap(spark, mvRoot, "a")
              publishes += 1
              assert(mvState(spark, mvRoot) === state(src), ctx)
              assert(MaterializedView.refresh(spark, mvRoot)
                .mode === "noop", ctx)
            } catch {
              case _: java.util.ConcurrentModificationException =>
              // main moved since the fork — fast-forward honesty: the
              // audit is abandoned; a fact-published/view-refused split
              // self-heals through the next MRefresh's recompute check
            }
            src.dropBranch("a"); mv.dropBranch("a")
            branch = false
          }
          case VacAll =>
            src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            mv.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case TagNow =>
            tagN += 1
            val name = s"t$tagN"
            src.tag(name)
            tagged += name -> state(src)
        }
      }
      // every tag still names a READABLE, EXACT snapshot: the tag floor
      // held through every aggressive vacuum the program ran
      tagged.foreach { case (name, want) =>
        val v = src.versionOfTag(name).getOrElse(
          fail(s"seed=$seed tag $name vanished"))
        assert(src.versions.contains(v),
          s"seed=$seed tag $name points at a vacuumed version")
        assert(stateAt(v) === want,
          s"seed=$seed tagged snapshot $name diverged")
      }
      // and the main view still converges after everything
      MaterializedView.refresh(spark, mvRoot)
      assert(mvState(spark, mvRoot) === state(src), s"seed=$seed final")
    }
    assert(forks > 0 && publishes > 0,
      s"the corpus never exercised fork/publish (forks=$forks, " +
        s"publishes=$publishes) — rebalance the generator")
  }

  test("min/max fuzz: random DML programs — the extrema view equals a " +
    "recompute after every refresh; deleting windows stay incremental " +
    "via the group-targeted partial recompute") {
    var targeted = 0
    forAllSeeded(programGen, 10) { (program, seed) =>
      val dir = Files.createTempDirectory("mvmmprop")
      val src = TxLogTable(spark, dir.resolve("src").toString)
      val mvRoot = dir.resolve("mv").toString
      var created = false
      var sawRowChange = false
      def mmRecompute(): Set[(Long, Long, Option[BigDecimal], Option[Double], Option[Double])] =
        src.snapshot(schema).groupBy("k")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"),
            min(col("v")).as("lo"), max(col("v")).as("hi"))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            dec(r, "t"),
            dbl(r, "lo"), dbl(r, "hi"))).toSet
      def mmView(): Set[(Long, Long, Option[BigDecimal], Option[Double], Option[Double])] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
          .map(r => (r.getLong(0),
            r.getAs[Long](MaterializedView.CountCol),
            dec(r, "total"),
            dbl(r, "lo"), dbl(r, "hi"))).toSet
      }
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        op match {
          case Append(rows) =>
            src.commit(rows.toDF("k", "v"), overwrite = false)
          case Overwrite(rows) =>
            src.commit(rows.toDF("k", "v"), overwrite = true)
          case DeleteCow(ks) =>
            src.deleteWhere(schema, col("k").isin(ks: _*))
            sawRowChange = true
          case DeletePos(ks) =>
            src.deleteWherePos(schema, col("k").isin(ks: _*))
            sawRowChange = true
          case UpdatePos(ks) =>
            src.updateWherePos(schema, col("k").isin(ks: _*),
              Seq("v" -> (col("v") + 0.5)))
            sawRowChange = true
          case MorDrop(ks) =>
            src.deleteByKeysMor(ks.toDF("k").distinct())
            sawRowChange = true
          case Compact =>
            if (src.latestVersion.nonEmpty) src.compact(schema)
          case Vac =>
            src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case Refresh =>
            if (!created) {
              MaterializedView.create(spark, mvRoot, s"mm$seed", src,
                schema, Seq("k"), Seq("total" -> "v"),
                mins = Seq("lo" -> "v"), maxs = Seq("hi" -> "v"))
              created = true
            } else {
              val st = MaterializedView.refresh(spark, mvRoot)
              if (st.mode == "incremental" && sawRowChange) targeted += 1
            }
            sawRowChange = false
            assert(mmView() === mmRecompute(), ctx)
        }
      }
    }
    assert(targeted > 0, "the corpus never exercised the targeted " +
      "partial-recompute path — rebalance the generator")
  }

  test("2-dim star fuzz: independent churn on BOTH dims interleaved " +
    "with fact DML — the telescoped per-dim corrections leave the view " +
    "equal to a 2-join recompute after every refresh, windows moving " +
    "both dims staying incremental") {
    val duSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    val dcSchema = StructType(Seq(
      StructField("uid2", LongType), StructField("cls", StringType)))
    sealed trait DOp
    case class D1Upd(ks: List[Long]) extends DOp
    case class D1Del(ks: List[Long]) extends DOp
    case class D1Ins(ks: List[Long]) extends DOp
    case class D2Upd(ks: List[Long]) extends DOp
    case class D2Del(ks: List[Long]) extends DOp
    case class D2Ins(ks: List[Long]) extends DOp
    case class FactOp(op: Op) extends DOp
    case object DRefresh extends DOp
    val dimKsGen = Gen.resize(2, Gen.nonEmptyListOf(Gen.choose(1L, 8L)))
    val dopGen: Gen[DOp] = Gen.frequency(
      4 -> opGenNoRefresh.map(FactOp),
      2 -> dimKsGen.map(D1Upd),
      1 -> dimKsGen.map(D1Del),
      1 -> dimKsGen.map(D1Ins),
      2 -> dimKsGen.map(D2Upd),
      1 -> dimKsGen.map(D2Del),
      1 -> dimKsGen.map(D2Ins),
      4 -> Gen.const(DRefresh))
    // the deterministic tail guarantees each seed one BOTH-dims-moved
    // window (inserts of never-used keys always commit): the random
    // body's dims often shrink until late DML matches nothing, which
    // would leave the both-moved coverage to chance
    val dProgGen: Gen[List[DOp]] = for {
      tail <- Gen.resize(14, Gen.listOf(dopGen))
    } yield (FactOp(Overwrite(List((1L, Some(1.5)), (2L, Some(3.0))))) :: tail) ++
      List(DRefresh, FactOp(Append(List((7L, Some(2.5))))), D1Ins(List(42L)),
        D2Ins(List(42L)), DRefresh)
    var bothMovedInc = 0
    forAllSeeded(dProgGen, 10) { (program, seed) =>
      val dir = Files.createTempDirectory("mv2dim")
      val fact = TxLogTable(spark, dir.resolve("fact").toString)
      val dimU = TxLogTable(spark, dir.resolve("dimu").toString)
      val dimC = TxLogTable(spark, dir.resolve("dimc").toString)
      val mvRoot = dir.resolve("mv").toString
      dimU.commit((1L to 6L).map(i => (i, s"s${i % 3}"))
        .toDF("uid", "seg"), overwrite = true)
      dimC.commit((1L to 6L).map(i => (i, s"c${i % 2}"))
        .toDF("uid2", "cls"), overwrite = true)
      var created = false
      def joinState(): Set[(String, String, Long, Option[BigDecimal])] =
        fact.snapshot(schema)
          .join(dimU.snapshot(duSchema), col("k") === col("uid"))
          .join(dimC.snapshot(dcSchema), col("k") === col("uid2"))
          .groupBy("seg", "cls")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"))
          .collect().map(r => (r.getString(0), r.getString(1),
            r.getLong(2),
            dec(r, "t"))).toSet
      def mvJState(): Set[(String, String, Long, Option[BigDecimal])] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
          .map(r => (r.getString(0), r.getString(1),
            r.getAs[Long](MaterializedView.CountCol),
            dec(r, "total"))).toSet
      }
      def insIfAbsent(dt: TxLogTable, sch: StructType, key: String,
                      ks: List[Long], mk: Long => (Long, String)): Unit = {
        val present = dt.snapshot(sch).select(key)
          .collect().map(_.getLong(0)).toSet
        val freshKs = ks.distinct.filterNot(present)
        if (freshKs.nonEmpty)
          dt.commit(freshKs.map(mk).toDF(sch.fieldNames.toIndexedSeq: _*),
            overwrite = false)
      }
      program.zipWithIndex.foreach { case (dop, step) =>
        def ctx = s"seed=$seed step=$step op=$dop program=$program"
        dop match {
          case FactOp(Append(rows)) =>
            fact.commit(rows.toDF("k", "v"), overwrite = false)
          case FactOp(Overwrite(rows)) =>
            fact.commit(rows.toDF("k", "v"), overwrite = true)
          case FactOp(DeleteCow(ks)) =>
            fact.deleteWhere(schema, col("k").isin(ks: _*))
          case FactOp(DeletePos(ks)) =>
            fact.deleteWherePos(schema, col("k").isin(ks: _*))
          case FactOp(UpdatePos(ks)) =>
            fact.updateWherePos(schema, col("k").isin(ks: _*),
              Seq("v" -> (col("v") + 0.5)))
          case FactOp(MorDrop(ks)) =>
            fact.deleteByKeysMor(ks.toDF("k").distinct())
          case FactOp(Compact) =>
            if (fact.latestVersion.nonEmpty) fact.compact(schema)
          case FactOp(Vac) =>
            fact.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            dimU.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            dimC.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case FactOp(Refresh) => () // unreachable (opGenNoRefresh)
          case D1Upd(ks) =>
            dimU.updateWherePos(duSchema, col("uid").isin(ks: _*),
              Seq("seg" -> concat(col("seg"), lit("x"))))
          case D1Del(ks) =>
            dimU.deleteWherePos(duSchema, col("uid").isin(ks: _*))
          case D1Ins(ks) =>
            insIfAbsent(dimU, duSchema, "uid", ks, i => (i, s"n${i % 4}"))
          case D2Upd(ks) =>
            dimC.updateWherePos(dcSchema, col("uid2").isin(ks: _*),
              Seq("cls" -> concat(col("cls"), lit("y"))))
          case D2Del(ks) =>
            dimC.deleteWherePos(dcSchema, col("uid2").isin(ks: _*))
          case D2Ins(ks) =>
            insIfAbsent(dimC, dcSchema, "uid2", ks, i => (i, s"m${i % 3}"))
          case DRefresh =>
            if (!created) {
              MaterializedView.createStar(spark, mvRoot, s"s2$seed",
                fact, schema,
                Seq((dimU, duSchema, Seq("k" -> "uid")),
                  (dimC, dcSchema, Seq("k" -> "uid2"))),
                Seq("seg", "cls"), Seq("total" -> "v"))
              created = true
            } else {
              val mvT = TxLogTable(spark, mvRoot)
              val d1Before = MaterializedView.lastDimVersion(mvT, 0)
              val d2Before = MaterializedView.lastDimVersion(mvT, 1)
              val st = MaterializedView.refresh(spark, mvRoot)
              if (st.mode == "incremental" &&
                  dimU.latestVersion.exists(_ != d1Before) &&
                  dimC.latestVersion.exists(_ != d2Before))
                bothMovedInc += 1
            }
            assert(mvJState() === joinState(), ctx)
        }
      }
    }
    assert(bothMovedInc > 0, "the corpus never folded a window with " +
      "BOTH dims moved incrementally — weaken the fallbacks?")
  }

  test("min/max star fuzz: dim churn interleaved with fact DML on an " +
    "extrema view — fold equals a join recompute after every refresh, " +
    "and replayable dim windows route to the dim-targeted group " +
    "recompute (mode=incremental, never O(view))") {
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    sealed trait DOp
    case class DimUpd(ks: List[Long]) extends DOp
    case class DimDel(ks: List[Long]) extends DOp
    case class DimIns(ks: List[Long]) extends DOp
    case class FactOp(op: Op) extends DOp
    case object DRefresh extends DOp
    val dimKsGen = Gen.resize(2, Gen.nonEmptyListOf(Gen.choose(1L, 8L)))
    val dopGen: Gen[DOp] = Gen.frequency(
      5 -> opGenNoRefresh.map(FactOp),
      2 -> dimKsGen.map(DimUpd),
      1 -> dimKsGen.map(DimDel),
      2 -> dimKsGen.map(DimIns),
      4 -> Gen.const(DRefresh))
    val dProgGen: Gen[List[DOp]] = for {
      tail <- Gen.resize(12, Gen.listOf(dopGen))
    } yield (FactOp(Overwrite(List((1L, Some(1.5)), (2L, Some(3.0))))) :: tail) :+
      DRefresh
    var dimTargeted = 0
    forAllSeeded(dProgGen, 10) { (program, seed) =>
      val dir = Files.createTempDirectory("mvmmdim")
      val fact = TxLogTable(spark, dir.resolve("fact").toString)
      val dim = TxLogTable(spark, dir.resolve("dim").toString)
      val mvRoot = dir.resolve("mv").toString
      dim.commit((1L to 6L).map(i => (i, s"s${i % 3}"))
        .toDF("uid", "seg"), overwrite = true)
      var created = false
      def joinState(): Set[(String, Long, Option[BigDecimal], Option[Double], Option[Double])] =
        fact.snapshot(schema).join(dim.snapshot(dimSchema),
            col("k") === col("uid"))
          .groupBy("seg")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"),
            min(col("v")).as("lo"), max(col("v")).as("hi"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            dec(r, "t"),
            dbl(r, "lo"), dbl(r, "hi"))).toSet
      def mvJState(): Set[(String, Long, Option[BigDecimal], Option[Double], Option[Double])] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
          .map(r => (r.getString(0),
            r.getAs[Long](MaterializedView.CountCol),
            dec(r, "total"),
            dbl(r, "lo"), dbl(r, "hi"))).toSet
      }
      program.zipWithIndex.foreach { case (dop, step) =>
        def ctx = s"seed=$seed step=$step op=$dop program=$program"
        dop match {
          case FactOp(Append(rows)) =>
            fact.commit(rows.toDF("k", "v"), overwrite = false)
          case FactOp(Overwrite(rows)) =>
            fact.commit(rows.toDF("k", "v"), overwrite = true)
          case FactOp(DeleteCow(ks)) =>
            fact.deleteWhere(schema, col("k").isin(ks: _*))
          case FactOp(DeletePos(ks)) =>
            fact.deleteWherePos(schema, col("k").isin(ks: _*))
          case FactOp(UpdatePos(ks)) =>
            fact.updateWherePos(schema, col("k").isin(ks: _*),
              Seq("v" -> (col("v") + 0.5)))
          case FactOp(MorDrop(ks)) =>
            fact.deleteByKeysMor(ks.toDF("k").distinct())
          case FactOp(Compact) =>
            if (fact.latestVersion.nonEmpty) fact.compact(schema)
          case FactOp(Vac) =>
            fact.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            dim.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case FactOp(Refresh) => () // unreachable (opGenNoRefresh)
          case DimUpd(ks) =>
            dim.updateWherePos(dimSchema, col("uid").isin(ks: _*),
              Seq("seg" -> concat(col("seg"), lit("x"))))
          case DimDel(ks) =>
            dim.deleteWherePos(dimSchema, col("uid").isin(ks: _*))
          case DimIns(ks) =>
            val present = dim.snapshot(dimSchema).select("uid")
              .collect().map(_.getLong(0)).toSet
            val fresh = ks.distinct.filterNot(present)
            if (fresh.nonEmpty)
              dim.commit(fresh.map(i => (i, s"n${i % 4}"))
                .toDF("uid", "seg"), overwrite = false)
          case DRefresh =>
            if (!created) {
              MaterializedView.createJoined(spark, mvRoot, s"mmd$seed",
                fact, schema, dim, dimSchema, Seq("k" -> "uid"),
                Seq("seg"), Seq("total" -> "v"),
                mins = Seq("lo" -> "v"), maxs = Seq("hi" -> "v"))
              created = true
            } else {
              val dimBefore = MaterializedView.lastDimVersion(
                TxLogTable(spark, mvRoot))
              val st = MaterializedView.refresh(spark, mvRoot)
              if (st.mode == "incremental" &&
                  dim.latestVersion.exists(_ != dimBefore)) dimTargeted += 1
            }
            assert(mvJState() === joinState(), ctx)
        }
      }
    }
    assert(dimTargeted > 0, "the corpus never exercised the dim-targeted " +
      "MIN/MAX recompute path — weaken the full-recompute fallbacks?")
  }

  test("joined-triple WAP fuzz: random fact/dim DML on main and branch " +
    "with refreshes, publishes and vacuums — both handles equal their " +
    "join recomputes after every refresh, main frozen through audits, " +
    "publishes land all three or abandon cleanly") {
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    sealed trait TOp
    case class FMain(rows: List[(Long, Option[Double])]) extends TOp
    case class FBranch(rows: List[(Long, Option[Double])]) extends TOp
    case class DMain(ks: List[Long]) extends TOp
    case class DBranch(ks: List[Long]) extends TOp
    case object RMain extends TOp
    case object RBranch extends TOp
    case object TFork extends TOp
    case object TPublish extends TOp
    case object TVac extends TOp
    val topGen: Gen[TOp] = Gen.frequency(
      4 -> rowsGen.map(FMain),
      4 -> rowsGen.map(FBranch),
      2 -> ksGen.map(DMain),
      2 -> ksGen.map(DBranch),
      3 -> Gen.const(RMain),
      3 -> Gen.const(RBranch),
      2 -> Gen.const(TFork),
      2 -> Gen.const(TPublish),
      1 -> Gen.const(TVac))
    // the random body exercises every interleaving (incl. aborted
    // publishes — main DML after a fork makes the fast-forward refuse);
    // the deterministic tail guarantees each seed also lands ONE clean
    // fork→write-both-sides→audit→publish cycle
    val progGen = Gen.resize(14, Gen.listOf(topGen)).map(_ ++ List(
      TPublish, TFork, FBranch(List((7L, Some(7.5)))), DBranch(List(7L)),
      RBranch, TPublish))
    var publishes = 0
    forAllSeeded(progGen, 8) { (program, seed) =>
      val dir = Files.createTempDirectory("mvtriple")
      val fact = TxLogTable(spark, dir.resolve("fact").toString)
      val dim = TxLogTable(spark, dir.resolve("dim").toString)
      val mvRoot = dir.resolve("mv").toString
      fact.commit(List((1L, 1.5), (2L, 3.0)).toDF("k", "v"),
        overwrite = true)
      dim.commit((1L to 8L).map(i => (i, s"s${i % 3}"))
        .toDF("uid", "seg"), overwrite = true)
      MaterializedView.createJoined(spark, mvRoot, s"t$seed", fact,
        schema, dim, dimSchema, Seq("k" -> "uid"), Seq("seg"),
        Seq("total" -> "v"))
      val mv = TxLogTable(spark, mvRoot)
      var branch = false
      def bHandle = TxLogTable.branchRoot(mvRoot, "a")
      def stateOf(f: TxLogTable, dm: TxLogTable)
          : Set[(String, Long, Option[BigDecimal])] =
        f.snapshot(schema).join(dm.snapshot(dimSchema),
            col("k") === col("uid"))
          .groupBy("seg").agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            dec(r, "t"))).toSet
      def viewOf(root: String): Set[(String, Long, Option[BigDecimal])] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, root).snapshot(d.mvSchema).collect()
          .map(r => (r.getString(0),
            r.getAs[Long](MaterializedView.CountCol),
            dec(r, "total"))).toSet
      }
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        op match {
          case FMain(rows) =>
            fact.commit(rows.toDF("k", "v"), overwrite = false)
          case FBranch(rows) => if (branch)
            fact.branchTable("a").commit(rows.toDF("k", "v"),
              overwrite = false)
          case DMain(ks) =>
            dim.updateWherePos(dimSchema, col("uid").isin(ks: _*),
              Seq("seg" -> concat(col("seg"), lit("m"))))
          case DBranch(ks) => if (branch)
            dim.branchTable("a").updateWherePos(dimSchema,
              col("uid").isin(ks: _*),
              Seq("seg" -> concat(col("seg"), lit("b"))))
          case RMain =>
            MaterializedView.refresh(spark, mvRoot)
            assert(viewOf(mvRoot) === stateOf(fact, dim), ctx)
          case RBranch => if (branch) {
            MaterializedView.refresh(spark, bHandle)
            assert(viewOf(bHandle) === stateOf(fact.branchTable("a"),
              dim.branchTable("a")), ctx)
          }
          case TFork => if (!branch) {
            MaterializedView.refresh(spark, mvRoot) // forks correspond
            MaterializedView.branchMv(spark, mvRoot, "a")
            branch = true
          }
          case TPublish => if (branch) {
            MaterializedView.refresh(spark, bHandle) // audit gate
            val mainView = viewOf(mvRoot)
            try {
              MaterializedView.publishWap(spark, mvRoot, "a")
              publishes += 1
              assert(viewOf(mvRoot) === stateOf(fact, dim), ctx)
              assert(MaterializedView.refresh(spark, mvRoot)
                .mode === "noop", ctx)
            } catch {
              case _: java.util.ConcurrentModificationException =>
                // main moved since a fork — fast-forward honesty; a
                // partial (fact/dim-published, view-refused) split is
                // the documented safe window: main view merely behind
                assert(viewOf(mvRoot) === mainView, ctx)
                MaterializedView.refresh(spark, mvRoot)
                assert(viewOf(mvRoot) === stateOf(fact, dim), ctx)
            }
            fact.dropBranch("a"); dim.dropBranch("a"); mv.dropBranch("a")
            branch = false
          }
          case TVac =>
            fact.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            dim.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            mv.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
        }
      }
      MaterializedView.refresh(spark, mvRoot)
      assert(viewOf(mvRoot) === stateOf(fact, dim), s"seed=$seed final")
    }
    assert(publishes > 0,
      "the corpus never exercised a triple publish — rebalance")
  }

  test("min/max triple WAP fuzz: an EXTREMA star under fact DML + dim " +
    "churn + branch forks/publishes/vacuums — every refresh equals a " +
    "join recompute, with the dim-targeted and row-changing windows " +
    "routed through the group-targeted recompute on both handles") {
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    sealed trait TOp
    case class FMain(rows: List[(Long, Option[Double])]) extends TOp
    case class FBranch(rows: List[(Long, Option[Double])]) extends TOp
    case class FDelMain(ks: List[Long]) extends TOp
    case class FDelBranch(ks: List[Long]) extends TOp
    case class DMain(ks: List[Long]) extends TOp
    case class DBranch(ks: List[Long]) extends TOp
    case class DDelMain(ks: List[Long]) extends TOp
    case object RMain extends TOp
    case object RBranch extends TOp
    case object TFork extends TOp
    case object TPublish extends TOp
    case object TVac extends TOp
    val topGen: Gen[TOp] = Gen.frequency(
      4 -> rowsGen.map(FMain),
      3 -> rowsGen.map(FBranch),
      2 -> ksGen.map(FDelMain),
      2 -> ksGen.map(FDelBranch),
      2 -> ksGen.map(DMain),
      2 -> ksGen.map(DBranch),
      1 -> ksGen.map(DDelMain),
      3 -> Gen.const(RMain),
      3 -> Gen.const(RBranch),
      2 -> Gen.const(TFork),
      2 -> Gen.const(TPublish),
      1 -> Gen.const(TVac))
    val progGen = Gen.resize(14, Gen.listOf(topGen)).map(_ ++ List(
      TPublish, TFork, FBranch(List((7L, Some(7.5)))), DBranch(List(7L)),
      FDelBranch(List(2L)), RBranch, TPublish))
    var dimTargeted = 0
    forAllSeeded(progGen, 6) { (program, seed) =>
      val dir = Files.createTempDirectory("mvtriplemm")
      val fact = TxLogTable(spark, dir.resolve("fact").toString)
      val dim = TxLogTable(spark, dir.resolve("dim").toString)
      val mvRoot = dir.resolve("mv").toString
      fact.commit(List((1L, 1.5), (2L, 3.0)).toDF("k", "v"),
        overwrite = true)
      dim.commit((1L to 8L).map(i => (i, s"s${i % 3}"))
        .toDF("uid", "seg"), overwrite = true)
      MaterializedView.createJoined(spark, mvRoot, s"tm$seed", fact,
        schema, dim, dimSchema, Seq("k" -> "uid"), Seq("seg"),
        Seq("total" -> "v"),
        mins = Seq("lo" -> "v"), maxs = Seq("hi" -> "v"))
      val mv = TxLogTable(spark, mvRoot)
      var branch = false
      def bHandle = TxLogTable.branchRoot(mvRoot, "a")
      def stateOf(f: TxLogTable, dm: TxLogTable)
          : Set[(String, Long, Option[BigDecimal], Option[Double], Option[Double])] =
        f.snapshot(schema).join(dm.snapshot(dimSchema),
            col("k") === col("uid"))
          .groupBy("seg").agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(38, 6))).as("t"),
            min(col("v")).as("lo"), max(col("v")).as("hi"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            dec(r, "t"),
            dbl(r, "lo"), dbl(r, "hi"))).toSet
      def viewOf(root: String)
          : Set[(String, Long, Option[BigDecimal], Option[Double], Option[Double])] = {
        val d = MaterializedView.definition(spark, mvRoot)
        TxLogTable(spark, root).snapshot(d.mvSchema).collect()
          .map(r => (r.getString(0),
            r.getAs[Long](MaterializedView.CountCol),
            dec(r, "total"),
            dbl(r, "lo"), dbl(r, "hi"))).toSet
      }
      def refreshCounting(root: String, dimT: TxLogTable): Unit = {
        val dimBefore = MaterializedView.lastDimVersion(
          TxLogTable(spark, root))
        val st = MaterializedView.refresh(spark, root)
        if (st.mode == "incremental" &&
            dimT.latestVersion.exists(_ != dimBefore)) dimTargeted += 1
      }
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        op match {
          case FMain(rows) =>
            fact.commit(rows.toDF("k", "v"), overwrite = false)
          case FBranch(rows) => if (branch)
            fact.branchTable("a").commit(rows.toDF("k", "v"),
              overwrite = false)
          case FDelMain(ks) =>
            fact.deleteWherePos(schema, col("k").isin(ks: _*))
          case FDelBranch(ks) => if (branch)
            fact.branchTable("a").deleteWherePos(schema,
              col("k").isin(ks: _*))
          case DMain(ks) =>
            dim.updateWherePos(dimSchema, col("uid").isin(ks: _*),
              Seq("seg" -> concat(col("seg"), lit("m"))))
          case DBranch(ks) => if (branch)
            dim.branchTable("a").updateWherePos(dimSchema,
              col("uid").isin(ks: _*),
              Seq("seg" -> concat(col("seg"), lit("b"))))
          case DDelMain(ks) =>
            dim.deleteWherePos(dimSchema, col("uid").isin(ks: _*))
          case RMain =>
            refreshCounting(mvRoot, dim)
            assert(viewOf(mvRoot) === stateOf(fact, dim), ctx)
          case RBranch => if (branch) {
            refreshCounting(bHandle, dim.branchTable("a"))
            assert(viewOf(bHandle) === stateOf(fact.branchTable("a"),
              dim.branchTable("a")), ctx)
          }
          case TFork => if (!branch) {
            MaterializedView.refresh(spark, mvRoot) // forks correspond
            MaterializedView.branchMv(spark, mvRoot, "a")
            branch = true
          }
          case TPublish => if (branch) {
            MaterializedView.refresh(spark, bHandle) // audit gate
            val mainView = viewOf(mvRoot)
            try {
              MaterializedView.publishWap(spark, mvRoot, "a")
              assert(viewOf(mvRoot) === stateOf(fact, dim), ctx)
              assert(MaterializedView.refresh(spark, mvRoot)
                .mode === "noop", ctx)
            } catch {
              case _: java.util.ConcurrentModificationException =>
                assert(viewOf(mvRoot) === mainView, ctx)
                MaterializedView.refresh(spark, mvRoot)
                assert(viewOf(mvRoot) === stateOf(fact, dim), ctx)
            }
            fact.dropBranch("a"); dim.dropBranch("a"); mv.dropBranch("a")
            branch = false
          }
          case TVac =>
            fact.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            dim.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            mv.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
        }
      }
      MaterializedView.refresh(spark, mvRoot)
      assert(viewOf(mvRoot) === stateOf(fact, dim), s"seed=$seed final")
    }
    assert(dimTargeted > 0, "the corpus never routed a dim-moved " +
      "window through the targeted MIN/MAX recompute — rebalance")
  }

  test("auto-compact fuzz: random DML programs under a 2-row DV cap — " +
    "every refresh self-folds its masks and stays equal to a recompute") {
    spark.conf.set("spark.graft.sql.maxDvMaskRows", "2")
    try {
      forAllSeeded(programGen, 6) { (program, seed) =>
        val dir = Files.createTempDirectory("mvacprop")
        val src = TxLogTable(spark, dir.resolve("src").toString)
        val mvRoot = dir.resolve("mv").toString
        var created = false
        program.zipWithIndex.foreach { case (op, step) =>
          def ctx = s"seed=$seed step=$step op=$op program=$program"
          op match {
            case Append(rows) =>
              src.commit(rows.toDF("k", "v"), overwrite = false)
            case Overwrite(rows) =>
              src.commit(rows.toDF("k", "v"), overwrite = true)
            case DeleteCow(ks) =>
              src.deleteWhere(schema, col("k").isin(ks: _*))
            case DeletePos(ks) =>
              // the tiny cap applies to the SOURCE DML too: fall back
              // to COW when the mask will not fit (cap semantics are
              // not under test on the source side)
              try src.deleteWherePos(schema, col("k").isin(ks: _*))
              catch { case e: IllegalArgumentException
                  if e.getMessage.contains("mask") =>
                src.deleteWhere(schema, col("k").isin(ks: _*))
              }
            case UpdatePos(ks) =>
              try src.updateWherePos(schema, col("k").isin(ks: _*),
                Seq("v" -> (col("v") + 0.5)))
              catch { case e: IllegalArgumentException
                  if e.getMessage.contains("mask") =>
                src.compact(schema)
              }
            case MorDrop(ks) =>
              src.deleteByKeysMor(ks.toDF("k").distinct())
            case Compact =>
              if (src.latestVersion.nonEmpty) src.compact(schema)
            case Vac =>
              src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
            case Refresh =>
              if (!created) {
                MaterializedView.create(spark, mvRoot, s"a$seed", src,
                  schema, Seq("k"), Seq("total" -> "v"))
                created = true
              } else {
                MaterializedView.refresh(spark, mvRoot)
              }
              assert(mvState(spark, mvRoot) === state(src), ctx)
          }
        }
      }
    } finally spark.conf.unset("spark.graft.sql.maxDvMaskRows")
  }

  // ---- sketch-view fuzz: fold ≡ recompute for HLL registers and ----
  // ---- pow2 histogram buckets under the same random DML programs ----

  private def hllRecompute(src: TxLogTable): Set[(Long, Long, Long, Long)] = {
    val h = md5(col("v").cast("string"))
    val hv = conv(substring(h, 3, 15), 16, 10).cast(LongType)
    val rank = when(hv === 0, lit(61L))
      .otherwise(lit(61L) - length(bin(hv)).cast(LongType))
    src.snapshot(schema).where(col("v").isNotNull)
      .select(col("k"),
        conv(substring(h, 1, 2), 16, 10).cast(LongType).as("b"),
        rank.as("r"))
      .groupBy("k", "b").agg(max("r").as("mr"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
  }

  private def histRecompute(src: TxLogTable): Set[(Long, Long, Long)] =
    src.snapshot(schema).where(col("v").isNotNull && col("v") >= 0)
      .select(col("k"),
        length(bin(floor(col("v")).cast(LongType))).cast(LongType)
          .as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  private def sketchStates(mvRoot: String)
      : (Set[(Long, Long, Long, Long)], Set[(Long, Long, Long)]) = {
    val dd = MaterializedView.definition(spark, mvRoot + "-dst")
    val hd = MaterializedView.definition(spark, mvRoot + "-hist")
    (TxLogTable(spark, mvRoot + "-dst").snapshot(dd.mvSchema).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Long](MaterializedView.CountCol))).toSet,
      TxLogTable(spark, mvRoot + "-hist").snapshot(hd.mvSchema).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long](MaterializedView.CountCol))).toSet)
  }

  test("sketch-view fuzz: HLL register and pow2-histogram views equal " +
    "their recomputes after every refresh of a random DML program " +
    "(registers go full on deleting windows, histograms always fold)") {
    forAllSeeded(programGen, 8) { (program, seed) =>
      val dir = Files.createTempDirectory("mvskprop")
      val src = TxLogTable(spark, dir.resolve("src").toString)
      val mvRoot = dir.resolve("mv").toString
      var created = false
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        op match {
          case Append(rows) =>
            src.commit(rows.toDF("k", "v"), overwrite = false)
          case Overwrite(rows) =>
            src.commit(rows.toDF("k", "v"), overwrite = true)
          case DeleteCow(ks) =>
            src.deleteWhere(schema, col("k").isin(ks: _*))
          case DeletePos(ks) =>
            src.deleteWherePos(schema, col("k").isin(ks: _*))
          case UpdatePos(ks) =>
            src.updateWherePos(schema, col("k").isin(ks: _*),
              Seq("v" -> (col("v") + 0.5)))
          case MorDrop(ks) =>
            src.deleteByKeysMor(ks.toDF("k").distinct())
          case Compact =>
            if (src.latestVersion.nonEmpty) src.compact(schema)
          case Vac =>
            src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
          case Refresh =>
            if (!created) {
              MaterializedView.createDistinct(spark, mvRoot + "-dst",
                s"d$seed", src, schema, Seq("k"), "users" -> "v")
              MaterializedView.createHist(spark, mvRoot + "-hist",
                s"h$seed", src, schema, Seq("k"), "vb" -> "v")
              created = true
            } else {
              MaterializedView.refresh(spark, mvRoot + "-dst")
              MaterializedView.refresh(spark, mvRoot + "-hist")
            }
            val (gotHll, gotHist) = sketchStates(mvRoot)
            assert(gotHll === hllRecompute(src), ctx)
            assert(gotHist === histRecompute(src), ctx)
        }
      }
    }
  }

  // ---- copy-on-write windows: the linear fold --------------------------

  private lazy val cowCat = {
    spark.conf.set("spark.sql.catalog.mvcow", "graft.sources.v2.TxLogCatalog")
    spark.conf.set("spark.sql.catalog.mvcow.warehouse",
      Files.createTempDirectory("mvcow-wh").toString)
    "mvcow"
  }

  private val cowSchema = StructType(Seq(StructField("k", LongType),
    StructField("id", LongType), StructField("v", DoubleType)))

  private sealed trait CowOp
  private type CowRow = (Long, Long, Option[Double]) // (k, id, v)
  private case class CAppend(rows: List[CowRow]) extends CowOp
  private case class CMerge(rows: List[CowRow]) extends CowOp
  private case class CDelete(ids: List[Long]) extends CowOp
  private case class CReplace(k: Long, rows: List[CowRow]) extends CowOp
  private case class SqlUpdate(ids: List[Long], v: Option[Double])
    extends CowOp
  private case class SqlDelete(ids: List[Long]) extends CowOp
  private case class SqlMerge(rows: List[CowRow]) extends CowOp
  private case class Swap(k: Long) extends CowOp
  private case object CRefresh extends CowOp

  // few groups and 0/NULL measures: rewritten files carry other groups,
  // and sums cross 0 and NULL both ways
  private val vGen = Gen.oneOf(Some(0.0), Some(1.5), Some(2.25), None)
  private val cowRowsGen: Gen[List[CowRow]] =
    Gen.resize(3, Gen.nonEmptyListOf(for {
      k <- Gen.choose(1L, 3L); id <- Gen.choose(1L, 9L); v <- vGen
    } yield (k, id, v)))
  private val idsGen = Gen.resize(2, Gen.nonEmptyListOf(Gen.choose(1L, 9L)))
  private val cowOpGen: Gen[CowOp] = Gen.frequency(
    2 -> cowRowsGen.map(CAppend),
    2 -> cowRowsGen.map(CMerge),
    2 -> idsGen.map(CDelete),
    1 -> (for { k <- Gen.choose(1L, 3L); rs <- cowRowsGen }
          yield CReplace(k, rs.map { case (_, id, v) => (k, id, v) })),
    3 -> (for { ids <- idsGen; v <- vGen } yield SqlUpdate(ids, v)),
    1 -> idsGen.map(SqlDelete),
    2 -> cowRowsGen.map(SqlMerge),
    2 -> Gen.choose(1L, 3L).map(Swap),
    3 -> Gen.const(CRefresh))

  test("copy-on-write fuzz: merge, deleteWhere, replaceWhere and SQL " +
    "UPDATE/DELETE/MERGE windows — a sums-only view and a star view " +
    "(linear fold) and a MIN/MAX view (netted) equal their recomputes " +
    "after every refresh, and no incremental refresh changes more groups " +
    "than the netted feed names") {
    val dimSchema = StructType(Seq(
      StructField("uid", LongType), StructField("seg", StringType)))
    // the scripted program walks 0 → NULL, NULL → 0, a swap inside one
    // group and a rewrite that only carries other groups, in that order
    val scripted: List[CowOp] = List(
      SqlUpdate(List(7L), None), CRefresh,      // 0 → NULL (group 3)
      SqlUpdate(List(7L), Some(0.0)), CRefresh, // NULL → 0
      Swap(1L), CRefresh,                       // group 1 unchanged
      CDelete(List(9L)), CRefresh,              // carries groups 1 and 3
      SqlMerge(List((2L, 5L, Some(0.0)))), CRefresh)
    val programs = scripted +: (1 to 5).map(i => Gen.resize(10,
        Gen.listOf(cowOpGen)).pureApply(Gen.Parameters.default
        .withSize(10), Seed(5200L + i)) :+ CRefresh)
    var linearFolds = 0
    programs.zipWithIndex.foreach { case (program, seed) =>
      val name = s"cow$seed"
      val tbl = s"$cowCat.ns.$name"
      spark.sql(s"CREATE TABLE $tbl (k BIGINT, id BIGINT, v DOUBLE) " +
        "USING txlog")
      val src = TxLogTable(spark, spark.conf.get(
        s"spark.sql.catalog.$cowCat.warehouse") + s"/ns/$name")
      // one file holding every group: each rewrite carries other groups
      src.commit(Seq[CowRow]((1L, 1L, Some(1.5)), (1L, 2L, Some(2.25)),
          (2L, 3L, None), (2L, 4L, Some(1.5)), (3L, 7L, Some(0.0)),
          (3L, 9L, None)).toDF("k", "id", "v"), overwrite = false)
      val dir = Files.createTempDirectory("mvcowprop")
      val dim = TxLogTable(spark, dir.resolve("dim").toString)
      dim.commit(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("uid", "seg"),
        overwrite = true)
      val (sumsMv, starMv, mmMv) = (dir.resolve("sums").toString,
        dir.resolve("star").toString, dir.resolve("mm").toString)
      MaterializedView.create(spark, sumsMv, s"s$seed", src, cowSchema,
        Seq("k"), Seq("total" -> "v"))
      MaterializedView.createJoined(spark, starMv, s"j$seed", src,
        cowSchema, dim, dimSchema, Seq("k" -> "uid"), Seq("seg"),
        Seq("total" -> "v"))
      MaterializedView.create(spark, mmMv, s"m$seed", src, cowSchema,
        Seq("k"), Seq("total" -> "v"), mins = Seq("lo" -> "v"),
        maxs = Seq("hi" -> "v"))
      def lit0(v: Option[Double]) =
        v.fold("CAST(NULL AS DOUBLE)")(x => s"CAST($x AS DOUBLE)")
      def values(rows: List[CowRow]) = rows.groupBy(_._2).values
        .map(_.head).map { case (k, id, v) => s"($k, $id, ${lit0(v)})" }
        .mkString(", ")
      // every view row, keyed by its group, measures as options
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.toSeq.map(Option(_)).map(_.map {
          case d: java.math.BigDecimal => BigDecimal(d)
          case x => x
        })).toSet
      def recompute(mvRoot: String) = {
        val d = MaterializedView.definition(spark, mvRoot)
        val fact = src.snapshot(cowSchema)
        val joined = if (d.dims.isEmpty) fact
          else fact.join(dim.snapshot(dimSchema), col("k") === col("uid"))
        val aggs = d.sums.map { case (o, c) =>
            sum(col(c).cast(MaterializedView.SumType)).as(o) } ++
          d.mins.map { case (o, c) => min(col(c)).as(o) } ++
          d.maxs.map { case (o, c) => max(col(c)).as(o) } :+
          count(lit(1)).as(MaterializedView.CountCol)
        rowsOf(joined.groupBy(d.groupCols.map(col): _*)
          .agg(aggs.head, aggs.tail: _*))
      }
      def viewOf(mvRoot: String) = rowsOf(TxLogTable(spark, mvRoot)
        .snapshot(MaterializedView.definition(spark, mvRoot).mvSchema))
      // the groups the netted change feed names over the refreshed window
      def nettedGroups(mvRoot: String, st: MaterializedView.RefreshStats) = {
        val feed = src.changesWithDeletes(cowSchema, st.fromVersion,
          st.toVersion, skipRewrites = true)
        (if (mvRoot == starMv) feed.join(dim.snapshot(dimSchema),
            col("k") === col("uid")).select("seg")
         else feed.select("k")).distinct().count()
      }
      program.zipWithIndex.foreach { case (op, step) =>
        def ctx = s"seed=$seed step=$step op=$op program=$program"
        op match {
          case CAppend(rows) =>
            src.commit(rows.toDF("k", "id", "v"), overwrite = false)
          case CMerge(rows) =>
            src.merge(cowSchema, rows.toDF("k", "id", "v"), Seq("id"))
          case CDelete(ids) =>
            src.deleteWhere(cowSchema, col("id").isin(ids: _*))
          case CReplace(k, rows) =>
            src.replaceWhere(cowSchema, col("k") === k,
              rows.toDF("k", "id", "v"))
          case SqlUpdate(ids, v) =>
            spark.sql(s"UPDATE $tbl SET v = ${lit0(v)} " +
              s"WHERE id IN (${ids.mkString(", ")})")
          case SqlDelete(ids) =>
            spark.sql(s"DELETE FROM $tbl WHERE id IN (${ids.mkString(", ")})")
          case SqlMerge(rows) =>
            spark.sql(s"""MERGE INTO $tbl t
              USING (SELECT * FROM VALUES ${values(rows)} AS s(k, id, v)) s
              ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
              WHEN NOT MATCHED THEN INSERT (k, id, v)
                VALUES (s.k, s.id, s.v)""")
          case Swap(k) =>
            // two rows of group k trade measures: its sum, count and
            // NULL-ness stay, so its view row must not change
            val two = src.snapshot(cowSchema).filter(col("k") === k)
              .orderBy("id").collect().map(r => (r.getLong(1),
                Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue)))
              .distinctBy(_._1).take(2)
            if (two.length == 2 && two(0)._2 != two(1)._2)
              spark.sql(s"UPDATE $tbl SET v = CASE id " +
                s"WHEN ${two(0)._1} THEN ${lit0(two(1)._2)} " +
                s"ELSE ${lit0(two(0)._2)} END " +
                s"WHERE id IN (${two(0)._1}, ${two(1)._1})")
          case CRefresh =>
            Seq(sumsMv, starMv, mmMv).foreach { mvRoot =>
              val st = MaterializedView.refresh(spark, mvRoot)
              assert(viewOf(mvRoot) === recompute(mvRoot), s"$mvRoot $ctx")
              if (st.mode == "incremental") {
                assert(st.groupsChanged <= nettedGroups(mvRoot, st),
                  s"$mvRoot groupsChanged ${st.groupsChanged} $ctx")
                if (mvRoot != mmMv) linearFolds += 1
              }
            }
        }
      }
    }
    assert(linearFolds > 0, "no linear view ever folded incrementally")
  }
}
