package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The multi-writer CONFLICT MATRIX, enumerated: every pairing of
  * concurrent operations either SERIALIZES (optimistic retry produces a
  * history equivalent to some serial order) or REFUSES LOUDLY
  * (ConcurrentModificationException naming the rerun path) — never a
  * silent lost update, phantom, or corrupt layout.
  *
  * | first writer        | second writer        | outcome               |
  * |---------------------|----------------------|-----------------------|
  * | append              | append               | serialize (retry)     |
  * | row-level DML       | compact of its files | refuse (write-write)  |
  * | row-level DML       | overlapping append   | refuse (write-skew)   |
  * | row-level DML       | disjoint append      | serialize (carried)   |
  * | row-level DML       | file-disjoint DML    | BOTH land (commute)   |
  * | row-level DML       | overlapping DML      | refuse (write-write)  |
  * | staged write        | vacuum               | survive (minAge)      |
  * | staged write        | rebucket             | refuse (spec changed) |
  * | tag 'x'             | tag 'x'              | one wins (atomic ref) |
  * | branch 'x'          | branch 'x'           | one wins (putIfAbsent)|
  * | branch publish      | main commit          | refuse (fork moved)   |
  * | MV refresh          | MV refresh           | idempotent (re-mask)  |
  */
class TxLogConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def fresh(): TxLogTable =
    TxLogTable(spark,
      Files.createTempDirectory("txconc").resolve("t").toString)

  private def rows(t: TxLogTable): Set[(Long, String)] =
    t.snapshot(schema).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("append || append: serialize — distinct versions, no lost rows") {
    val t = fresh()
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    t.commit(Seq((-1L, "seed")).toDF("id", "v"), overwrite = true)
    try {
      def writer(base: Long) = Future {
        (0 until 5).map(i => t.commit(
          Seq((base + i, s"w$base-$i")).toDF("id", "v"),
          overwrite = false))
      }
      val vs = Await.result(
        Future.sequence(Seq(writer(0), writer(100))), 120.seconds).flatten
      assert(vs.toSet.size == 10, "every commit got a distinct version")
      assert(rows(t).size == 11, "no writer's rows were lost")
    } finally pool.shutdown()
  }

  test("DML || compact of its read files: refuse, write-write") {
    val t = fresh()
    t.commit((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = true)
    t.commit((40L until 80L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = false)
    // a row-level op scanned these files...
    val readRels = t.entries(None).map(_.rel).toSet
    // ...then a concurrent compaction rewrote them before its publish
    t.compact(schema)
    val e = intercept[java.util.ConcurrentModificationException] {
      t.commitReplacingDf(
        (0L until 80L).filter(_ % 2 == 0).map(i => (i, "upd"))
          .toDF("id", "v"),
        replaced = Some(readRels), op = "row-level-update",
        scanBase = Some(1))
    }
    assert(e.getMessage.contains("rewritten by a concurrent commit"))
    assert(rows(t).size == 80, "the refused publish changed nothing")
  }

  test("DML || overlapping append: refuse, write-skew") {
    val t = fresh()
    t.commit((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = true)
    val scanV = t.latestVersion.get
    val readRels = t.entries(None).map(_.rel).toSet
    // concurrent append lands rows the DML's predicate WOULD have matched
    t.commit(Seq((5L, "late")).toDF("id", "v"), overwrite = false)
    val e = intercept[java.util.ConcurrentModificationException] {
      t.commitReplacingDf(
        (10L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
        replaced = Some(readRels), op = "row-level-delete",
        scanBase = Some(scanV), scanPred = Some(col("id") < 10L))
    }
    assert(e.getMessage.contains("may match this operation's condition"))
  }

  test("DML || file-disjoint DML: BOTH land — provably disjoint " +
    "rewrites commute (the 100 TB shape: per-partition backfills)") {
    val t = fresh()
    // two id bands -> two files whose footer stats are disjoint
    t.commit((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = true)
    t.commit((1000L until 1040L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = false)
    val scanV = t.latestVersion.get
    val predA = col("id") < 100L
    val predB = col("id") >= 1000L
    val relsA = t.candidateFilesWhere(predA).toSet
    val relsB = t.candidateFilesWhere(predB).toSet
    assert(relsA.intersect(relsB).isEmpty, "bands must be file-disjoint")
    // writer B scans, then writer A scans; B publishes FIRST
    val vB = t.commitReplacingDf(
      (1000L until 1040L).map(i => (i, "updB")).toDF("id", "v"),
      replaced = Some(relsB), op = "row-level-update",
      scanBase = Some(scanV), scanPred = Some(predB))
    assert(vB == scanV + 1)
    // A's publish: its read files are untouched, and B's new files are
    // stats-disjoint from A's condition -> no write-write, no skew
    val vA = t.commitReplacingDf(
      (0L until 40L).map(i => (i, "updA")).toDF("id", "v"),
      replaced = Some(relsA), op = "row-level-update",
      scanBase = Some(scanV), scanPred = Some(predA))
    assert(vA == vB + 1, "the disjoint loser must land, not refuse")
    assert(rows(t) ==
      ((0L until 40L).map(i => (i, "updA")) ++
        (1000L until 1040L).map(i => (i, "updB"))).toSet,
      "both updates visible - a serial history in either order")
  }

  test("DML || overlapping DML: refuse, write-write — the loser's read " +
    "files were rewritten") {
    val t = fresh()
    t.commit((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = true)
    val scanV = t.latestVersion.get
    val pred = col("id") < 100L
    val rels = t.candidateFilesWhere(pred).toSet
    // a concurrent DML on the SAME band lands first (rewrites the files)
    t.commitReplacingDf(
      (0L until 40L).map(i => (i, "win")).toDF("id", "v"),
      replaced = Some(rels), op = "row-level-update",
      scanBase = Some(scanV), scanPred = Some(pred))
    val e = intercept[java.util.ConcurrentModificationException] {
      t.commitReplacingDf(
        (0L until 40L).map(i => (i, "lose")).toDF("id", "v"),
        replaced = Some(rels), op = "row-level-update",
        scanBase = Some(scanV), scanPred = Some(pred))
    }
    assert(e.getMessage.contains("rewritten by a concurrent commit"))
    assert(rows(t) == (0L until 40L).map(i => (i, "win")).toSet,
      "the winner's update survives untouched")
  }

  test("DML || stats-disjoint append: serialize — the late file carries") {
    val t = fresh()
    t.commit((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = true)
    val scanV = t.latestVersion.get
    val readRels = t.entries(None).map(_.rel).toSet
    // the concurrent append CANNOT match id < 10 (footer stats disjoint)
    t.commit(Seq((1000L, "late")).toDF("id", "v"), overwrite = false)
    val v = t.commitReplacingDf(
      (10L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      replaced = Some(readRels), op = "row-level-delete",
      scanBase = Some(scanV), scanPred = Some(col("id") < 10L))
    assert(v == 2)
    assert(rows(t) == ((10L until 40L).map(i => (i, s"v$i")).toSet +
      ((1000L, "late"))), "the late disjoint file must survive the DML")
  }

  test("staged write || vacuum: in-flight staging survives the walk") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    // a racing writer mid-stage: files exist under a .staging scratch
    val scratch = java.nio.file.Paths.get(t.root, "data",
      "race-" + java.util.UUID.randomUUID() + ".staging")
    Seq((2L, "b")).toDF("id", "v").write.parquet(scratch.toString)
    t.vacuum(keep = 1, minAgeMillis = 0, retainMillis = 0)
    assert(Files.isDirectory(scratch),
      "vacuum must never touch .staging scratch dirs")
    // and the racing writer's publish still lands (group-replace with
    // nothing replaced = a pure append of the staged files)
    val v = t.commitStagedReplace(scratch, Some(Set.empty), "append")
    assert(v == 1 && rows(t) == Set((1L, "a"), (2L, "b")))
  }

  test("staged write || rebucket: refuse — staged layout is stale") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val e = intercept[java.util.ConcurrentModificationException] {
      // the guard the stage-then-publish paths consult: spec at staging
      // time (2 buckets) vs spec at publish time (none)
      t.requireSpecUnchanged(Seq(("id", 2)), t.latestVersion, "append")
    }
    assert(e.getMessage.contains("concurrent rebucket"))
  }

  test("tag 'x' || tag 'x': exactly one creator wins") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(Future.sequence(Seq(
        Future(scala.util.Try(t.tag("x"))),
        Future(scala.util.Try(t.tag("x"))))), 60.seconds)
      assert(results.count(_.isSuccess) == 1,
        "exactly one tag create wins")
      assert(t.tags() == Map("x" -> 0), "exactly one ref exists")
    } finally pool.shutdown()
  }

  test("branch 'x' || branch 'x': exactly one creator wins") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(Future.sequence(Seq(
        Future(scala.util.Try(t.createBranch("x"))),
        Future(scala.util.Try(t.createBranch("x"))))), 60.seconds)
      assert(results.count(_.isSuccess) == 1)
      assert(t.branches() == Seq("x"))
      assert(t.branchTable("x").forkedFrom.contains(0),
        "the surviving branch is a coherent fork")
    } finally pool.shutdown()
  }

  test("branch publish || main commit: refuse — fork moved") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    t.createBranch("wap")
    t.branchTable("wap").commit(Seq((2L, "b")).toDF("id", "v"),
      overwrite = false)
    t.commit(Seq((9L, "z")).toDF("id", "v"), overwrite = false)
    val e = intercept[java.util.ConcurrentModificationException](
      t.publishBranch("wap"))
    assert(e.getMessage.contains("requires main unmoved"))
  }

  test("MV refresh || MV refresh of the same window: both land, content " +
    "idempotent — the loser re-masks the winner's identical rows") {
    import java.util.concurrent.{CyclicBarrier, Executors}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import org.apache.spark.sql.functions.{count, lit, sum}
    val dir = Files.createTempDirectory("txconc-mv")
    val sschema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    val src = TxLogTable(spark, dir.resolve("src").toString)
    src.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), overwrite = true)
    val mvRoot = dir.resolve("mv").toString
    graft.operators.MaterializedView.create(spark, mvRoot, "conc", src,
      sschema, Seq("k"), Seq("total" -> "v"))
    src.commit(Seq((1L, 10.0), (3L, 3.0)).toDF("k", "v"),
      overwrite = false)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new CyclicBarrier(2)
    try {
      val both = Await.result(Future.sequence(Seq.fill(2)(Future {
        gate.await()
        graft.operators.MaterializedView.refresh(spark, mvRoot)
      })), 180.seconds)
      // at least one folded the window; a second racer either folded the
      // same window (idempotent re-mask) or saw the progress and nooped
      assert(both.exists(_.mode == "incremental"), both.toString)
      val d = graft.operators.MaterializedView.definition(spark, mvRoot)
      val got = TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect()
        .map(r => (r.getLong(0),
          r.getAs[Long](graft.operators.MaterializedView.CountCol),
          r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet
      assert(got === Set((1L, 2L, 11.0), (2L, 1L, 2.0), (3L, 1L, 3.0)))
      // and a later refresh agrees the view is current
      assert(graft.operators.MaterializedView.refresh(spark, mvRoot)
        .mode === "noop")
    } finally pool.shutdown()
  }
}
