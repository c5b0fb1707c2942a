package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.TxLogTable

/** Concurrency + resilience contract of the MV refresh: the fold is
  * anchored on one pinned MV version and the commit is head-conditional,
  * so a racing refresh (two maintainers, or cron + manual) can NEVER
  * double-fold the same source window onto already-folded state — the
  * loser detects the moved head at commit time and retries against the
  * winner's state. Plus the vacuum-cursor no-advance rule for refreshes
  * that commit nothing, and the malformed-mv.def diagnostics.
  */
class MvConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType),
    StructField("v", DoubleType)))

  private def fresh(): (TxLogTable, String) = {
    val dir = Files.createTempDirectory("mvc")
    (TxLogTable(spark, dir.resolve("src").toString),
      dir.resolve("mv").toString)
  }

  private def df(rows: (Long, String, Double)*): DataFrame =
    rows.toDF("k", "cat", "v")

  private def mvRows(mvRoot: String): Set[(Long, Long, Double)] = {
    val d = MaterializedView.definition(spark, mvRoot)
    TxLogTable(spark, mvRoot).snapshot(d.mvSchema).collect().map { r =>
      (r.getLong(0), r.getAs[Long](MaterializedView.CountCol),
        r.getAs[java.math.BigDecimal]("total").doubleValue())
    }.toSet
  }

  private def recompute(src: TxLogTable): Set[(Long, Long, Double)] =
    src.snapshot(schema).groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(38, 6))).as("total"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n"),
        r.getAs[java.math.BigDecimal]("total").doubleValue())).toSet

  test("a racing refresh is detected at the head-conditional commit: " +
    "the loser retries against the winner's state, never double-folds") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "per_k", src, schema,
      Seq("k"), Seq("total" -> "v"))
    src.commit(df((1L, "a", 10.0), (3L, "c", 3.0)), overwrite = false)
    val mv = TxLogTable(spark, mvRoot)
    val headBefore = mv.latestVersion.get
    @volatile var raced = false
    // the seam fires after the loser anchored its fold (pinned head +
    // consumed version) and before its commit — exactly the advisory's
    // TOCTOU window; the competing refresh that runs inside it wins
    MaterializedView.betweenFoldAndCommitHook = () => {
      MaterializedView.betweenFoldAndCommitHook = () => ()
      raced = true
      val w = MaterializedView.refresh(spark, mvRoot)
      assert(w.mode === "incremental", w)
    }
    try {
      val st = MaterializedView.refresh(spark, mvRoot)
      assert(raced)
      // the loser's retry found the window already absorbed
      assert(st.mode === "noop", st)
    } finally MaterializedView.betweenFoldAndCommitHook = () => ()
    // exactly ONE refresh commit landed, and the fold is exactly-once:
    // a double-fold would read (1 -> n=3, total=21.0)
    assert(TxLogTable(spark, mvRoot).latestVersion.get === headBefore + 1)
    assert(mvRows(mvRoot) === recompute(src))
    assert(mvRows(mvRoot) === Set(
      (1L, 2L, 11.0), (2L, 1L, 2.0), (3L, 1L, 3.0)))
  }

  test("upsertPos with expectHead refuses after any concurrent commit") {
    val dir = Files.createTempDirectory("mvc-eh")
    val t = TxLogTable(spark, dir.resolve("t").toString)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    t.commit(Seq((1L, 1L)).toDF("k", "v"), overwrite = true)
    val pinned = t.latestVersion.get
    t.commit(Seq((2L, 2L)).toDF("k", "v"), overwrite = false) // racer
    val e = intercept[TxLogTable.ConcurrentHeadMoved] {
      t.upsertPos(sch, Seq((1L, 9L)).toDF("k", "v"), Seq("k"),
        expectHead = Some(pinned))
    }
    assert(e.getMessage.contains(s"expected head v$pinned"))
    // without the pin the same upsert lands (the unconditional path)
    val st = t.upsertPos(sch, Seq((1L, 9L)).toDF("k", "v"), Seq("k"))
    assert(st.version === pinned + 2)
  }

  test("a refresh that commits nothing leaves the source vacuum cursor " +
    "at the consumed version (the floor guards the unconsumed window)") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "per_k", src, schema,
      Seq("k"), Seq("total" -> "v"))
    val d = MaterializedView.definition(spark, mvRoot)
    val consumed = src.cursors()(d.cursorName).version
    // an all-cancelling window: group 100 is created and fully deleted
    // inside it, so the upsert has no new rows and its drop keys match
    // no current view rows — nothing to commit
    src.commit(df((100L, "x", 5.0)), overwrite = false)
    src.deleteWherePos(schema, col("k") === 100L)
    val st = MaterializedView.refresh(spark, mvRoot)
    assert(st.mvVersion === TxLogTable(spark, mvRoot).latestVersion.get)
    assert(src.cursors()(d.cursorName).version === consumed,
      "cursor must NOT advance past an uncommitted feed window")
    // the next refresh re-walks that window plus the new append, commits,
    // and only THEN the floor moves to the head it consumed
    src.commit(df((1L, "a", 2.0)), overwrite = false)
    val st2 = MaterializedView.refresh(spark, mvRoot)
    assert(st2.mode === "incremental", st2)
    assert(src.cursors()(d.cursorName).version === src.latestVersion.get)
    assert(mvRows(mvRoot) === recompute(src))
  }

  test("streaming-cadence refreshes past the DV cap self-compact: no " +
    "operator intervention, fold stays exact, a compact commit appears") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "auto", src, schema,
      Seq("k"), Seq("total" -> "v"))
    spark.conf.set("spark.graft.sql.maxDvMaskRows", "3")
    try {
      // each refresh masks the 2 touched groups' current rows: the
      // accrued mask crosses the cap mid-loop and must fold in-refresh
      (1 to 6).foreach { i =>
        src.commit(df((1L, "a", i.toDouble), (2L, "b", i.toDouble)),
          overwrite = false)
        val st = MaterializedView.refresh(spark, mvRoot)
        assert(st.mode === "incremental", st)
      }
      assert(mvRows(mvRoot) === recompute(src))
      val mv = TxLogTable(spark, mvRoot)
      assert(mv.versions.exists(v =>
          mv.opOf(v).exists(TxLogTable.RewriteOps.contains)),
        s"auto-compact must have committed a rewrite: " +
          mv.versions.map(v => mv.opOf(v).getOrElse("?")).mkString(","))
    } finally spark.conf.unset("spark.graft.sql.maxDvMaskRows")
  }

  test("with autoCompact off the cap is the loud refusal it always was") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "man", src, schema,
      Seq("k"), Seq("total" -> "v"))
    spark.conf.set("spark.graft.sql.maxDvMaskRows", "3")
    spark.conf.set("spark.graft.mv.autoCompact", "false")
    try {
      val e = intercept[IllegalArgumentException] {
        (1 to 6).foreach { i =>
          src.commit(df((1L, "a", i.toDouble), (2L, "b", i.toDouble)),
            overwrite = false)
          MaterializedView.refresh(spark, mvRoot)
        }
      }
      assert(e.getMessage.contains("compact"), e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.sql.maxDvMaskRows")
      spark.conf.unset("spark.graft.mv.autoCompact")
    }
  }

  test("a refresh that touches more groups than maxDvMaskRows falls " +
    "back to a full recompute instead of compacting forever") {
    val (src, mvRoot) = fresh()
    src.commit(df((1L, "a", 1.0), (2L, "b", 2.0)), overwrite = true)
    MaterializedView.create(spark, mvRoot, "wide", src, schema,
      Seq("k"), Seq("total" -> "v"))
    spark.conf.set("spark.graft.sql.maxDvMaskRows", "3")
    try {
      // one append touching 5 groups: no incremental commit can mask
      // them under the cap, so the refresh recomputes (an overwrite
      // commit needs no mask)
      src.commit(df((1L to 5L).map(k => (k, "x", k * 10.0)): _*),
        overwrite = false)
      val st = MaterializedView.refresh(spark, mvRoot)
      assert(st.mode === "full", st)
      assert(mvRows(mvRoot) === recompute(src))
      assert(MaterializedView.refresh(spark, mvRoot).mode === "noop")
    } finally spark.conf.unset("spark.graft.sql.maxDvMaskRows")
  }

  test("malformed mv.def min/max lines fail with the malformed " +
    "diagnostic, not a raw string-index error") {
    for (field <- Seq("min", "max")) {
      val dir = Files.createTempDirectory("mvdef")
      Files.createDirectories(dir.resolve("_log"))
      Files.write(dir.resolve("_log").resolve("mv.def"),
        (s"name=x\nsource=/tmp/none\ngroupCols=k\n$field=bad\n" +
          "proj=k BIGINT\n").getBytes(UTF_8))
      val e = intercept[IllegalArgumentException](
        MaterializedView.definition(spark, dir.toString))
      assert(e.getMessage.contains(s"malformed mv.def $field"), e)
    }
  }
}
