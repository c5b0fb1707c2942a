package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.JobCount
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.MaterializedView

/** Rows the driver already holds — an MV refresh's folded groups and a
  * positional commit's DV positions — are written on the driver through
  * Spark's own parquet writer: no write job, and the files, their manifest
  * stats and their layout are those of a Spark write of the same rows.
  */
class TxLogDriverWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(): Path = Files.createTempDirectory("txdw")

  private def writeJobs[A](body: => A): (A, Int) =
    JobCount.writing(spark.sparkContext)(body)

  private def dirOf(rel: String): String = rel.lastIndexOf('/') match {
    case -1 => ""
    case i => rel.take(i)
  }

  // the files version `v` added: partition dir → (stats apart from the
  // added-version tag, rows in file order)
  private def added(t: TxLogTable, v: Int)
      : Map[String, (Map[String, (Long, Long)], Seq[Row])] = {
    val prev = t.entries(Some(v - 1)).map(_.rel).toSet
    val adds = t.entries(Some(v)).filterNot(e => prev(e.rel))
    assert(adds.map(e => dirOf(e.rel)).distinct.length == adds.length,
      s"one file per partition dir: ${adds.map(_.rel)}")
    adds.map(e => dirOf(e.rel) -> (e.stats - TxLogTable.AddedVKey,
      spark.read.parquet(
      Path.of(t.root, "data", e.rel).toString).collect().toSeq)).toMap
  }

  test("an MV refresh commits its fold with no write job, and the new " +
      "file carries the stats of a Spark write of the same rows") {
    val d = fresh()
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val src = TxLogTable(spark, d.resolve("src").toString)
    src.commit(Seq((1L, "a", 1.5), (2L, "b", 2.0), (3L, "c", 4.0))
      .toDF("k", "name", "v"), overwrite = true)
    val mvRoot = d.resolve("mv").toString
    MaterializedView.create(spark, mvRoot, "dw", src, schema,
      Seq("k", "name"), Seq("total" -> "v"))
    // the detector sees a Spark write
    val (_, appendWrites) = writeJobs(src.commit(
      Seq((2L, "b", 1.0), (4L, "d", 3.0)).toDF("k", "name", "v"),
      overwrite = false))
    assert(appendWrites == 1)
    val (st, writes) = writeJobs(MaterializedView.refresh(spark, mvRoot))
    assert(st.mode == "incremental" && st.groupsChanged == 2, st)
    assert(writes == 0, "the fold commit ran a write job")
    val mv = TxLogTable(spark, mvRoot)
    val Seq((_, (stats, rows))) = added(mv, st.mvVersion).toSeq
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "b"), (4L, "d")))
    val twin = TxLogTable(spark, d.resolve("twin").toString)
    twin.commit(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      MaterializedView.definition(spark, mvRoot).mvSchema).coalesce(1),
      overwrite = true)
    assert(twin.entries().map(_.stats - TxLogTable.AddedVKey) == Seq(stats))
    assert(stats.contains(TxLogTable.strKey("name")) &&
      stats(TxLogTable.RowsKey) == (2L, 2L), stats)
  }

  test("a deleteWherePos DV is written with no write job, and masked " +
      "reads and the change feed honour it") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val t = TxLogTable(spark, fresh().resolve("t").toString)
    t.commit((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      overwrite = true)
    val (st, writes) = writeJobs(
      t.deleteWherePos(schema, col("id") % 3 === 0))
    assert(writes == 0 && st.rewritten == 0, st)
    val gone = (3L to 18L by 3L)
    assert(t.dvsOf(st.version).map(_.n).sum == gone.length)
    assert(t.snapshot(schema).select("id").as[Long].collect().sorted.toSeq
      == (1L to 20L).filterNot(gone.contains))
    val feed = t.changesWithDeletes(schema, st.version - 1, st.version)
    assert(feed.select("id", "v", "_change_type").as[(Long, String, String)]
      .collect().sorted.toSeq == gone.map(i => (i, s"v$i", "delete")))
    // an update masks on the driver and writes its new rows there too
    val (up, upWrites) = writeJobs(t.updateWherePos(schema,
      col("id") === 1L, Seq("v" -> org.apache.spark.sql.functions.lit("u"))))
    assert(upWrites == 0, up)
    assert(t.snapshot(schema).filter(col("id") === 1L).as[(Long, String)]
      .collect().toSeq == Seq((1L, "u")))
  }

  test("driver-written fold files follow a rebucketed and a resorted " +
      "layout exactly as a Spark write of the same rows") {
    val d = fresh()
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("name", StringType), StructField("n", LongType)))
    val layout = Seq(TxLogTable.BucketCol)
    val rows = (1L to 40L).map(i => (i, f"n${(i * 7) % 40}%03d", i))
    def table(name: String, sorted: Boolean): TxLogTable = {
      val t = TxLogTable(spark, d.resolve(name).toString)
      t.create(schema, partitionCols = layout, bucketSpecs = Seq("k" -> 2),
        sortCols = if (sorted) Seq("name") else Nil)
      // two appends with interleaved sort ranges de-arm every dir
      Seq(0L, 1L).foreach(par => t.commit(rows.filter(_._1 % 2 == par)
        .toDF("k", "name", "n"), overwrite = false, partitionCols = layout))
      if (sorted) assert(t.resort(schema).rewritten > 0)
      else t.rebucket(schema, 4)
      t
    }
    val keys = Seq(3L, 8L, 21L, 41L, 42L)
    def folded(current: Seq[Row]): Seq[Row] =
      current.map(r => Row(r.getLong(0), r.getString(1), r.getLong(2) + 100)) ++
        Seq(Row(41L, "m041", 1L), Row(42L, "a042", 2L))
    for (sorted <- Seq(false, true)) {
      val drv = table(s"drv$sorted", sorted)
      val spk = table(s"spk$sorted", sorted)
      val head = drv.latestVersion.get
      var current = Seq.empty[Row]
      val (st, writes) = writeJobs(drv.foldKeyedAt(schema, Seq("k"),
          keys.map(Row(_)), head, "mv-refresh", Nil) { cur =>
        current = cur
        folded(cur)
      })
      assert(writes == 0, s"sorted=$sorted: the fold ran a write job")
      assert(current.length == 3)
      spk.deleteWherePos(schema, col("k").isin(keys: _*))
      val sv = spk.commit(spark.createDataFrame(
        java.util.Arrays.asList(folded(current): _*), schema).coalesce(1),
        overwrite = false, partitionCols = layout)
      val (a, b) = (added(drv, st.version), added(spk, sv))
      assert(a.keySet == b.keySet && a.keySet.forall(_.startsWith("_bkt=")),
        s"sorted=$sorted dirs ${a.keySet} vs ${b.keySet}")
      a.keySet.foreach { dir =>
        assert(a(dir)._1 == b(dir)._1, s"sorted=$sorted $dir stats")
        if (sorted) assert(a(dir)._2 == b(dir)._2, s"$dir row order")
        else assert(a(dir)._2.toSet == b(dir)._2.toSet, s"$dir rows")
      }
      assert(drv.snapshot(schema).collect().toSet ==
        spk.snapshot(schema).collect().toSet)
    }
  }
}
