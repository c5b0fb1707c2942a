package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Transaction-log table: commit visibility, append semantics, crash
  * atomicity (staged-but-unpublished files invisible), time travel, and
  * optimistic-concurrency retry.
  */
class TxLogTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def fresh(): TxLogTable =
    TxLogTable(spark,
      Files.createTempDirectory("txlog").resolve("t").toString)

  private def rows(t: TxLogTable, version: Option[Int] = None): Set[(Long, String)] =
    t.snapshot(schema, version).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("absent table reads empty with schema; commits become visible") {
    val t = fresh()
    assert(t.latestVersion.isEmpty && rows(t).isEmpty)
    val v0 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      overwrite = true)
    assert(v0 == 0 && rows(t) == Set((1L, "a"), (2L, "b")))
  }

  test("append carries prior files; overwrite starts fresh; time travel") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val v1 = t.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)
    assert(v1 == 1 && rows(t) == Set((1L, "a"), (2L, "b")))
    val v2 = t.commit(Seq((9L, "z")).toDF("id", "v"), overwrite = true)
    assert(v2 == 2 && rows(t) == Set((9L, "z")))
    // every old version still readable
    assert(rows(t, Some(0)) == Set((1L, "a")))
    assert(rows(t, Some(1)) == Set((1L, "a"), (2L, "b")))
    assert(t.versions == Seq(0, 1, 2))
  }

  test("staged data without a manifest is invisible (crash atomicity)") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    // simulate a writer that crashed after staging: data files exist,
    // no manifest references them
    Seq((666L, "ghost")).toDF("id", "v").write
      .parquet(Paths.get(t.root, "data", "batch-crashed").toString)
    assert(rows(t) == Set((1L, "a")))
  }

  test("two writers racing many appends: distinct versions, no lost rows") {
    val t = fresh()
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // each writer appends 8 single-row commits; every CREATE_NEW loss
      // must re-resolve latest and carry the winner's files forward
      def writer(tag: String) = Future {
        (0 until 8).map(i =>
          t.commit(Seq((i.toLong, s"$tag$i")).toDF("id", "v"),
            overwrite = false))
      }
      val vs = Await.result(
        Future.sequence(Seq(writer("a"), writer("b"))), 120.seconds).flatten
      assert(vs.toSet.size == 16, "every commit got a distinct version")
      assert(t.versions == (0 until 16), "versions are dense")
      val expect = (0 until 8).flatMap(i =>
        Seq((i.toLong, s"a$i"), (i.toLong, s"b$i"))).toSet
      assert(rows(t) == expect, "no committed row was lost in a race")
    } finally pool.shutdown()
  }

  test("partitioned commit keeps hive layout; snapshot recovers the column") {
    val t = fresh()
    val schemaP = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("k", StringType)))
    t.commit(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "k"),
      overwrite = true, partitionCols = Seq("k"))
    // hive k=v segments exist under the batch dir
    val leaves = scala.util.Using.resource(
        Files.walk(Paths.get(t.root, "data"))) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.toString).toSeq
    }
    assert(leaves.exists(_.contains("k=x")) && leaves.exists(_.contains("k=y")))
    // partition column recovered on read, in the caller's schema order
    val snap = t.snapshot(schemaP)
    assert(snap.columns.toSeq == Seq("id", "v", "k"))
    assert(snap.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "a", "x"), (2L, "b", "y")))
    // a partition predicate prunes to the matching slice
    assert(snap.filter($"k" === "x").collect().map(_.getLong(0)).toSeq ==
      Seq(1L))
    // appends must keep the table's layout (mixed layouts under one
    // basePath are unreadable); a matching append lands a new slice
    assertThrows[IllegalArgumentException] {
      t.commit(Seq((3L, "c", "z")).toDF("id", "v", "k"), overwrite = false)
    }
    t.commit(Seq((3L, "c", "z")).toDF("id", "v", "k"), overwrite = false,
      partitionCols = Seq("k"))
    assert(t.snapshot(schemaP).count() == 3)
    assert(t.partitionColsOf(t.latestVersion.get) == Seq("k"))
    // an overwrite may change the layout back to unpartitioned
    t.commit(Seq((4L, "d", "w")).toDF("id", "v", "k"), overwrite = true)
    assert(t.snapshot(schemaP).collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("change feed: per-version deltas, overwrite contributes its new set") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)       // v0
    t.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)      // v1
    t.commit(Seq((3L, "c")).toDF("id", "v"), overwrite = false)      // v2
    def feed(from: Int, to: Int): Set[(Long, String, Long)] =
      t.changesBetween(schema, from, to).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // (from, to] window; appends contribute exactly their delta files
    assert(feed(-1, 0) == Set((1L, "a", 0L)))
    assert(feed(0, 2) == Set((2L, "b", 1L), (3L, "c", 2L)))
    assert(feed(1, 1) == Set.empty)
    // an overwrite's delta is its whole new file set (a reset boundary)
    t.commit(Seq((9L, "z")).toDF("id", "v"), overwrite = true)       // v3
    assert(feed(2, 3) == Set((9L, "z", 3L)))
    // empty window → empty frame, schema + _commit_version preserved
    val empty = t.changesBetween(schema, 3, 3)
    assert(empty.isEmpty &&
      empty.columns.toSeq == Seq("id", "v", "_commit_version"))
  }

  test("change feed: plan width independent of backlog length; hive " +
      "escaping survives the version-map join") {
    val t = fresh()
    val pSchema = StructType(Seq(StructField("id", LongType),
      StructField("p", StringType)))
    // special-char partition values: the version tag rides a broadcast
    // join between input_file_name() and a driver-built path map, keyed
    // on the DECODED absolute path — 'café b/N' exercises non-ASCII
    // (where Hadoop's URI form leaves bytes raw but nio %-encodes them,
    // so raw-URI joins silently drop every row), space, AND slash
    // escaping through hive dir names and the URI layer
    (0 until 24).foreach { i =>
      t.commit(Seq((i.toLong, s"café b/${i % 3}")).toDF("id", "p"),
        overwrite = i == 0, partitionCols = Seq("p"))
    }
    val top = t.latestVersion.get
    def leaves(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.collectLeaves().length
    val wide = t.changesBetween(pSchema, -1, top)
    val narrow = t.changesBetween(pSchema, top - 2, top)
    // one data scan + one broadcast version map — NOT one scan per
    // version chained by union: a 1,000-version catch-up must not plan
    // a 1,000-leaf tree
    assert(leaves(wide) == leaves(narrow),
      s"plan width grew with the range: ${leaves(wide)} vs " +
        s"${leaves(narrow)}")
    assert(leaves(wide) <= 3, s"bounded-leaf plan expected: ${leaves(wide)}")
    assert(wide.count() == 24)
    assert(wide.select("_commit_version").distinct().count() == top + 1,
      "every version's files must tag with their own commit version")
    assert(wide.where("p LIKE 'café b/%'").count() == 24,
      "escaped partition values must round-trip through the URI join")
    // CDC delete side: several delete commits, still one tombstone scan
    t.deleteByKeysMor(Seq(5L).toDF("id"))
    t.deleteByKeysMor(Seq(6L).toDF("id"))
    t.deleteByKeysMor(Seq(7L).toDF("id"))
    val nowV = t.latestVersion.get
    val cdcWide = t.changesWithDeletes(pSchema, top, nowV)
    val cdcNarrow = t.changesWithDeletes(pSchema, nowV - 1, nowV)
    assert(leaves(cdcWide) == leaves(cdcNarrow),
      "delete-feed plan width must not grow with delete-commit count")
    val dels = cdcWide.where("_change_type = 'delete'").collect()
    assert(dels.map(_.getLong(0)).toSet == Set(5L, 6L, 7L))
    assert(dels.map(r => r.getLong(r.fieldIndex("_commit_version"))).toSet
      == Set(top + 1L, top + 2L, top + 3L),
      "each tombstone must carry its own commit version")
  }

  test("change feed: user column literally named _graft_file does not " +
      "collide with the version-tag helper") {
    val t = fresh()
    val s = StructType(Seq(StructField("id", LongType),
      StructField("_graft_file", StringType)))
    t.commit(Seq((1L, "x")).toDF("id", "_graft_file"), overwrite = true)
    t.commit(Seq((2L, "y")).toDF("id", "_graft_file"), overwrite = false)
    val feed = t.changesBetween(s, -1, t.latestVersion.get).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((1L, "x", 0L), (2L, "y", 1L)),
      "the helper column must pick a non-colliding name")
  }

  test("change feed across a restore: restored files re-emit as adds") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)       // v0
    t.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)      // v1
    val good = t.latestVersion.get
    t.commit(Seq((9L, "z")).toDF("id", "v"), overwrite = true)       // v2 bad
    val rv = t.restore(good)                                         // v3
    // the restore's manifest diff vs the bad version = exactly the files
    // the bad write dropped: consumers re-receive the restored rows under
    // the restore version (a rewrite boundary, like overwrite — the
    // documented reset contract), never silently miss them
    val feed = t.changesBetween(schema, rv - 1, rv).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((1L, "a", rv.toLong), (2L, "b", rv.toLong)))
    // a no-op restore (target == current file set) emits nothing
    val rv2 = t.restore(rv)
    assert(t.changesBetween(schema, rv2 - 1, rv2).isEmpty)
  }

  test("compact packs files; snapshot, layout and history survive; vacuum GCs") {
    val t = fresh()
    (0 until 6).foreach(i =>
      t.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"),
        overwrite = i == 0))
    val before = t.fileCount()
    assert(before >= 6, s"expected one file per append, got $before")
    val expect = (0 until 6).map(i => (i.toLong, s"r$i")).toSet
    val vCompact = t.compact(schema, numFiles = 1)
    assert(t.fileCount() == 1 && rows(t) == expect)
    // pre-compaction versions still time-travelable
    assert(rows(t, Some(vCompact - 1)) == expect)
    assert(t.fileCount(Some(vCompact - 1)) == before)
    // one more append on top of the compacted base
    t.commit(Seq((6L, "r6")).toDF("id", "v"), overwrite = false)
    assert(rows(t) == expect + ((6L, "r6")) && t.fileCount() == 2)
    // vacuum: only the latest survives; its files intact, the rest gone
    val (manifests, files) =
      t.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(manifests == vCompact + 1 && files >= 6)
    assert(t.versions == Seq(vCompact + 1))
    assert(rows(t) == expect + ((6L, "r6")))
  }

  test("manifest column stats skip files outside a range predicate") {
    val t = fresh()
    // three appends with disjoint id ranges → three files, each with its
    // own footer-harvested [min,max] recorded in the manifest
    Seq(0L until 10L, 10L until 20L, 20L until 30L).zipWithIndex
      .foreach { case (r, i) =>
        t.commit(r.map(x => (x, s"r$x")).toDF("id", "v").coalesce(1),
          overwrite = i == 0)
      }
    assert(t.fileCount() == 3)
    val es = t.entries()
    assert(es.forall(_.stats.contains("id")))
    // range [12, 18] lives entirely in the second file
    assert(t.candidateFiles("id", 12L, 18L).size == 1)
    // a column with no stats cannot prune — all files are candidates
    assert(t.candidateFiles("nope", 0L, 0L).size == 3)
    // skipping never changes results
    val got = t.snapshotRange(schema, "id", 12L, 18L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (12L to 18L).map(x => (x, s"r$x")).toSet)
    assert(t.snapshotRange(schema, "id", 100L, 200L).isEmpty)
    // carried lines keep their stats across later appends
    t.commit(Seq((30L, "r30")).toDF("id", "v").coalesce(1),
      overwrite = false)
    assert(t.candidateFiles("id", 12L, 18L).size == 1)
    assert(t.entries().forall(_.stats.contains("id")))
    // metadata-only aggregates: COUNT(*) and MIN/MAX straight off the
    // manifest, exact, no file opened
    assert(t.metaRowCount().contains(31L))
    assert(t.metaMinMax("id").contains((0L, 30L)))
    assert(t.metaMinMax("nope").isEmpty)
    // earlier versions answer from their own manifests (time travel)
    assert(t.metaRowCount(Some(0)).contains(10L))
    assert(t.metaMinMax("id", Some(1)).contains((0L, 19L)))
  }

  test("z-order rewrite enables stats pruning on both clustered columns") {
    val t = fresh()
    val schema2 = StructType(Seq(
      StructField("u", LongType), StructField("ts", LongType),
      StructField("v", StringType)))
    // a 100×100 (u, ts) grid committed hash-partitioned: every file spans
    // both full ranges, so stats prune nothing
    val rows = (0L until 10000L).map(i => (i % 100, i / 100, s"r$i"))
    t.commit(rows.toDF("u", "ts", "v").repartition(8), overwrite = true)
    assert(t.candidateFiles("u", 10L, 19L).size == t.fileCount())
    // after the z-order rewrite each file covers a small (u, ts) rectangle:
    // range scans prune on EITHER column, not just a sort's leading one
    t.compactZOrder(schema2, "u", "ts", numFiles = 16)
    assert(t.fileCount() == 16)
    assert(t.candidateFiles("u", 10L, 19L).size < 16)
    assert(t.candidateFiles("ts", 10L, 19L).size < 16)
    // clustering is layout-only: the data is unchanged
    val got = t.snapshotRange(schema2, "u", 10L, 19L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got ==
      rows.filter(r => r._1 >= 10 && r._1 <= 19).map(r => (r._1, r._2)).toSet)
  }

  test("partition-scoped z-order rewrites only the matching dirs") {
    import org.apache.spark.sql.functions.col
    val t = fresh()
    val s3 = StructType(Seq(
      StructField("p", StringType), StructField("u", LongType),
      StructField("ts", LongType), StructField("v", StringType)))
    // two partition values, each a 50×50 (u, ts) grid, committed
    // hash-fragmented so every file spans both full ranges
    val rows = for (p <- Seq("a", "b"); i <- 0L until 2500L)
      yield (p, i % 50, i / 50, s"$p$i")
    t.create(s3, partitionCols = Seq("p"))
    t.commit(rows.toDF("p", "u", "ts", "v").repartition(6),
      overwrite = false, partitionCols = Seq("p"))
    val before = t.fileCount()
    val st = t.compactZOrderWhere(s3, Map("p" -> Set("a")),
      Seq("u", "ts"), numFiles = 8)
    // only partition a's files rewrote; b's carried by reference
    assert(st.carried > 0 && st.rewritten > 0,
      s"scoped zorder: $st (before $before files)")
    assert(t.history().last.op.contains("zorder-where"))
    // data unchanged, both partitions intact
    val got = t.snapshot(s3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == rows.map(r => (r._1, r._2, r._3)).toSet)
    // partition a now prunes on BOTH curve dimensions: a narrow u-band
    // scan inside p=a touches a strict subset of a's files
    assert(t.candidateFiles("u", 10L, 14L).size < t.fileCount())
    // a predicate on a non-selected partition column is refused
    intercept[Exception] {
      t.compactZOrderWhere(s3, Map("u" -> Set("1")), Seq("u", "ts")) }
    // an empty selection is a no-op, not an error
    val st2 = t.compactZOrderWhere(s3, Map("p" -> Set("zzz")),
      Seq("u", "ts"))
    assert(st2.rewritten == 0)
    // z dimensions must not include partition columns
    intercept[Exception] {
      t.compactZOrderWhere(s3, Map("p" -> Set("a")), Seq("p", "u")) }
  }

  test("snapshotWhere prunes from arbitrary conjunctive predicates") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = fresh()
    Seq(0L until 10L, 10L until 20L, 20L until 30L).zipWithIndex
      .foreach { case (r, i) =>
        t.commit(r.map(x => (x, s"r$x")).toDF("id", "v").coalesce(1),
          overwrite = i == 0)
      }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    // both orientations in one conjunction → mid-band file only
    assert(ids(t.snapshotWhere(schema, col("id") >= 12 && lit(18L) >= col("id")))
      == (12L to 18L).toSet)
    // a column without stats in the mix: its conjunct filters rows, the
    // stats column still prunes files
    assert(ids(t.snapshotWhere(schema, col("id") > 7 && col("v") === "r8"))
      == Set(8L))
    // OR prunes nothing but stays correct
    assert(ids(t.snapshotWhere(schema,
      (col("id") === 5) || (col("id") === 25))) == Set(5L, 25L))
    // contradictory range → empty, without reading anything
    assert(t.snapshotWhere(schema, col("id") > 9 && col("id") < 3).isEmpty)
  }

  test("partition-column range scans prune from hive path segments") {
    val t = fresh()
    val schemaP = StructType(Seq(
      StructField("k", LongType), StructField("id", LongType),
      StructField("v", StringType)))
    // partition columns never reach data-file footers — pruning must come
    // from the k=v path segment recorded in the manifest
    t.commit(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("k", "id", "v"), overwrite = true, partitionCols = Seq("k"))
    assert(t.fileCount() == 3)
    assert(t.candidateFiles("k", 2L, 3L).size == 2)
    val got = t.snapshotRange(schemaP, "k", 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 20L), (3L, 30L)))
  }

  test("history records op + commit time; timestamp time travel resolves") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    t.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)
    t.compact(schema)
    val h = t.history()
    assert(h.map(_.version) == Seq(0, 1, 2))
    assert(h.map(_.op) ==
      Seq(Some("overwrite"), Some("append"), Some("compact")))
    assert(h.forall(_.commitMillis.nonEmpty) && h.last.numFiles == 1)
    // commit times ascend (each commit takes a Spark write, >> 1 ms)
    assert(h.map(_.commitMillis.get) == h.map(_.commitMillis.get).sorted)
    // timestamp-based travel: AS OF each version's own commit instant
    assert(t.versionAsOf(h.head.commitMillis.get).contains(0))
    assert(t.versionAsOf(Long.MaxValue).contains(2))
    assert(t.versionAsOf(0L).isEmpty)
    assert(rows(t, t.versionAsOf(h.head.commitMillis.get)) ==
      Set((1L, "a")))
  }

  test("schema evolution: old files read null for later-added columns") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    // widen on append: new files carry `extra`, old files simply lack the
    // parquet column and the reader fills null — add-column needs no
    // rewrite of existing data
    t.commit(Seq((2L, "b", 7L)).toDF("id", "v", "extra"),
      overwrite = false)
    val wide = StructType(schema.fields :+ StructField("extra", LongType))
    val got = t.snapshot(wide).collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", Some(7L))))
    // narrow reads keep working — column pruning over the wider files
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
  }

  test("change feed refuses a window crossing the vacuum horizon") {
    val t = fresh()
    (0 until 4).foreach(i =>
      t.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"), overwrite = i == 0))
    t.vacuum(keep = 2, minAgeMillis = 0L, retainMillis = 0L) // v2, v3 survive
    assert(t.versions == Seq(2, 3))
    // v2's predecessor manifest is gone: its carried files can't be diffed,
    // so any window that would attribute them must fail loudly instead of
    // re-feeding old rows under _commit_version = 2
    val ex = intercept[IllegalStateException] {
      t.changesBetween(schema, 0, 3).collect()
    }
    assert(ex.getMessage.contains("vacuumed"))
    // a window entirely inside surviving, diffable history still works
    val ok = t.changesBetween(schema, 2, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ok == Set((3L, "r3", 3L)))
  }

  test("vacuum spares staging scratch and young unreferenced files") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    t.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = true)
    // a racing writer mid-stage: scratch dir + a just-published (moved but
    // not yet manifest-referenced) data file — both look "unreferenced"
    val staging = Paths.get(t.root, "data", "batch-racer.staging")
    Files.createDirectories(staging)
    Files.write(staging.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val justPublished = Paths.get(t.root, "data", "batch-racer-part-0.parquet")
    Files.write(justPublished, Array[Byte](4, 5, 6))
    // default age guard: young unreferenced files survive (v0's data file
    // is also young here, so only the manifest count moves)
    val (m1, f1) = t.vacuum(keep = 1, retainMillis = 0L)
    assert(m1 == 1 && f1 == 0)
    assert(Files.exists(staging.resolve("part-0.parquet")))
    assert(Files.exists(justPublished))
    // age 0 (offline maintenance): unreferenced data is deleted — but the
    // staging scratch of an active writer is still off-limits
    val (_, f2) = t.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(f2 >= 2) // v0's file + the just-published orphan
    assert(!Files.exists(justPublished))
    assert(Files.exists(staging.resolve("part-0.parquet")))
    assert(rows(t) == Set((2L, "b")))
  }

  test("incremental view maintenance: change feed folds into the one-shot agg") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // source table: 4 append commits of keyed measures
    val src = fresh()
    val batches = Seq(
      Seq((1L, "a", 10L), (2L, "b", 5L)),
      Seq((3L, "a", 7L)),
      Seq((4L, "b", 1L), (5L, "c", 2L)),
      Seq((6L, "a", 4L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      src.commit(b.toDF("id", "k", "m"), overwrite = i == 0)
    }
    val schema3 = StructType(Seq(
      StructField("id", LongType), StructField("k", StringType),
      StructField("m", LongType)))
    // maintained aggregate: fold each version's delta via the change feed —
    // the real CDC loop (cursor → changesBetween → applyDelta), never
    // re-reading earlier versions
    val deltaAgg = (d: org.apache.spark.sql.DataFrame) => d.groupBy("k")
      .agg(sum("m").as("total"), count(lit(1)).as("n"))
    var view = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", StringType),
        StructField("total", LongType), StructField("n", LongType))))
    (0 to 3).foreach { v =>
      val delta = src.changesBetween(schema3, v - 1, v)
        .drop("_commit_version")
      view = graft.operators.IncrementalAgg.applyDelta(
        view, delta, Seq("k"), Seq("total", "n"), deltaAgg)
    }
    val got = view.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // ⊕-fold over the feed ≡ one-shot aggregate over the snapshot
    val expect = src.snapshot(schema3).groupBy("k")
      .agg(sum("m").as("total"), count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("compact preserves a partitioned table's hive layout") {
    val t = fresh()
    val schemaP = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("k", StringType)))
    (0 until 4).foreach(i =>
      t.commit(Seq((i.toLong, s"r$i", if (i % 2 == 0) "x" else "y"))
        .toDF("id", "v", "k"),
        overwrite = i == 0, partitionCols = Seq("k")))
    val v = t.compact(schemaP, numFiles = 1)
    assert(t.partitionColsOf(v) == Seq("k"))
    // one file per partition value after packing
    assert(t.fileCount() == 2)
    val snap = t.snapshot(schemaP)
    assert(snap.filter($"k" === "x").collect().map(_.getLong(0)).toSet ==
      Set(0L, 2L))
    assert(snap.count() == 4)
  }

  test("commitDynamic replaces only the written partitions, carries the rest") {
    val t = fresh()
    val schemaP = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("k", StringType)))
    t.commit(Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "y"))
      .toDF("id", "v", "k"), overwrite = true, partitionCols = Seq("k"))
    def filesUnder(part: String): Set[String] =
      scala.util.Using.resource(
          Files.walk(Paths.get(t.root, "data", part))) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(_.getFileName.toString).toSet
      }
    val yBefore = filesUnder("k=y")
    // dynamic overwrite touching only k=x
    val v = t.commitDynamic(
      Seq((1L, "A2", "x"), (9L, "z", "x")).toDF("id", "v", "k"), Seq("k"))
    // k=y files untouched on disk AND carried by the new manifest
    assert(filesUnder("k=y") == yBefore)
    val snap = t.snapshot(schemaP).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(snap == Set((1L, "A2", "x"), (9L, "z", "x"),
      (2L, "b", "y"), (3L, "c", "y")))
    // k=x rows fully replaced (old (1,a,x) gone), layout recorded, time
    // travel to the pre-merge version intact
    assert(t.partitionColsOf(v) == Seq("k"))
    assert(t.snapshot(schemaP, Some(v - 1)).count() == 3)
    // layout mismatch is rejected
    assertThrows[IllegalArgumentException] {
      t.commitDynamic(Seq((1L, "q", "x")).toDF("id", "v", "k"), Seq("v"))
    }
  }

  test("incremental aggregate maintained from the change feed = recompute") {
    import org.apache.spark.sql.functions._
    val src = fresh()
    val aggSchema = StructType(Seq(
      StructField("id", LongType), StructField("n", LongType),
      StructField("total", LongType)))
    val result = fresh()
    var processed = -1
    def refresh(): Unit = {
      val to = src.latestVersion.get
      val delta = src.changesBetween(schema, processed, to)
      val next = graft.operators.IncrementalAgg.applyDelta(
        result.snapshot(aggSchema), delta, Seq("id"), Seq("n", "total"),
        d => d.groupBy("id").agg(count(lit(1)).as("n"),
          sum(length($"v")).cast("long").as("total")))
      result.commit(next, overwrite = true)
      processed = to
    }
    // three append batches, refresh after each; keys repeat across batches
    src.commit(Seq((1L, "aa"), (2L, "b")).toDF("id", "v"), overwrite = true)
    refresh()
    src.commit(Seq((1L, "ccc"), (3L, "d")).toDF("id", "v"), overwrite = false)
    refresh()
    src.commit(Seq((3L, "ee"), (3L, "f")).toDF("id", "v"), overwrite = false)
    refresh()
    val got = result.snapshot(aggSchema).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // full recompute over the source snapshot
    val expect = src.snapshot(schema).groupBy("id")
      .agg(count(lit(1)).as("n"), sum(length($"v")).cast("long").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
    assert(got == Set((1L, 2L, 5L), (2L, 1L, 1L), (3L, 3L, 4L)))
    // each refresh read only its delta and republished the small result —
    // the source was never rescanned (3 refreshes = 3 result versions)
    assert(result.versions == Seq(0, 1, 2))
  }

  test("additive schema evolution: old files read nulls for new columns") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val wide = StructType(schema.fields :+ StructField("extra", LongType))
    // widened read over the old file: new column is null
    val v0 = t.snapshot(wide).collect()
    assert(v0.map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a")))
    assert(v0.forall(_.isNullAt(2)))
    // append carries the new column; the mixed snapshot fills nulls
    t.commit(Seq((2L, "b", 7L)).toDF("id", "v", "extra"), overwrite = false)
    val rows2 = t.snapshot(wide).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows2 == Set((1L, -1L), (2L, 7L)))
  }

  test("losing the version race retries onto the next version") {
    import org.apache.spark.sql.functions.col
    // one operation from each commit family; each returns its version
    val families: Seq[(String, TxLogTable => Int, Set[(Long, String)])] =
      Seq(
        ("commit", _.commit(Seq((4L, "d")).toDF("id", "v"),
          overwrite = false, partitionCols = Seq("v")),
          Set((1L, "a"), (2L, "b"), (4L, "d"))),
        ("merge", _.merge(schema, Seq((2L, "X"), (4L, "d")).toDF("id", "v"),
          Seq("id")).version,
          Set((1L, "a"), (2L, "X"), (4L, "d"))),
        ("deleteWhere", _.deleteWhere(schema, col("id") === 1L).version,
          Set((2L, "b"))),
        ("compactSmall", _.compactSmall(schema, minBytes = 1L << 30).version,
          Set((1L, "a"), (2L, "b"))),
        ("addColumn", _.addColumn("extra", LongType),
          Set((1L, "a"), (2L, "b"))),
        ("restore", _.restore(1), Set((1L, "a"))),
        ("addCheck", _.addCheck(schema, "pos", "id > 0"),
          Set((1L, "a"), (2L, "b"))),
        ("commitDynamic", _.commitDynamic(Seq((20L, "b")).toDF("id", "v"),
          Seq("v")), Set((1L, "a"), (20L, "b"))))
    families.foreach { case (family, op, expect) =>
      withClue(s"$family: ") {
        val t = fresh()
        t.create(schema, partitionCols = Seq("v"))
        Seq((1L, "a"), (2L, "b"), (3L, "c")).foreach(r =>
          t.commit(Seq(r).toDF("id", "v"), overwrite = false,
            partitionCols = Seq("v")))
        // a concurrent writer claims v4 first, rolling the table back to
        // v2's content: the operation must re-plan against v4 (so (3, c)
        // is gone) and land on v5
        val log = Paths.get(t.root, "_log")
        Files.copy(log.resolve("v00000002.manifest"),
          log.resolve("v00000004.manifest"))
        assert(op(t) == 5)
        assert(t.versions == (0 to 5))
        assert(rows(t, Some(4)) == Set((1L, "a"), (2L, "b")))
        assert(rows(t, Some(5)) == expect)
      }
    }
  }

  test("a reader polling entries() never sees a partial manifest") {
    val t = fresh()
    // entries() reads only manifests, so two synthetic lists of 8,000
    // file lines stand in for a many-file table: every restore below
    // publishes a ~500 KB self-contained manifest without writing data
    def listing(batch: String): Seq[String] = (0 until 8000).map(i =>
      TxLogTable.FileEntry(f"k=$i%04d/$batch-part-$i%05d.parquet",
        Map("id" -> (i * 100L, i * 100L + 99))).encoded)
    val log = Paths.get(t.root, "_log")
    Files.createDirectories(log)
    Seq("a", "b").zipWithIndex.foreach { case (batch, v) =>
      Files.write(log.resolve(f"v$v%08d.manifest"),
        ("#op=seed" +: listing(batch)).mkString("\n").getBytes(UTF_8))
    }
    val valid = Seq("a", "b").map(b => listing(b).map(l =>
      TxLogTable.decodeEntry(l).rel).toSet)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    var reads = 0
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    // the reader lists versions in a tight loop and reads the moment a
    // new one appears — inside the write window, if the name became
    // visible before its bytes
    val reader = new Thread(() => {
      var last = t.latestVersion
      while (!done.get()) {
        val head = t.latestVersion
        if (head != last) {
          last = head
          try {
            val seen = t.entries().map(_.rel).toSet
            if (!valid.contains(seen)) bad += s"${seen.size} files"
          } catch {
            case scala.util.control.NonFatal(e) => bad += e.toString
          }
          reads += 1
        }
      }
    })
    reader.start()
    try (1 to 20).foreach(i => t.restore(i % 2))
    finally { done.set(true); reader.join() }
    assert(t.versions == (0 to 21))
    assert(reads > 0)
    assert(bad.isEmpty,
      s"${bad.size} of $reads reads saw no committed version: ${bad.take(5)}")
  }

  test("vacuum deletes stale temp files under _log; young ones survive") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    t.registerCursor("c", 0)
    t.tag("t0")
    val log = Paths.get(t.root, "_log")
    val hour = 60L * 60 * 1000
    // a crash inside putIfAbsent / replaceAtomically leaves files shaped
    // like these; `cursor-123.tmp` is an older writer's temp name
    def plant(dir: java.nio.file.Path, name: String, age: Long) = {
      val p = dir.resolve(name)
      Files.write(p, "#op=partial\nk=0".getBytes(UTF_8))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - age))
      p
    }
    val stale = Seq(
      plant(log, ".v00000001.manifest.dead.tmp", 2 * hour),
      plant(log.resolve("cursors"), ".c.cursor.dead.tmp", 2 * hour),
      plant(log.resolve("tags"), ".t1.tag.dead.tmp", 2 * hour),
      plant(log.resolve("cursors"), "cursor-123.tmp", 2 * hour))
    val young = Seq(
      plant(log, ".v00000001.manifest.live.tmp", 0),
      plant(log.resolve("tags"), ".t1.tag.live.tmp", 0))
    def unseen(): Unit = {
      assert(t.versions == Seq(0))
      assert(t.cursors().keySet == Set("c"))
      assert(t.tags() == Map("t0" -> 0))
    }
    unseen()
    t.vacuum(minAgeMillis = hour, dryRun = true)
    assert((stale ++ young).forall(Files.exists(_)))
    t.vacuum(minAgeMillis = hour)
    assert(stale.forall(Files.notExists(_)))
    assert(young.forall(Files.exists(_)))
    unseen()
  }

  test("merge rewrites only key-overlapping files; fresh keys append") {
    val t = fresh()
    val base = (1L to 100L).map(i => (i, s"v$i"))
    // key-clustered layout: 4 files with disjoint id bands
    t.commit(base.toDF("id", "v")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      overwrite = true)
    val files0 = t.fileCount()
    assert(files0 == 4)
    // keyed UPDATE confined to one band — only its file(s) rewritten
    val st1 = t.merge(schema,
      Seq((10L, "X10"), (12L, "X12")).toDF("id", "v"), Seq("id"))
    assert(st1.rewritten + st1.carried == files0)
    assert(st1.rewritten < files0 && st1.carried > 0,
      s"no file targeting: $st1")
    assert(rows(t) == (base.toMap + (10L -> "X10") + (12L -> "X12")).toSet)
    // INSERT-only batch of fresh keys beyond max: zero files rewritten
    val st2 = t.merge(schema,
      Seq((200L, "n200"), (201L, "n201")).toDF("id", "v"), Seq("id"))
    assert(st2.rewritten == 0, s"insert-only merge rewrote files: $st2")
    assert(rows(t).size == 102 && rows(t)((200L, "n200")))
    // NULL-keyed incoming rows are pure inserts — never match a current row
    val st3 = t.merge(schema,
      Seq((Option.empty[Long], "null-row")).toDF("id", "v"), Seq("id"))
    assert(st3.rewritten == 0, s"all-null-key merge rewrote files: $st3")
    assert(t.snapshot(schema).count() == 103)
    // history records the op
    assert(t.history().map(_.op.get) ==
      Seq("overwrite", "merge", "merge", "merge"))
  }

  test("merge preserves a partitioned table's hive layout") {
    val schemaP = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("k", StringType)))
    val t = fresh()
    t.commit(Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "y"))
      .toDF("id", "v", "k"), overwrite = true, partitionCols = Seq("k"))
    // merge key (id) does NOT align with the partition column (k): the row
    // for id=2 moves partition y→x, which only a key-targeted merge (not
    // dynamic partition overwrite) can express
    val st = t.merge(schemaP,
      Seq((2L, "B!", "x"), (4L, "d", "z")).toDF("id", "v", "k"), Seq("id"))
    assert(t.partitionColsOf(st.version) == Seq("k"))
    val got = t.snapshot(schemaP).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "a", "x"), (2L, "B!", "x"), (3L, "c", "y"),
      (4L, "d", "z")))
  }

  test("merge with a non-integral key degrades to full rewrite, correctly") {
    val t = fresh()
    t.commit((1L to 20L).map(i => (i, s"k$i")).toDF("id", "v")
      .repartition(3), overwrite = true)
    val st = t.merge(schema, Seq((99L, "k5")).toDF("id", "v"), Seq("v"))
    // string keys have no footer stats: every file is a rewrite candidate
    assert(st.carried == 0)
    val got = rows(t)
    assert(!got.exists(_._1 == 5L) && got((99L, "k5")) && got.size == 20)
  }

  test("null-count stats prune IS NULL / IS NOT NULL scans and deletes") {
    import org.apache.spark.sql.functions.col
    val t = fresh()
    // one all-null file, one no-null file (coalesce(1) pins one file per
    // commit so the prune counts are deterministic)
    t.commit(Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("id", "v").coalesce(1), overwrite = true)
    t.commit(Seq((Option(1L), "a"), (Option(2L), "b"))
      .toDF("id", "v").coalesce(1), overwrite = false)
    assert(t.fileCount() == 2)
    // IS NOT NULL skips the all-null file; IS NULL skips the no-null file
    assert(t.candidateFilesWhere(col("id").isNotNull).size == 1)
    assert(t.candidateFilesWhere(col("id").isNull).size == 1)
    assert(t.snapshotWhere(schema, col("id").isNotNull).count() == 2)
    assert(t.snapshotWhere(schema, col("id").isNull).count() == 2)
    // a comparison is null-rejecting: the all-null file is skipped even
    // though it has NO min/max stats to range-prune on
    assert(t.candidateFilesWhere(col("id") > 0L).size == 1)
    // string columns prune too (no range stats, but null counts exist)
    assert(t.candidateFilesWhere(col("v").isNull).isEmpty)
    // deleteWhere carries the no-null file under an IS NULL delete
    val st = t.deleteWhere(schema, col("id").isNull)
    assert(st.rewritten == 1 && st.carried == 1, s"$st")
    assert(t.snapshot(schema).count() == 2)
  }

  test("deleteWhere rewrites only predicate-overlapping files") {
    import org.apache.spark.sql.functions.{col, expr}
    val t = fresh()
    val base = (1L to 100L).map(i => (i, s"v$i"))
    t.commit(base.toDF("id", "v")
      .repartitionByRange(4, col("id")), overwrite = true)
    // banded delete with a non-range conjunct the extractor cannot see:
    // only the band's file(s) are rewritten, and the full predicate still
    // narrows the delete (id=11 has odd id → survives)
    val st1 = t.deleteWhere(schema,
      col("id") >= 10L && col("id") <= 14L && col("id") % 2 === 0)
    assert(st1.rewritten + st1.carried == 4)
    assert(st1.rewritten < 4 && st1.carried > 0, s"no file targeting: $st1")
    assert(rows(t) == base.filterNot(r =>
      r._1 >= 10 && r._1 <= 14 && r._1 % 2 == 0).toSet)
    // predicate range beyond the table: zero files rewritten (no-op commit)
    val st2 = t.deleteWhere(schema, col("id") > 1000L)
    assert(st2.rewritten == 0, s"out-of-range delete rewrote files: $st2")
    assert(t.snapshot(schema).count() == 97)
    // NULL predicate keeps the row: DELETE removes only where TRUE
    val t2 = fresh()
    t2.commit(Seq((Option(1L), "a"), (Option.empty[Long], "b"))
      .toDF("id", "v"), overwrite = true)
    t2.deleteWhere(schema, expr("id < 0")) // NULL for the null-id row
    assert(t2.snapshot(schema).count() == 2)
    t2.deleteWhere(schema, expr("id = 1"))
    assert(t2.snapshot(schema).collect().map(_.getString(1)).toSeq == Seq("b"))
    assert(t.history().map(_.op.get) ==
      Seq("overwrite", "delete", "delete"))
  }

  test("vacuum default time floor spares young manifests") {
    val t = fresh()
    (0 until 3).foreach(i =>
      t.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"), overwrite = i == 0))
    // every manifest here is seconds old: the 7-day default retention
    // makes a bare vacuum a no-op on manifests — the property that makes
    // all-defaults vacuum() safe to run against a live streamed table
    val (m0, _) = t.vacuum(keep = 1, minAgeMillis = 0L)
    assert(m0 == 0 && t.versions == Seq(0, 1, 2))
    // explicit retainMillis = 0 (offline maintenance) reclaims history
    val (m1, _) = t.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(m1 == 2 && t.versions == Seq(2))
  }

  test("cursor registry: upsert, list, release — non-ASCII names round-trip") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    assert(t.cursors().isEmpty)
    t.registerCursor("страница/feed 1", 3)
    t.registerCursor("b", 5)
    t.registerCursor("b", 7) // upsert advances in place
    val cs = t.cursors()
    assert(cs.keySet == Set("страница/feed 1", "b"))
    assert(cs("страница/feed 1").version == 3 && cs("b").version == 7)
    assert(t.releaseCursor("b") && !t.releaseCursor("b"))
    assert(t.cursors().keySet == Set("страница/feed 1"))
    intercept[IllegalArgumentException](t.registerCursor("", 0))
  }

  test("vacuum cursor floor pins a lagging consumer's window") {
    val t = fresh()
    (0 until 4).foreach(i =>
      t.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"), overwrite = i == 0))
    // a consumer committed through v1: its next batch diffs FROM v1, so
    // manifests >= 1 must survive however aggressive keep/retain are
    t.registerCursor("lag", 1)
    val (m1, _) = t.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(m1 == 1 && t.versions == Seq(1, 2, 3))
    // the pinned window still plans: the feed the cursor protects
    val fed = t.changesBetween(schema, 1, 3).collect()
      .map(_.getLong(0)).toSet
    assert(fed == Set(2L, 3L))
    // releasing the cursor is the explicit reclamation act
    assert(t.releaseCursor("lag"))
    val (m2, _) = t.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(m2 == 2 && t.versions == Seq(3))
  }

  test("vacuum survivors stay a contiguous suffix under commitMillis skew") {
    val t = fresh()
    (0 until 4).foreach(i =>
      t.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"), overwrite = i == 0))
    // simulate clock skew: v1 claims an ancient commit time while v0
    // (and v2, v3) are young — naive per-version time-floor filtering
    // would delete v1 BETWEEN two kept manifests, breaking changesBetween
    // for windows entirely inside surviving history
    val m1 = Paths.get(t.root, "_log", "v00000001.manifest")
    val skewed = new String(Files.readAllBytes(m1), UTF_8)
      .split("\n").map { l =>
        if (l.startsWith("#commitMillis=")) "#commitMillis=1000" else l
      }.mkString("\n")
    Files.write(m1, skewed.getBytes(UTF_8))
    val (dropped, _) = t.vacuum(keep = 1, minAgeMillis = 0L)
    assert(dropped == 0 && t.versions == Seq(0, 1, 2, 3),
      "a mid-history manifest must not be vacuumed from under survivors")
    assert(t.changesBetween(schema, 0, 3).collect().map(_.getLong(0))
      .toSet == Set(1L, 2L, 3L))
  }

  test("change feed translates mid-range renames and adds via latest colmap") {
    val t = fresh()
    t.create(schema)                                            // v0
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = false) // v1
    t.renameColumn("v", "w")                                    // v2
    t.commit(Seq((2L, "b")).toDF("id", "w"), overwrite = false) // v3
    t.addColumn("x", LongType)                                  // v4
    t.commit(Seq((3L, "c", 30L)).toDF("id", "w", "x"),
      overwrite = false)                                        // v5
    val cur = StructType(Seq(StructField("id", LongType),
      StructField("w", StringType), StructField("x", LongType)))
    // pre-rename rows surface under the NEW logical name, pre-add rows
    // with NULL x, each under its original commit version — the latest
    // colmap is valid for every version because physical names are never
    // rebound (addColumn refuses reuse)
    def feed(fromV: Int) = t.changesBetween(cur, fromV, 5).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSet
    assert(feed(-1) == Set((1L, "a", -1L, 1L), (2L, "b", -1L, 3L),
      (3L, "c", 30L, 5L)))
    // a window OPENING between the two ALTERs sees the same translation
    assert(feed(2) == Set((2L, "b", -1L, 3L), (3L, "c", 30L, 5L)))
    // the CDC variant rides the same read path
    val cdc = t.changesWithDeletes(cur, -1, 5).collect()
      .map(r => (r.getLong(0), r.getString(4))).toSet
    assert(cdc == Set((1L, "insert"), (2L, "insert"), (3L, "insert")))
  }

  test("3-dimensional z-order prunes range scans on every clustered column") {
    val t = fresh()
    val schema3 = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType),
      StructField("c", LongType), StructField("v", StringType)))
    // a 32x32x32 lattice committed hash-partitioned: every file spans all
    // three full ranges, so stats prune nothing before the rewrite
    val rows = (0L until 32768L).map(i =>
      (i % 32, (i / 32) % 32, i / 1024, s"r$i"))
    t.commit(rows.toDF("a", "b", "c", "v").repartition(8), overwrite = true)
    assert(t.candidateFiles("b", 4L, 7L).size == t.fileCount())
    t.compactZOrder(schema3, Seq("a", "b", "c"), numFiles = 64)
    assert(t.fileCount() == 64)
    // each file now covers a small (a, b, c) box: a narrow band on ANY
    // single dimension excludes files (a linear sort would serve only
    // its leading column). The pruning strength is ordered by interleave
    // significance — a 1/8-band on the lowest-bit dimension (`a`) hits
    // about half the files (64^(2/3) boxes × curve adjacency ⇒ ~32±1,
    // and range-sampling boundaries shift by one under concurrent
    // suites), while the highest (`c`) excludes almost everything — so
    // the per-dim bound is loose and the strong bound sits on `c`
    Seq("a", "b", "c").foreach { d =>
      val hit = t.candidateFiles(d, 4L, 7L).size
      assert(hit <= 40, s"dimension $d pruned nothing: $hit of 64 files")
    }
    assert(t.candidateFiles("c", 4L, 7L).size <= 24,
      "highest-significance dimension must prune strongly")
    // clustering is layout-only: the data is unchanged
    val got = t.snapshotRange(schema3, "c", 4L, 7L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == rows.filter(r => r._3 >= 4 && r._3 <= 7)
      .map(r => (r._1, r._2, r._3)).toSet)
  }

  test("vacuum dry run reports exactly what the real run then reclaims") {
    val t = fresh()
    (0 until 5).foreach(i =>
      t.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"),
        overwrite = i % 2 == 0))
    val before = t.versions
    val (dm, df) =
      t.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L,
        dryRun = true)
    // nothing moved
    assert(t.versions == before && dm == 4 && df > 0,
      s"dry run: $dm manifests / $df files, versions ${t.versions}")
    assert(rows(t, Some(before.head)).nonEmpty, "old version still reads")
    // the real run reclaims exactly the dry run's report
    val (rm, rf) =
      t.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert((rm, rf) == (dm, df),
      s"dry run promised ($dm, $df), real run did ($rm, $rf)")
    assert(t.versions == Seq(before.last))
  }

  test("widenColumn: metadata-only promotion; old files promote at read") {
    val t = fresh()
    val s0 = StructType(Seq(StructField("id", LongType),
      StructField("n", IntegerType), StructField("f", FloatType)))
    t.create(s0)
    t.commit(Seq((1L, 10, 1.5f)).toDF("id", "n", "f"), overwrite = false)
    val filesBefore = t.fileCount()
    t.widenColumn("n", LongType)
    t.widenColumn("f", DoubleType)
    assert(t.fileCount() == filesBefore,
      "widening must not add or rewrite any data file")
    val s1 = StructType(Seq(StructField("id", LongType),
      StructField("n", LongType), StructField("f", DoubleType)))
    // a value only the WIDE type can hold proves new writes carry it
    t.commit(Seq((2L, 5000000000L, 2.5)).toDF("id", "n", "f"),
      overwrite = false)
    val got = t.snapshot(s1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 10L, 1.5), (2L, 5000000000L, 2.5)), s"got $got")
    // the change feed reads pre-widen files under the wide schema too
    val feed = t.changesBetween(s1, -1, t.latestVersion.get).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(feed == Set((1L, 10L), (2L, 5000000000L)))
    // refusals: narrowing, cross-family, unknown column
    intercept[IllegalArgumentException](t.widenColumn("n", IntegerType))
    intercept[IllegalArgumentException](t.widenColumn("f", LongType))
    intercept[IllegalArgumentException](t.widenColumn("nope", LongType))
    // schema INFERENCE after a widen is the recorded wide contract, NOT
    // a parquet footer lottery: the table now holds int AND long files
    // for n, and footer-based inference returns whichever file it reads
    // first — a restarted stream that drew the narrow loser would
    // re-pin the schema the widening guard tells it to escape (this was
    // a real 1-in-3 flake before the recorded schema won)
    val inferred = spark.read.format("txlog").load(t.root).schema
    assert(inferred("n").dataType == LongType &&
      inferred("f").dataType == DoubleType,
      s"inference must follow the recorded schema: $inferred")
  }

  test("timestamp columns carry micros range stats that prune time " +
      "ranges on an UNPARTITIONED table") {
    // the engine sessions pin outputTimestampType=TIMESTAMP_MICROS
    // (INT96, Spark's legacy default, records NO stats) — so every
    // staged timestamp column gets real min/max footer stats and a
    // time-range scan prunes files with no partitioning at all
    val t = fresh()
    val s0 = StructType(Seq(StructField("id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    t.create(s0)
    // three appends, one hour apart each, disjoint in time
    Seq(0L, 3600L, 7200L).foreach { base =>
      t.commit(spark.sql(
        s"SELECT id, timestamp_seconds(1704067200 + $base + id) AS ts " +
          "FROM range(100)"), overwrite = false)
    }
    val all = t.entries(None).map(_.rel)
    import org.apache.spark.sql.functions.{col, lit}
    val hit = t.candidateFilesWhere(
      col("ts") >= lit(java.time.Instant.parse("2024-01-01T01:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-01T02:00:00Z")))
    assert(hit.nonEmpty && hit.size < all.size,
      s"hour-range scan must prune by ts stats: ${hit.size} of " +
        s"${all.size}")
    // and the pruned read is still exactly right
    val n = t.snapshotWhere(s0,
      col("ts") >= lit(java.time.Instant.parse("2024-01-01T01:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-01T02:00:00Z")))
      .count()
    assert(n == 100, s"expected the middle append's 100 rows, got $n")
  }

  test("retention delete drops fully-covered files from the manifest " +
      "without reading them") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = fresh()
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    t.create(sch)
    // three one-hour commits: [00:00,01:00), [01:00,02:00), [02:00,03:00)
    Seq(0L, 3600L, 7200L).foreach { base =>
      t.commit(spark.sql(
        s"SELECT id, timestamp_seconds(1704067200 + $base + id * 36) " +
          "AS ts FROM range(100)"), overwrite = false)
    }
    val before = t.entries(None).map(_.rel)
    val keepFiles = before.toSet // all current rels
    // cutoff at the exact 02:00 boundary: the first two hours' files are
    // FULLY covered (every row matches, zero NULLs) — they must drop
    // with rewritten == 0; the third hour's files carry by reference
    val cutoff = java.time.Instant.parse("2024-01-01T02:00:00Z")
    val st = t.deleteWhere(sch, col("ts") < lit(cutoff))
    assert(st.rewritten == 0 && st.dropped > 0,
      s"boundary-aligned retention delete must read nothing: $st")
    val after = t.entries(None).map(_.rel)
    assert(after.nonEmpty && after.toSet.subsetOf(keepFiles),
      "survivors must be carried by reference (no new files)")
    assert(t.snapshot(sch).count() == 100)
    assert(t.snapshot(sch).agg(org.apache.spark.sql.functions.min("ts"))
      .head.getTimestamp(0).toInstant
      .equals(java.time.Instant.parse("2024-01-01T02:00:00Z")))
    // a STRADDLING cutoff rewrites exactly the boundary file(s): 100
    // rows at 36 s intervals split across task files; 02:20:10 falls
    // INSIDE one file's range (not on a task boundary)
    val cut2 = java.time.Instant.parse("2024-01-01T02:20:10Z")
    val st2 = t.deleteWhere(sch, col("ts") < lit(cut2))
    assert(st2.rewritten > 0,
      s"straddling delete must rewrite the boundary file: $st2")
    // ids 0..33 have ts < 02:20:10 (36*id < 1210) → 66 survive
    assert(t.snapshot(sch).count() == 66)
  }

  test("zero-row staged files never enter the manifest") {
    // an empty write partition (collapsed range boundary, empty bucket)
    // stages a 0-row parquet with no stats and no bloom — every
    // conservative pruning test calls such a file "may match" forever,
    // so a string-keyed merge would rewrite it on every batch. The
    // staging chokepoint must drop them.
    import org.apache.spark.sql.functions.col
    val t = fresh()
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    t.create(sch)
    // 3 rows forced through 8 partitions: ≥5 tasks write nothing
    t.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(8, col("id")), overwrite = false)
    val es = t.entries(None)
    assert(es.nonEmpty && es.size <= 3,
      s"empty partitions must not stage files: ${es.map(_.rel)}")
    assert(es.forall(_.stats.get(TxLogTable.RowsKey).exists(_._1 > 0)),
      s"every manifest entry carries rows > 0: ${es.map(_.stats)}")
    assert(t.snapshot(sch).count() == 3)
    // no orphaned 0-row parquet stays on disk either
    import scala.jdk.CollectionConverters._
    val onDisk = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))) {
      s => s.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet"))
    }
    assert(onDisk == es.size,
      s"staged-then-dropped files must be deleted: $onDisk vs ${es.size}")
  }

  test("retention delete under INT96 timestamps: no stats, no drop — " +
      "graceful rewrite fallback, same result") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = fresh()
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    t.create(sch)
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    try {
      // a foreign/legacy writer encoding: INT96 carries NO column
      // statistics, so the drop path cannot prove full coverage
      spark.conf.set(key, "INT96")
      Seq(0L, 3600L).foreach { base =>
        t.commit(spark.sql(
          s"SELECT id, timestamp_seconds(1704067200 + $base + id * 36) " +
            "AS ts FROM range(100)"), overwrite = false)
      }
    } finally spark.conf.set(key, prev)
    val cutoff = java.time.Instant.parse("2024-01-01T01:00:00Z")
    val st = t.deleteWhere(sch, col("ts") < lit(cutoff))
    assert(st.dropped == 0,
      s"INT96 files carry no stats: nothing may drop unread, got $st")
    assert(t.snapshot(sch).count() == 100, "fallback result stays exact")
    assert(t.snapshot(sch)
      .agg(org.apache.spark.sql.functions.min("ts"))
      .head.getTimestamp(0).toInstant == cutoff)
  }

  test("replaceWhere backfill drops the replaced band's files unread") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = fresh()
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    t.create(sch)
    Seq(0L, 3600L, 7200L).foreach { base =>
      t.commit(spark.sql(
        s"SELECT id, timestamp_seconds(1704067200 + $base + id * 36) " +
          "AS ts FROM range(100)"), overwrite = false)
    }
    val keep = t.entries(None).map(_.rel)
      .filterNot(_ => false).toSet
    // recompute the FIRST TWO HOURS: the replaced band's files are
    // fully covered by the predicate — they drop without a read, only
    // the replacement batch stages
    val lo = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-01T02:00:00Z")
    val repl = spark.sql(
      "SELECT id + 1000 AS id, timestamp_seconds(1704067200 + id * 60) " +
        "AS ts FROM range(50)")
    val st = t.replaceWhere(sch,
      col("ts") >= lit(lo) && col("ts") < lit(hi), repl)
    assert(st.rewritten == 0 && st.dropped > 0,
      s"band-aligned backfill must read none of the replaced files: $st")
    val rows = t.snapshot(sch).count()
    assert(rows == 100 + 50, s"third hour + replacement: $rows")
    // the untouched hour's files carried by reference
    assert(t.entries(None).map(_.rel).count(keep) > 0,
      "the untouched band must carry by reference")
  }

  test("retention fast path refuses files with NULLs in the bounded " +
      "column and non-conjunctive predicates") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = fresh()
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    t.create(sch)
    // one old-hour commit CONTAINING a NULL instant: `ts < cutoff` is
    // not true of the NULL row, so the file must NOT drop wholesale —
    // it rewrites and the NULL row survives
    t.commit(spark.sql(
      "SELECT id, CASE WHEN id = 5 THEN CAST(NULL AS TIMESTAMP) " +
        "ELSE timestamp_seconds(1704067200 + id) END AS ts " +
        "FROM range(10)"), overwrite = false)
    val st = t.deleteWhere(sch,
      col("ts") < lit(java.time.Instant.parse("2024-01-01T01:00:00Z")))
    assert(st.rewritten == 1,
      s"a NULL in the bounded column must force the rewrite: $st")
    val rows = t.snapshot(sch).collect()
    assert(rows.length == 1 && rows.head.isNullAt(1),
      s"only the NULL-instant row survives: ${rows.mkString(",")}")
    // an OR predicate is not a complete conjunction: no fast path, but
    // the delete is still exact
    t.commit(spark.sql(
      "SELECT id + 100 AS id, timestamp_seconds(1704070800 + id) AS ts " +
        "FROM range(10)"), overwrite = false)
    val st2 = t.deleteWhere(sch,
      col("id") === 100L || col("id") === 101L)
    assert(st2.rewritten >= 1, s"OR predicate takes the rewrite path: $st2")
    assert(t.snapshot(sch).count() == 9)
  }

  test("widenColumn refuses bucket keys (typed hash would split buckets)") {
    val t = fresh()
    val s0 = StructType(Seq(StructField("k", IntegerType),
      StructField("v", StringType)))
    t.create(s0, partitionCols = Seq(TxLogTable.BucketCol),
      bucketSpecs = Seq(("k", 4)))
    t.commit(Seq((1, "a")).toDF("k", "v"), overwrite = false,
      partitionCols = Seq(TxLogTable.BucketCol))
    val ex = intercept[IllegalArgumentException](
      t.widenColumn("k", LongType))
    assert(ex.getMessage.contains("bucket"))
  }

  test("mergeSchema write absorbs drift: new column added, int widened") {
    val t = fresh()
    val s0 = StructType(Seq(StructField("id", LongType),
      StructField("n", IntegerType)))
    t.create(s0)
    t.commit(Seq((1L, 7)).toDF("id", "n"), overwrite = false)
    // a drifted batch: n widened to long, extra column tag
    val drift = Seq((2L, 5000000000L, "x")).toDF("id", "n", "tag")
    // without the option the mismatch is loud, nothing lands
    intercept[Exception] {
      drift.write.format("txlog").mode("append").save(t.root)
    }
    drift.write.format("txlog").mode("append")
      .option("mergeSchema", "true").save(t.root)
    assert(t.tableSchema.get.fieldNames.toSeq == Seq("id", "n", "tag"))
    assert(t.tableSchema.get("n").dataType == LongType)
    val s1 = t.tableSchema.get
    val got = t.snapshot(s1).collect().map(r => (r.getLong(0),
      r.getLong(1), if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got == Set((1L, 7L, null), (2L, 5000000000L, "x")), s"$got")
    // irreconcilable drift (string over long) still fails loudly
    intercept[Exception] {
      Seq(("oops", 1L, "y")).toDF("id", "n", "tag")
        .write.format("txlog").mode("append")
        .option("mergeSchema", "true").save(t.root)
    }
    assert(t.snapshot(s1).count() == 2, "failed write must land nothing")
  }

  test("idempotent batch writes: txnAppId/txnVersion fence replays") {
    val t = fresh()
    val df = Seq((1L, "a")).toDF("id", "v")
    def put(app: String, ver: Long): Unit =
      df.write.format("txlog").mode("append")
        .option("txnAppId", app).option("txnVersion", ver.toString)
        .save(t.root)
    put("etl", 1)
    put("etl", 1) // the orchestrator retry: must be a no-op
    assert(t.versions.size == 1 && t.snapshot(schema).count() == 1,
      s"replay double-appended: ${t.versions}")
    put("etl", 0) // stale version: also fenced (Delta's <= contract)
    assert(t.versions.size == 1)
    put("etl", 2) // progress lands
    put("other", 1) // a different app's v1 is not the same txn
    assert(t.versions.size == 3 && t.snapshot(schema).count() == 3)
    // half a txn identity is a caller bug, not a silent plain write
    intercept[Exception] {
      df.write.format("txlog").mode("append")
        .option("txnAppId", "etl").save(t.root)
    }
    assert(t.history().map(_.op.get).count(_.startsWith("txn:")) == 3)
  }

  test("merge(mergeSchema) absorbs new and widened batch columns") {
    val t = fresh()
    t.create(schema) // (id long, v string)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = false)
    // batch carries a NEW column and hits key 2; without the opt-in the
    // merge fails loudly rather than silently dropping the column
    val batch = Seq((2L, "B", "fresh"), (3L, "c", "new"))
      .toDF("id", "v", "tag")
    intercept[Exception] { t.merge(schema, batch, keys = Seq("id")) }
    t.merge(schema, batch, keys = Seq("id"), mergeSchema = true)
    val evolved = t.tableSchema.get
    assert(evolved.fieldNames.toSeq == Seq("id", "v", "tag"))
    val got = t.snapshot(evolved).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // untouched row surfaces the added column as NULL, like any
    // post-ALTER read; merged keys carry the batch's values
    assert(got == Set((1L, "a", null), (2L, "B", "fresh"),
      (3L, "c", "new")), s"$got")
    // widening via merge: an int-typed batch for a long column is
    // absorbed without an ALTER (narrower promotes at read)
    val narrow = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(4, "d", "n4")),
      StructType(Seq(StructField("id", IntegerType),
        StructField("v", StringType), StructField("tag", StringType))))
    t.merge(evolved, narrow, keys = Seq("id"), mergeSchema = true)
    assert(t.snapshot(t.tableSchema.get).count() == 4)
    // a raw table (no recorded schema) refuses the opt-in loudly
    val raw = fresh()
    raw.commit(Seq((1L, "x")).toDF("id", "v"), overwrite = true)
    val e = intercept[Exception] {
      raw.merge(schema, batch, keys = Seq("id"), mergeSchema = true) }
    assert(e.getMessage.contains("recorded table schema"))
  }

  test("optimizeWrite coalesces fragmented appends; maintenance exempt") {
    import org.apache.spark.sql.functions.col
    // control: without the property a fragmented batch writes its
    // incoming partitioning as-is
    val plain = fresh()
    plain.create(schema)
    plain.commit(Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8), overwrite = false)
    assert(plain.fileCount() == 8, s"control wrote ${plain.fileCount()}")
    // optimizeWrite: the same fragmented batch rebalances to one
    // target-sized task before the write
    val t = fresh()
    t.create(schema, optimizeWrite = true)
    t.commit(Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8), overwrite = false)
    assert(t.fileCount() == 1, s"optimizeWrite wrote ${t.fileCount()}")
    assert(t.snapshot(schema).count() == 64)
    // hive-partitioned: rebalance clusters BY THE LAYOUT, so each value
    // lands in one file instead of up to 8
    val ps = StructType(Seq(StructField("p", StringType),
      StructField("id", LongType)))
    val pt = fresh()
    pt.create(ps, partitionCols = Seq("p"), optimizeWrite = true)
    pt.commit(Seq.tabulate(64)(i => (s"p${i % 2}", i.toLong)).toDF("p", "id")
      .repartition(8), overwrite = false, partitionCols = Seq("p"))
    assert(pt.fileCount() == 2, s"per-value files: ${pt.fileCount()}")
    // the property survives later commits (carried table meta) and is
    // visible on every version since create
    assert(pt.latestVersion.exists(pt.optimizeWriteOf))
    // maintenance exemption: compact's explicit file-count contract is
    // not re-shuffled away (numFiles = 2 stays 2 despite the rebalance
    // wanting 1 task for this tiny table)
    val c = fresh()
    c.create(schema, optimizeWrite = true)
    (0 until 4).foreach(i =>
      c.commit(Seq((i.toLong, s"v$i")).toDF("id", "v"), overwrite = false))
    c.compact(schema, numFiles = 2)
    assert(c.fileCount() == 2, s"compact numFiles overridden: " +
      s"${c.fileCount()}")
    assert(c.snapshot(schema).count() == 4)
    // merge rewrites flow through the rebalance too: the rewrite of 4
    // single-row files folds to one output file
    val m = fresh()
    m.create(schema, optimizeWrite = true)
    (0 until 4).foreach(i =>
      m.commit(Seq((i.toLong, s"v$i")).toDF("id", "v"), overwrite = false))
    m.merge(schema, Seq((1L, "V1"), (2L, "V2")).toDF("id", "v"),
      keys = Seq("id"))
    val live = m.fileCount()
    assert(live <= 3, s"merge rewrite stayed fragmented: $live files")
    assert(m.snapshot(schema).collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet ==
      Set((0L, "v0"), (1L, "V1"), (2L, "V2"), (3L, "v3")))
  }
}
