package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The readStream.format("txlog") change-feed source: initial snapshot as
  * the first micro-batch, later commits arriving incrementally (no
  * rescan), and schema agreement with the batch connector.
  */
class TxLogStreamSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("streams each committed version exactly once") {
    val t = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txstream")
        .resolve("t").toString)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)

    val q = spark.readStream.format("txlog").schema(schema).load(t.root)
      .writeStream.format("memory").queryName("txlog_feed")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txstream-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("txlog_feed").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))
      // two more commits: each arrives as its own delta, nothing re-read
      t.commit(Seq((3L, "c")).toDF("id", "v"), overwrite = false)
      q.processAllAvailable()
      assert(spark.table("txlog_feed").count() == 3)
      t.commit(Seq((4L, "d"), (5L, "e")).toDF("id", "v"), overwrite = false)
      q.processAllAvailable()
      val rows = spark.table("txlog_feed").collect()
      assert(rows.map(_.getLong(0)).toSet == (1L to 5L).toSet)
      assert(rows.length == 5) // exactly once: no duplicates from rescans
    } finally q.stop()
  }

  test("writeStream.format(txlog) sink: end-to-end table-to-table pipe") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txsink-src")
        .resolve("t").toString)
    val dstRoot = java.nio.file.Files.createTempDirectory("txsink-dst")
      .resolve("t").toString
    src.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    val q = spark.readStream.format("txlog").schema(schema).load(src.root)
      .writeStream.format("txlog")
      .option("path", dstRoot)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txsink-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val dst = TxLogTable(spark, dstRoot)
      assert(dst.snapshot(schema).count() == 2)
      src.commit(Seq((3L, "c")).toDF("id", "v"), overwrite = false)
      q.processAllAvailable()
      assert(dst.snapshot(schema).collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
      // the destination is a REAL tx-log table: history carries the
      // fencing op tags, one commit per micro-batch
      assert(dst.history().forall(_.op.exists(_.startsWith("stream-append:"))))
    } finally q.stop()
  }

  test("sink inherits a bucketed target's layout (no partitionBy needed)") {
    val dstRoot = java.nio.file.Files.createTempDirectory("txsink-bkt")
      .resolve("t").toString
    val dst = TxLogTable(spark, dstRoot)
    dst.create(schema, partitionCols = Seq(TxLogTable.BucketCol),
      bucketSpecs = Seq(("id", 4)))
    val srcDir = java.nio.file.Files.createTempDirectory("txsink-bksrc")
      .toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.format("txlog")
      .option("path", dstRoot)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txsink-bkck").toString)
      .start()
    try {
      q.processAllAvailable()
      // the micro-batch landed under the table's hidden bucket layout —
      // the sink inherited partitionCols from the target, the staging
      // chokepoint derived the ids
      assert(dst.entries(None).nonEmpty &&
        dst.entries(None).forall(_.rel.startsWith("_bkt=")))
      assert(dst.snapshot(schema).collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sink inherits a GRID-bucketed target's layout too") {
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val dstRoot = java.nio.file.Files.createTempDirectory("txsink-grid")
      .resolve("t").toString
    val dst = TxLogTable(spark, dstRoot)
    dst.create(schema2,
      partitionCols = Seq(TxLogTable.bucketColAt(0),
        TxLogTable.bucketColAt(1)),
      bucketSpecs = Seq(("id", 2), ("g", 2)))
    val srcDir = java.nio.file.Files.createTempDirectory("txsink-gsrc")
      .toString
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("id", "g", "v").write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream.schema(schema2).parquet(srcDir)
      .writeStream.format("txlog")
      .option("path", dstRoot)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txsink-gck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(dst.entries(None).nonEmpty &&
        dst.entries(None).forall(e => e.rel.startsWith("_bkt=") &&
          e.rel.contains("/_bkt1=")),
        dst.entries(None).map(_.rel).toString)
      assert(dst.snapshot(schema2).collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sink fences a replayed batch id (exactly-once on recovery)") {
    val ctx = spark.sqlContext
    val dstRoot = java.nio.file.Files.createTempDirectory("txsink-fence")
      .resolve("t").toString
    val sink = new TxLogStreamSink(ctx, dstRoot, Nil)
    val batch = Seq((1L, "a")).toDF("id", "v")
    sink.addBatch(7L, batch)
    sink.addBatch(7L, batch) // replayed epoch after simulated crash
    val dst = TxLogTable(spark, dstRoot)
    assert(dst.snapshot(schema).count() == 1)
    assert(dst.versions.size == 1)
    sink.addBatch(8L, Seq((2L, "b")).toDF("id", "v"))
    assert(dst.snapshot(schema).count() == 2)
  }

  test("fence is per-query: two writers' equal batch ids don't collide") {
    val ctx = spark.sqlContext
    val dstRoot = java.nio.file.Files.createTempDirectory("txsink-fence2")
      .resolve("t").toString
    // two streaming queries appending to ONE table, both at batch 0 —
    // fencing on batchId alone would silently drop the second query's
    // batch as a "replay"; the (queryId, batchId) fence must not
    val a = new TxLogStreamSink(ctx, dstRoot, Nil, Some("query-a"))
    val b = new TxLogStreamSink(ctx, dstRoot, Nil, Some("query-b"))
    a.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    b.addBatch(0L, Seq((2L, "b")).toDF("id", "v"))
    val dst = TxLogTable(spark, dstRoot)
    assert(dst.snapshot(schema).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    // while each query's own replay is still fenced
    a.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    assert(dst.snapshot(schema).count() == 2)
  }

  test("maintenance commits don't replay the table into the stream") {
    // every layout rewrite re-lays files without changing a row, so the
    // consumer must see NOTHING (a blind file-set diff would re-deliver
    // the rewritten rows). The fixture is bucketed (rebucket), sorted for
    // resort and unsorted for the z-orders (they refuse sortCols). Two
    // single-task appends with nested id ranges leave every bucket dir
    // two files whose ranges overlap — work for compactSmall,
    // compactWhere and resort alike
    val layout = Seq(TxLogTable.BucketCol)
    val allBuckets = Map(TxLogTable.BucketCol -> (0 until 4).map(_.toString)
      .toSet)
    val ops: Seq[(String, Boolean, TxLogTable => Any)] = Seq(
      ("compact", true, _.compact(schema)),
      ("compact-small", true, _.compactSmall(schema, minBytes = 1L << 40)),
      ("compact-where", true, _.compactWhere(schema, allBuckets)),
      ("resort", true, _.resort(schema)),
      ("rebucket", true, _.rebucket(schema, 8)),
      ("zorder", false, _.compactZOrder(schema, "id", "v")),
      ("zorder-where", false,
        _.compactZOrderWhere(schema, allBuckets, Seq("id", "v"))))
    ops.foreach { case (op, sorted, rewrite) =>
      withClue(s"$op: ") {
        val base = java.nio.file.Files.createTempDirectory("txstream-maint")
        val t = TxLogTable(spark, base.resolve("t").toString)
        t.create(schema, partitionCols = layout, bucketSpecs = Seq(("id", 4)),
          sortCols = if (sorted) Seq("id") else Nil)
        Seq((1L to 10L) ++ (31L to 40L), 11L to 30L).foreach(ids =>
          t.commit(ids.map(i => (i, s"r$i")).toDF("id", "v").coalesce(1),
            overwrite = false, partitionCols = layout))
        val mem = "maint_skip_" + op.replace('-', '_')
        val q = spark.readStream.format("txlog").schema(schema).load(t.root)
          .writeStream.format("memory").queryName(mem)
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .start()
        try {
          q.processAllAvailable()
          assert(spark.table(mem).count() == 40)
          val before = t.latestVersion.get
          rewrite(t)
          assert(t.versions.last == before + 1 &&
            t.opOf(before + 1).contains(op), "the rewrite committed")
          q.processAllAvailable()
          assert(spark.table(mem).count() == 40,
            s"$op replayed the table into the stream")
          // a REAL append after the rewrite surfaces exactly its own rows
          // (the skipped version still anchors the next diff)
          t.commit(Seq((100L, "c")).toDF("id", "v"),
            overwrite = false, partitionCols = layout)
          q.processAllAvailable()
          val rows = spark.table(mem).collect()
          assert(rows.length == 41 &&
            rows.map(_.getLong(0)).toSet == (1L to 40L).toSet + 100L)
        } finally q.stop()
      }
    }
  }

  test("includeMaintenance=true opts back into the raw file feed") {
    val base = java.nio.file.Files.createTempDirectory("txstream-maint2")
    val t = TxLogTable(spark, base.resolve("t").toString)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    val mem = "maint_raw_feed"
    val q = spark.readStream.format("txlog").schema(schema)
      .option("includeMaintenance", "true").load(t.root)
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(mem).count() == 2)
      t.compact(schema)
      q.processAllAvailable()
      // raw physical-file consumers see the rewrite's files re-delivered
      assert(spark.table(mem).count() == 4)
    } finally q.stop()
  }

  test("batch changesBetween keeps the raw feed unless asked to skip") {
    val t = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txcdc-maint")
        .resolve("t").toString)
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    t.compact(schema)
    // default: the rewrite's files are the version's delta (raw contract)
    assert(t.changesBetween(schema, 0, 1).count() == 1)
    // skipRewrites: the logical content didn't change → zero rows
    assert(t.changesBetween(schema, 0, 1, skipRewrites = true).count() == 0)
  }

  test("startingVersion skips the initial snapshot; 'latest' pins now") {
    val base = java.nio.file.Files.createTempDirectory("txstream-sv")
    val t = TxLogTable(spark, base.resolve("t").toString)
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)   // v0
    t.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)  // v1
    t.commit(Seq((3L, "c")).toDF("id", "v"), overwrite = false)  // v2
    val mem = "sv_feed"
    val q = spark.readStream.format("txlog").schema(schema)
      .option("startingVersion", "1").load(t.root)
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", base.resolve("ck1").toString)
      .start()
    try {
      q.processAllAvailable()
      // versions >= 1 only: the v0 snapshot never replays
      assert(spark.table(mem).collect().map(_.getLong(0)).toSet ==
        Set(2L, 3L))
    } finally q.stop()
    // "latest": nothing until a NEW commit lands
    val mem2 = "sv_latest_feed"
    val q2 = spark.readStream.format("txlog").schema(schema)
      .option("startingVersion", "latest").load(t.root)
      .writeStream.format("memory").queryName(mem2)
      .option("checkpointLocation", base.resolve("ck2").toString)
      .start()
    try {
      q2.processAllAvailable()
      assert(spark.table(mem2).count() == 0)
      t.commit(Seq((4L, "d")).toDF("id", "v"), overwrite = false)
      q2.processAllAvailable()
      assert(spark.table(mem2).collect().map(_.getLong(0)).toSet ==
        Set(4L))
    } finally q2.stop()
  }

  test("startingVersion catch-up respects maxVersionsPerTrigger") {
    val base = java.nio.file.Files.createTempDirectory("txstream-svcap")
    val t = TxLogTable(spark, base.resolve("t").toString)
    (0 to 6).foreach(i =>
      t.commit(Seq((i.toLong, s"v$i")).toDF("id", "v"),
        overwrite = i == 0))
    val dst = base.resolve("dst").toString
    // a stream starting at v1 with a 6-version backlog must drain it in
    // capped micro-batches, not one mega-batch — the snapshot-must-be-
    // one-batch argument doesn't apply to an explicitly incremental start
    val q = spark.readStream.format("txlog").schema(schema)
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "2")
      .load(t.root)
      .writeStream.format("txlog").option("path", dst)
      .option("checkpointLocation", base.resolve("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(TxLogTable(spark, dst).snapshot(schema).collect()
        .map(_.getLong(0)).toSet == (1L to 6L).toSet)
      val caught = q.recentProgress.filter(_.numInputRows > 0)
      assert(caught.length == 3 && caught.forall(_.numInputRows <= 2),
        q.recentProgress.map(pr => s"batch ${pr.batchId}: " +
          s"${pr.numInputRows} rows").mkString("; "))
    } finally q.stop()
  }

  test("maxBytesPerTrigger paces catch-up by manifest-diff weight") {
    val base = java.nio.file.Files.createTempDirectory("txstream-bcap")
    val t = TxLogTable(spark, base.resolve("t").toString)
    // v0..v6: one seed + 6 backlog commits of ~equal byte weight
    (0 to 6).foreach(i =>
      t.commit((1 to 50).map(j => (i * 100L + j, s"v$i-$j"))
        .toDF("id", "v"), overwrite = i == 0))
    val oneVersionBytes = t.addedBytesBetween(5, 6,
      skipRewrites = true).head._2
    val dst = base.resolve("dst").toString
    // cap ≈ 2.2 versions' bytes (versions differ by a few bytes, so an
    // exact 2x would be a knife-edge): the 6-version backlog from v1
    // must drain in 3 byte-capped batches of exactly 2 versions
    val q = spark.readStream.format("txlog").schema(schema)
      .option("startingVersion", "1")
      .option("maxBytesPerTrigger", (22 * oneVersionBytes / 10).toString)
      .load(t.root)
      .writeStream.format("txlog").option("path", dst)
      .option("checkpointLocation", base.resolve("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(TxLogTable(spark, dst).snapshot(schema).count() == 300)
      val caught = q.recentProgress.filter(_.numInputRows > 0)
      assert(caught.length == 3 && caught.forall(_.numInputRows <= 100),
        q.recentProgress.map(pr => s"batch ${pr.batchId}: " +
          s"${pr.numInputRows} rows").mkString("; "))
    } finally q.stop()
    // progress guarantee: a cap SMALLER than any single commit still
    // advances one version per trigger
    val dst2 = base.resolve("dst2").toString
    val q2 = spark.readStream.format("txlog").schema(schema)
      .option("startingVersion", "1")
      .option("maxBytesPerTrigger", "1")
      .load(t.root)
      .writeStream.format("txlog").option("path", dst2)
      .option("checkpointLocation", base.resolve("ck2").toString)
      .start()
    try {
      q2.processAllAvailable()
      assert(TxLogTable(spark, dst2).snapshot(schema).count() == 300)
      val caught = q2.recentProgress.filter(_.numInputRows > 0)
      assert(caught.length == 6 && caught.forall(_.numInputRows == 50),
        q2.recentProgress.map(pr => s"batch ${pr.batchId}: " +
          s"${pr.numInputRows} rows").mkString("; "))
    } finally q2.stop()
  }

  test("startingTimestamp resolves to the first version at-or-after it") {
    val base = java.nio.file.Files.createTempDirectory("txstream-st")
    val t = TxLogTable(spark, base.resolve("t").toString)
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)   // v0
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)  // v1
    val mem = "st_feed"
    val q = spark.readStream.format("txlog").schema(schema)
      .option("startingTimestamp", mid.toString).load(t.root)
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", base.resolve("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      // only the post-timestamp commit flows
      assert(spark.table(mem).collect().map(_.getLong(0)).toSet ==
        Set(2L))
    } finally q.stop()
    // AT-OR-AFTER boundary (the public Delta contract): a stream whose
    // ts equals v1's recorded commit instant exactly still includes v1
    val v1Millis = t.history().find(_.version == 1)
      .flatMap(_.commitMillis).get
    val q2 = spark.readStream.format("txlog").schema(schema)
      .option("startingTimestamp", v1Millis.toString).load(t.root)
      .writeStream.format("memory").queryName("st_feed_eq")
      .option("checkpointLocation", base.resolve("ck_eq").toString)
      .start()
    try {
      q2.processAllAvailable()
      assert(spark.table("st_feed_eq").collect()
        .map(_.getLong(0)).toSet == Set(2L),
        "a commit at exactly startingTimestamp must be included")
    } finally q2.stop()
    // both knobs at once is refused loudly
    intercept[Exception] {
      spark.readStream.format("txlog").schema(schema)
        .option("startingVersion", "1")
        .option("startingTimestamp", mid.toString).load(t.root)
        .writeStream.format("memory").queryName("st_both")
        .option("checkpointLocation", base.resolve("ck2").toString)
        .start().processAllAvailable()
    }
  }

  test("readChangeFeed streams deletes as keys-only CDC rows") {
    val base = java.nio.file.Files.createTempDirectory("txstream-cdf")
    val t = TxLogTable(spark, base.resolve("t").toString)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    val mem = "cdf_feed"
    val q = spark.readStream.format("txlog").schema(schema)
      .option("readChangeFeed", "true").load(t.root)
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", base.resolve("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(mem).columns.toSeq ==
        Seq("id", "v", "_commit_version", "_change_type"))
      assert(spark.table(mem).collect()
        .map(r => (r.getLong(0), r.getString(3))).toSet ==
        Set((1L, "insert"), (2L, "insert")))
      // a MOR delete surfaces as a keys-only 'delete' row
      t.deleteByKeysMor(Seq(1L).toDF("id"))
      t.commit(Seq((3L, "c")).toDF("id", "v"), overwrite = false)
      q.processAllAvailable()
      val rows = spark.table(mem).collect()
        .map(r => (r.getLong(0), r.getString(3)))
      assert(rows.count(_ == (1L, "delete")) == 1, rows.mkString(","))
      assert(rows.toSet.contains((3L, "insert")))
      // the keyed-state consumer's view: inserts minus deleted keys
      val liveKeys = spark.table(mem).collect()
        .foldLeft(Set.empty[Long]) { (acc, r) =>
          if (r.getString(3) == "insert") acc + r.getLong(0)
          else acc - r.getLong(0) }
      assert(liveKeys == Set(2L, 3L))
    } finally q.stop()
  }

  test("streaming property: random append/maintenance programs drain " +
      "to exactly the table's rows — no replay, no loss") {
    // the maintenance-skip contract, property-style: whatever mix of
    // appends, compacts, zorders and (bucketed-table) rebuckets commits
    // while a stream drains, the sink must end holding EXACTLY the
    // appended rows — a maintenance replay would duplicate, an
    // over-eager skip would lose
    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 2) {
      val base = java.nio.file.Files.createTempDirectory(
        s"txstream-prop$trial")
      val t = TxLogTable(spark, base.resolve("t").toString)
      val layout = Seq(TxLogTable.BucketCol)
      t.create(schema, partitionCols = layout, bucketSpecs = Seq(("id", 4)))
      var expect = Set.empty[Long]
      var nextId = 0L
      def append(): Unit = {
        val ids = (nextId until nextId + 1 + rnd.nextInt(4)).toList
        nextId += ids.length
        t.commit(ids.map(i => (i, s"r$i")).toDF("id", "v"),
          overwrite = false, partitionCols = layout)
        expect ++= ids
      }
      append() // seed before the stream starts
      val mem = s"stream_prop_$trial"
      val q = spark.readStream.format("txlog").schema(schema).load(t.root)
        .writeStream.format("memory").queryName(mem)
        .option("checkpointLocation", base.resolve("ck").toString)
        .start()
      try {
        (1 to 8).foreach { _ =>
          rnd.nextInt(5) match {
            case 0 | 1 | 2 => append()
            case 3 => if (rnd.nextBoolean()) t.compact(schema)
                      else t.rebucket(schema, 2 + rnd.nextInt(7))
            case 4 => q.processAllAvailable() // drain mid-program
          }
        }
        q.processAllAvailable()
        val got = spark.table(mem).collect().map(_.getLong(0))
        assert(got.length == expect.size && got.toSet == expect,
          s"trial $trial: stream drained ${got.length} rows " +
            s"(${got.toSet.size} distinct) vs ${expect.size} appended")
      } finally q.stop()
    }
  }

  test("inferred schema matches the batch connector's") {
    val t = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txstream2")
        .resolve("t").toString)
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val stream = spark.readStream.format("txlog").load(t.root)
    val batch = spark.read.format("txlog").load(t.root)
    assert(stream.schema == batch.schema && stream.isStreaming)
  }

  test("maxVersionsPerTrigger paces catch-up without losing rows") {
    val base = java.nio.file.Files.createTempDirectory("txstream-cap")
    val t = TxLogTable(spark, base.resolve("t").toString)
    t.commit(Seq((0L, "s")).toDF("id", "v"), overwrite = true)
    val dst = base.resolve("dst").toString
    val ckpt = base.resolve("ckpt").toString
    // memory sink cannot recover a checkpoint; the txlog sink can — the
    // restart IS the scenario under test
    def run() = spark.readStream.format("txlog").schema(schema)
      .option("maxVersionsPerTrigger", "2")
      .load(t.root)
      .writeStream.format("txlog").option("path", dst)
      .option("checkpointLocation", ckpt)
      .start()
    // phase 1: drain the initial snapshot (one consistent batch), stop
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(TxLogTable(spark, dst).snapshot(schema).count() == 1)
    // phase 2: 6 versions commit while NO consumer runs — the backlog a
    // resumed stream faces. The restarted query must drain it in
    // ceil(6/2) = 3 capped micro-batches, not one mega-batch (and the
    // recovery re-sync must seed the cap from the CHECKPOINTED offset,
    // not from zero).
    (1 to 6).foreach(i =>
      t.commit(Seq((i.toLong, s"v$i")).toDF("id", "v"), overwrite = false))
    val q2 = run()
    try {
      q2.processAllAvailable()
      assert(TxLogTable(spark, dst).snapshot(schema).collect()
        .map(_.getLong(0)).toSet == (0L to 6L).toSet)
      val caught = q2.recentProgress.filter(_.numInputRows > 0)
      assert(caught.length == 3 && caught.forall(_.numInputRows <= 2),
        q2.recentProgress.map(pr => s"batch ${pr.batchId}: " +
          s"${pr.numInputRows} rows").mkString("; "))
    } finally q2.stop()
  }

  test("stream maintains a vacuum cursor per checkpoint; survives vacuum") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txcur-src")
        .resolve("t").toString)
    val dstRoot = java.nio.file.Files.createTempDirectory("txcur-dst")
      .resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("txcur-ck").toString
    src.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    def run(): Unit = {
      val q = spark.readStream.format("txlog").schema(schema).load(src.root)
        .writeStream.format("txlog")
        .option("path", dstRoot)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // the pin registered itself at stream creation, named from the
    // checkpoint — no consumer-side bookkeeping required
    val cs = src.cursors()
    assert(cs.size == 1 && cs.keys.head.startsWith("ckpt-"),
      s"expected one auto-registered checkpoint cursor, got $cs")
    src.commit(Seq((3L, "c")).toDF("id", "v"), overwrite = false)
    run()
    val pinned = src.cursors().values.head.version
    // source.commit lags one batch by engine design: the pin is at or
    // BEHIND the processed offset, never ahead — conservative is safe
    assert(pinned >= -1 && pinned <= 1, s"cursor at $pinned")
    // the table moves on while the stream is down; an aggressive vacuum
    // (keep=1, no time retention) must still spare the pinned window
    src.commit(Seq((4L, "d")).toDF("id", "v"), overwrite = false)
    src.commit(Seq((5L, "e")).toDF("id", "v"), overwrite = false)
    val before = src.versions
    src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(src.versions.head <= math.max(pinned, 0),
      s"vacuum reclaimed the cursor's window: ${src.versions} vs $pinned")
    assert(src.versions.last == before.last)
    // restart from the checkpoint: the feed resumes across the vacuum
    // without the horizon refusal, exactly once
    run()
    val dst = TxLogTable(spark, dstRoot)
    val got = dst.snapshot(schema).collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(1L, 2L, 3L, 4L, 5L), s"lost/duplicated rows: $got")
    // decommissioning: release the pin, history becomes reclaimable
    assert(src.releaseCursor(src.cursors().keys.head))
    src.vacuum(keep = 1, minAgeMillis = 0L, retainMillis = 0L)
    assert(src.versions.size == 1)
  }

  test("option(cursor=false) opts out of the vacuum pin") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txnocur-src")
        .resolve("t").toString)
    src.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val q = spark.readStream.format("txlog").schema(schema)
      .option("cursor", "false").load(src.root)
      .writeStream.format("memory").queryName("txlog_nocursor")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txnocur-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("txlog_nocursor").count() == 1)
      assert(src.cursors().isEmpty,
        "an opted-out ephemeral stream must not pin history")
    } finally q.stop()
  }

  test("option(cursorName) names the pin explicitly") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txnamed-src")
        .resolve("t").toString)
    src.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val q = spark.readStream.format("txlog").schema(schema)
      .option("cursorName", "replica-eu").load(src.root)
      .writeStream.format("memory").queryName("txlog_named_cursor")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txnamed-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(src.cursors().keySet == Set("replica-eu"))
    } finally q.stop()
  }

  test("stream keeps flowing across a mid-stream rename (pinned schema)") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txren-src")
        .resolve("t").toString)
    src.create(schema)
    src.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = false)
    val q = spark.readStream.format("txlog").schema(schema).load(src.root)
      .writeStream.format("memory").queryName("txlog_midrename")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txren-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("txlog_midrename").count() == 1)
      // rename mid-stream: the run's schema is PINNED (V1 Source
      // contract), so rows committed under the new logical name keep
      // arriving under the old one — physical bytes are unchanged and
      // the colmap maps both logical names onto the same physical column
      src.renameColumn("v", "w")
      src.commit(Seq((2L, "b")).toDF("id", "w"), overwrite = false)
      q.processAllAvailable()
      val got = spark.table("txlog_midrename").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b")), s"got $got")
    } finally q.stop()
  }

  test("plain stream fails loudly on a row-changing commit, naming the " +
      "ways out") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txcow-fail")
        .resolve("t").toString)
    src.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1), overwrite = true)
    val q = spark.readStream.format("txlog").schema(schema).load(src.root)
      .writeStream.format("memory").queryName("txlog_cow_fail")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txcow-fck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("txlog_cow_fail").count() == 3)
      // a COW delete rewrites the file in place: the append-only stream
      // must refuse rather than re-deliver carried rows / lose deletes
      src.deleteWhere(schema,
        org.apache.spark.sql.functions.col("id") === 2L)
      val ex = intercept[Exception] { q.processAllAvailable() }
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("readChangeFeed") &&
        msg.contains("skipChangeCommits") && msg.contains("ignoreChanges"),
        s"guidance missing from: $msg")
    } finally q.stop()
  }

  test("skipChangeCommits skips row-changing commits; ignoreChanges " +
      "re-delivers rewritten files") {
    import org.apache.spark.sql.functions.col
    def drive(opt: String): Seq[Long] = {
      val src = TxLogTable(spark,
        java.nio.file.Files.createTempDirectory(s"txcow-$opt")
          .resolve("t").toString)
      src.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .coalesce(1), overwrite = true)
      val mem = s"txlog_cow_$opt"
      val q = spark.readStream.format("txlog").schema(schema)
        .option(opt, "true").load(src.root)
        .writeStream.format("memory").queryName(mem)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"txcow-$opt-ck")
            .toString)
        .start()
      try {
        q.processAllAvailable()
        src.deleteWhere(schema, col("id") === 2L) // rewrites the file
        src.commit(Seq((4L, "d")).toDF("id", "v"), overwrite = false)
        q.processAllAvailable()
        spark.table(mem).collect().map(_.getLong(0)).toSeq.sorted
      } finally q.stop()
    }
    // skip: the delete commit contributes nothing — downstream keeps the
    // deleted row (the documented trade of this mode), nothing re-arrives
    assert(drive("skipChangeCommits") == Seq(1L, 2L, 3L, 4L))
    // ignore: the rewritten file's carried rows re-arrive as inserts
    assert(drive("ignoreChanges") == Seq(1L, 1L, 2L, 3L, 3L, 4L))
  }

  test("streaming sink with mergeSchema evolves the target mid-stream") {
    val srcDir = java.nio.file.Files.createTempDirectory("txdrift-src")
      .toString
    val dstRoot = java.nio.file.Files.createTempDirectory("txdrift-dst")
      .resolve("t").toString
    val dst = TxLogTable(spark, dstRoot)
    dst.create(StructType(Seq(StructField("id", LongType),
      StructField("v", StringType))))
    val wide = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("score", LongType)))
    // upstream already drifted: it ships a column the target lacks
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "score")
      .write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream.schema(wide).parquet(srcDir)
      .writeStream.format("txlog")
      .option("path", dstRoot)
      .option("mergeSchema", "true")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txdrift-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(dst.tableSchema.get.fieldNames.toSeq ==
        Seq("id", "v", "score"))
      val got = dst.snapshot(wide).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set((1L, "a", 10L), (2L, "b", 20L)), s"$got")
    } finally q.stop()
  }

  test("mid-stream type widening fails the pinned stream with guidance") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txwiden-src")
        .resolve("t").toString)
    val narrow = StructType(Seq(StructField("id", LongType),
      StructField("n", IntegerType)))
    src.create(narrow)
    src.commit(Seq((1L, 7)).toDF("id", "n"), overwrite = false)
    val ckpt = java.nio.file.Files.createTempDirectory("txwiden-ck")
      .toString
    val dstRoot = java.nio.file.Files.createTempDirectory("txwiden-dst")
      .resolve("t").toString
    val q = spark.readStream.format("txlog").schema(narrow).load(src.root)
      .writeStream.format("txlog").option("path", dstRoot)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(TxLogTable(spark, dstRoot).snapshot(narrow).count() == 1)
      // widen mid-stream: post-widen files are physically LONG, which
      // the run's pinned INT schema cannot read — the failure must name
      // the column and the fix, not die in a task with a convert error
      src.widenColumn("n", LongType)
      src.commit(Seq((2L, 5000000000L)).toDF("id", "n"),
        overwrite = false)
      val ex = intercept[Exception] { q.processAllAvailable() }
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("widened") && msg.contains("restart"),
        s"guidance missing: $msg")
    } finally q.stop()
    // the prescribed restart (schema re-inferred = widened) drains the
    // missed delta from the same checkpoint, exactly once
    val wide = StructType(Seq(StructField("id", LongType),
      StructField("n", LongType)))
    val q2 = spark.readStream.format("txlog").load(src.root)
      .writeStream.format("txlog").option("path", dstRoot)
      .option("mergeSchema", "true") // dst must widen too
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q2.processAllAvailable()
      val got = TxLogTable(spark, dstRoot).snapshot(wide).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 7L), (2L, 5000000000L)),
        s"restart must drain exactly the missed delta: $got")
    } finally q2.stop()
  }

  test("ADDITIVE column mid-stream: the running query keeps consuming; " +
      "an evolved consumer reads pre-add files as NULL") {
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("txadd-src")
        .resolve("t").toString)
    val base = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    src.create(base)
    src.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      overwrite = false)
    val mem = "schema_add_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("txlog").schema(base).load(src.root)
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txadd-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      // evolve ADDITIVELY mid-stream — unlike widening, this must NOT
      // fail the pinned stream: physical bytes of the pinned columns
      // are unchanged, the new column is simply not selected
      src.addColumn("tag", StringType)
      src.commit(Seq((3L, "c", "t3")).toDF("id", "v", "tag"),
        overwrite = false)
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"additive evolution failed the stream: ${q.exception}")
      val got = spark.table(mem).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")),
        s"pinned stream must keep consuming post-add commits: $got")
    } finally q.stop()
    // the evolved consumer: pre-add files' rows carry NULL for the new
    // column — no file was rewritten for the evolution
    val evolved = src.tableSchema.get
    assert(evolved.fieldNames.toSeq == Seq("id", "v", "tag"))
    val mem2 = mem + "_evolved"
    val q2 = spark.readStream.format("txlog").schema(evolved)
      .load(src.root)
      .writeStream.format("memory").queryName(mem2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txadd-ck2").toString)
      .start()
    try {
      q2.processAllAvailable()
      val got = spark.table(mem2).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set((1L, "a", null), (2L, "b", null),
        (3L, "c", "t3")),
        s"pre-add rows must flow with the new column NULL: $got")
    } finally q2.stop()
  }
}
