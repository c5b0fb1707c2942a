package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unit matrix for the merge/SCD operators (SURVEY §5.1): partial update-sets
  * U1–U8 including null-overwrite-on-conflict, and all four SCD2 branches
  * plus the invariants (≤1 open row per id, non-overlapping intervals).
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("upsert: update-set overwrites (even with null), others frozen") {
    val cur = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "score")
    val inc = Seq((2L, "B", 99), (3L, "c", 30)).toDF("id", "name", "score")
      .withColumn("score", when($"id" === 2, lit(null)).otherwise($"score"))
    val out = Upsert(cur, inc, Seq("id"), Seq("score")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(out == Set(
      (1L, "a", Some(10)),   // untouched
      (2L, "b", None),       // name frozen; score overwritten WITH NULL
      (3L, "c", Some(30))))  // new row takes full incoming
  }

  test("insertIfAbsent never touches existing rows") {
    val cur = Seq((1L, "keep")).toDF("id", "v")
    val inc = Seq((1L, "clobber"), (2L, "new")).toDF("id", "v")
    val out = Upsert.insertIfAbsent(cur, inc, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "keep"), (2L, "new")))
  }

  test("deleteInsert replaces exactly the incoming key slices") {
    val cur = Seq((1L, "x1"), (1L, "x2"), (2L, "y1"), (3L, "z1"))
      .toDF("k", "v")
    val inc = Seq((1L, "new1"), (4L, "w1")).toDF("k", "v")
    val out = Upsert.deleteInsert(cur, inc, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "new1"), (2L, "y1"), (3L, "z1"), (4L, "w1")))
  }

  test("scd2: four-branch matrix and interval invariants") {
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-06-01 00:00:00")
    val dim = Seq(
      (1L, "same", 5), (2L, "tracked-old", 5), (3L, "t1-change", 5),
      (4L, "gone", 5)).toDF("id", "name", "cnt")
      .withColumn("valid_from", lit(t1))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val snap = Seq(
      (1L, "same", 5), (2L, "tracked-NEW", 5), (3L, "t1-change", 7),
      (5L, "brand-new", 1)).toDF("id", "name", "cnt")
    val out = Scd2(dim, snap, "id", Seq("name"), Seq("cnt"), lit(t2))
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getInt(2), r.getTimestamp(3), Option(r.getTimestamp(4)))).toSet
    assert(rows == Set(
      (1L, "same", 5, t1, None),                 // unchanged
      (2L, "tracked-old", 5, t1, Some(t2)),      // (b) closed
      (2L, "tracked-NEW", 5, t2, None),          // (b) new version
      (3L, "t1-change", 7, t1, None),            // (c) in place, vf kept
      (4L, "gone", 5, t1, Some(t2)),             // (d) soft delete
      (5L, "brand-new", 1, t2, None)))           // (a) insert
    // invariants: ≤1 open row per id; closed rows end at the run ts
    val byId = rows.groupBy(_._1)
    assert(byId.values.forall(_.count(_._5.isEmpty) <= 1))
  }

  test("scd2: tracked change wins over simultaneous type1 change") {
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-06-01 00:00:00")
    val dim = Seq((1L, "old", 5)).toDF("id", "name", "cnt")
      .withColumn("valid_from", lit(t1))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val snap = Seq((1L, "new", 9)).toDF("id", "name", "cnt")
    val rows = Scd2(dim, snap, "id", Seq("name"), Seq("cnt"), lit(t2))
      .collect().map(r => (r.getString(1), r.getInt(2),
        Option(r.getTimestamp(4)))).toSet
    // new version carries the snapshot's type1 value too
    assert(rows == Set(("old", 5, Some(t2)), ("new", 9, None)))
  }

  test("versionedAppend closes only the arriving keys") {
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-06-01 00:00:00")
    val cur = Seq(("a", "g", "v1"), ("b", "g", "v1")).toDF("k", "t", "data")
      .withColumn("valid_from", lit(t1))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val inc = Seq(("a", "g", "v2")).toDF("k", "t", "data")
    val out = Scd2.versionedAppend(cur, inc, Seq("k", "t"), lit(t2))
      .collect().map(r => (r.getString(0), r.getString(2),
        Option(r.getTimestamp(4)))).toSet
    assert(out == Set(
      ("a", "v1", Some(t2)), ("a", "v2", None), ("b", "v1", None)))
    // a retry at the same run instant replaces that run's open version
    val again = Scd2.versionedAppend(
      Scd2.versionedAppend(cur, inc, Seq("k", "t"), lit(t2)),
      Seq(("a", "g", "v3")).toDF("k", "t", "data"), Seq("k", "t"), lit(t2))
      .collect().map(r => (r.getString(0), r.getString(2),
        Option(r.getTimestamp(4)))).toSet
    assert(again == Set(
      ("a", "v1", Some(t2)), ("a", "v3", None), ("b", "v1", None)))
  }

  test("SemDedup.apply derives k from the corpus and equals pinned-k core") {
    implicit val sp = spark
    // 12 vectors in 3 well-separated directions -> near-dups inside each
    val vecs = (0 until 12).map { i =>
      val base = Array.fill(4)(0.0f)
      base(i % 3) = 1.0f
      base((i % 3 + 1) % 4) = 0.01f * (i / 3)   // tiny per-copy jitter
      (i.toLong, base.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    assert(SemDedup.kFor(12L, 4L) == 3 && SemDedup.kFor(1L, 4L) == 1 &&
      SemDedup.kFor(13L, 4L) == 4)
    val derived = SemDedup(emb, tau = 0.9, targetCell = 4L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val pinned = SemDedup.withK(emb, k = SemDedup.kFor(12L, 4L), tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(derived == pinned)
    // keep-first: every cluster keeps at least its lowest id; dups die
    assert(derived.count(_._2) < 12 && derived(0L))
  }

  test("AnnIndex.refresh: no-op at head, refuses a tombstoned corpus") {
    implicit val sp = spark
    val vecs = (0L until 16L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f + 0.01f * i
      (i, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ann-rf")
    val corpus = graft.sources.TxLogTable(spark,
      tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    AnnIndex.build(spark, corpus.root, idx, emb.schema, k = 4,
      iterations = 2, pq = true)
    // at head: a refresh is a clean no-op, pin unchanged
    assert(AnnIndex.refresh(spark, idx) == (corpus.latestVersion.get, 0L))
    // PQ codes append on refresh too, against the PERSISTED codebook
    val before = graft.sources.TxLogTable(spark, s"$idx/codes")
      .snapshot(AnnIndex.codesSchema).count()
    corpus.commit(Seq((100L, vecs(1)._2)).toDF("vec_id", "embedding"),
      overwrite = false)
    val (_, added) = AnnIndex.refresh(spark, idx)
    assert(added == 1L)
    assert(graft.sources.TxLogTable(spark, s"$idx/codes")
      .snapshot(AnnIndex.codesSchema).count() == before + 1)
    // an identical copy routes to its twin's cell (same centroids)
    val a = graft.sources.TxLogTable(spark, s"$idx/assignments")
      .snapshot(AnnIndex.assignmentsSchema).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a(100L) == a(1L), s"copy must land in its twin's cell: $a")
    // a vec_id-keyed MOR delete ABSORBS incrementally: the departed id
    // masks out of assignments AND the code tables (the phantom-neighbor
    // hole PQ/SQ8 ranking would otherwise keep), pin advances
    corpus.deleteByKeysMor(Seq(2L).toDF("vec_id"))
    val (v2, added2) = AnnIndex.refresh(spark, idx)
    assert(v2 == corpus.latestVersion.get && added2 == 0L, (v2, added2))
    val after = graft.sources.TxLogTable(spark, s"$idx/assignments")
      .snapshot(AnnIndex.assignmentsSchema).collect().map(_.getLong(0))
    assert(!after.contains(2L), "deleted vec must leave assignments")
    assert(!graft.sources.TxLogTable(spark, s"$idx/codes")
      .snapshot(AnnIndex.codesSchema).collect().map(_.getLong(0))
      .contains(2L), "deleted vec must leave the PQ codes")
    // a DV UPDATE re-routes the new embedding under the same id
    corpus.updateWherePos(emb.schema, col("vec_id") === 3L,
      Seq("embedding" -> typedLit(vecs(8)._2)))
    val (v3, added3) = AnnIndex.refresh(spark, idx)
    assert(v3 == corpus.latestVersion.get && added3 == 1L, (v3, added3))
    val rows3 = graft.sources.TxLogTable(spark, s"$idx/assignments")
      .snapshot(AnnIndex.assignmentsSchema).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(rows3.count(_._1 == 3L) == 1,
      s"an update must not duplicate the id: ${rows3.toSeq}")
    val a3 = rows3.toMap
    assert(a3(3L) == a3(8L), s"updated vec must route to its new cell: $a3")
    // mask hygiene: a refresh whose tombstones cross the threshold
    // folds the index tables' masks with one compact — the masked rows
    // materialize away and the id set stays exact
    corpus.deleteByKeysMor(Seq(5L).toDF("vec_id"))
    AnnIndex.refresh(spark, idx, maxMaskFiles = 0)
    val asgT = graft.sources.TxLogTable(spark, s"$idx/assignments")
    assert(asgT.tombstonesOf(asgT.latestVersion.get).isEmpty,
      "masks past the threshold must fold")
    val ids = asgT.snapshot(AnnIndex.assignmentsSchema).collect()
      .map(_.getLong(0)).toSet
    assert(!ids.contains(5L) && !ids.contains(2L) && ids.contains(3L))
    // an overwrite is NOT exactly replayable: refuse with the rebuild
    // instruction (refreshAuto turns this into a retrain)
    corpus.commit(emb, overwrite = true)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.refresh(spark, idx) }
    assert(e.getMessage.contains("rebuild the index"), e.getMessage)
  }

  test("AnnIndex.status + refreshAuto: the drift ledger accounts routed " +
    "windows, the threshold reroutes into a retrain (ledger reset), and " +
    "a tombstoned window retrains instead of refusing") {
    implicit val sp = spark
    val vecs = (0L until 20L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f + 0.01f * i
      (i, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ann-st")
    val corpus = graft.sources.TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    AnnIndex.buildAuto(spark, corpus.root, idx, emb.schema,
      iterations = 2, targetCell = 8L, pq = false)
    val st0 = AnnIndex.status(spark, idx)
    assert(st0.routedSinceTrain == 0L && st0.totalVectors == 20L &&
      st0.pinnedVersion == st0.corpusVersion, st0)
    // 2 new vectors: 2/22 < 0.4 → routed; ledger accounts them
    corpus.commit(Seq((100L, vecs(1)._2), (101L, vecs(2)._2))
      .toDF("vec_id", "embedding"), overwrite = false)
    val (v1, n1, a1) = AnnIndex.refreshAuto(spark, idx, 0.4)
    assert(a1 == "routed" && n1 == 2L &&
      v1 == corpus.latestVersion.get, (v1, n1, a1))
    val st1 = AnnIndex.status(spark, idx)
    assert(st1.routedSinceTrain == 2L && st1.totalVectors == 22L &&
      st1.routedFrac > 0.0, st1)
    // doubling the corpus crosses 0.4 → retrained, ledger reset, k
    // re-derived for the grown corpus through the recorded targetCell
    corpus.commit(vecs.map { case (i, v) => (i + 1000L, v) }
      .toDF("vec_id", "embedding"), overwrite = false)
    val (v2, _, a2) = AnnIndex.refreshAuto(spark, idx, 0.4)
    assert(a2 == "retrained" && v2 == corpus.latestVersion.get, (v2, a2))
    val st2 = AnnIndex.status(spark, idx)
    assert(st2.routedSinceTrain == 0L && st2.totalVectors == 42L &&
      st2.routedFrac == 0.0 &&
      st2.pinnedVersion == st2.corpusVersion, st2)
    // a deleting window ROUTES (refresh absorbs deletes incrementally);
    // the live total drops and the drift ledger is untouched by it
    corpus.deleteByKeysMor(Seq(3L).toDF("vec_id"))
    val (v3, _, a3) = AnnIndex.refreshAuto(spark, idx, 0.99)
    assert(a3 == "routed" && v3 == corpus.latestVersion.get, (v3, a3))
    assert(AnnIndex.status(spark, idx).totalVectors == 41L)
    // an overwrite window is unreplayable — refreshAuto absorbs the
    // refusal as a from-scratch retrain instead of paging
    corpus.commit(vecs.map { case (i, v) => (i + 5000L, v) }
      .toDF("vec_id", "embedding"), overwrite = true)
    val (v4, _, a4) = AnnIndex.refreshAuto(spark, idx, 0.99)
    assert(a4 == "retrained" && v4 == corpus.latestVersion.get, (v4, a4))
    assert(AnnIndex.status(spark, idx).totalVectors == 20L)
    // a SMALL COW delete inside a large corpus file must not inflate
    // the pending estimate (the raw added-files feed would count every
    // row of the rewritten file as an insert and trigger a spurious
    // O(corpus) retrain): pending reads the NET insert events, so this
    // window routes
    val schemaC = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    corpus.deleteWhere(schemaC, col("vec_id") === 5003L)
    val (v5, n5, a5) = AnnIndex.refreshAuto(spark, idx, 0.3)
    assert(a5 == "routed" && n5 == 0L &&
      v5 == corpus.latestVersion.get,
      s"a COW-rewritten deleting window must route, not retrain: " +
        s"($v5, $n5, $a5)")
    assert(AnnIndex.status(spark, idx).totalVectors == 19L)
  }

  test("AnnIndex.search over variant × nprobe: each query of a batch " +
    "equals its one-query search, exact at nprobe = k is brute force, " +
    "PQ and SQ8 refuse a filter, every variant refuses a stale index") {
    implicit val sp = spark
    val vecs = (0L until 48L).map { i =>
      (i, (0 until 64).map(j =>
        math.sin(i * 7.0 + j * 1.3 + (i % 3) * j).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ann-search")
    val corpus = graft.sources.TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    AnnIndex.build(spark, corpus.root, idx, emb.schema, k = 4,
      iterations = 2, pq = true, sq8 = true)
    val qids = Seq(0L, 5L, 17L)
    val variants = Seq(AnnIndex.Exact, AnnIndex.Pq, AnnIndex.Sq8)
    def rows(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Int, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    for (v <- variants; np <- Seq(1, 2)) {
      val batch = rows(AnnIndex.search(spark, idx, v, qids, 4, nprobe = np))
      assert(batch.map(_._1).toSet == qids.toSet, s"${v.name} np=$np")
      qids.foreach { q =>
        val one = rows(AnnIndex.search(spark, idx, v, Seq(q), 4,
          nprobe = np))
        assert(one.nonEmpty &&
          batch.filter(_._1 == q).sortBy(_._2) == one.sortBy(_._2),
          s"${v.name} np=$np q=$q: the batch changed the query's answer")
      }
    }
    // full probe: every cell's candidates, so exact IVF is brute force
    val embD = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    qids.foreach { q =>
      val full = rows(AnnIndex.search(spark, idx, AnnIndex.Exact, Seq(q), 5,
        nprobe = 4)).map(r => (r._2, r._4))
      val brute = embD.crossJoin(broadcast(
          embD.filter(col("vec_id") === q).select(col("v").as("qv"))))
        .select(col("vec_id"),
          graft.functions.VectorFunctions.cosine(col("v"), col("qv"))
            .as("q_cos"))
        .orderBy(col("q_cos").desc, col("vec_id")).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(full == brute, s"q=$q: nprobe = k must equal brute force")
    }
    Seq(AnnIndex.Pq, AnnIndex.Sq8).foreach { v =>
      val e = intercept[IllegalArgumentException](
        AnnIndex.search(spark, idx, v, Seq(0L), 4,
          filter = Some(col("vec_id") > 3L)))
      assert(e.getMessage.contains("serves unfiltered"), e.getMessage)
    }
    corpus.commit(Seq((100L, vecs(1)._2)).toDF("vec_id", "embedding"),
      overwrite = false)
    variants.foreach { v =>
      val e = intercept[IllegalArgumentException](
        AnnIndex.search(spark, idx, v, qids, 4, requireFresh = true))
      assert(e.getMessage.contains("stale index"), e.getMessage)
    }
  }

  test("maintainAnn keeps the index at the corpus head from the stream") {
    implicit val sp = spark
    val vecs = (0L until 32L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f + 0.01f * i
      v(((i + 1) % 4).toInt) = 0.05f * (i % 3)
      (i, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ann-sq8b")
    val corpus = graft.sources.TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    AnnIndex.build(spark, corpus.root, idx, emb.schema, k = 4,
      iterations = 2, pq = false, sq8 = true)
    // continuous maintenance: an embedding drop advances the pin
    val ckpt = java.nio.file.Files.createTempDirectory("ann-maint").toString
    val q = graft.streaming.StreamOps.maintainAnn(spark, idx, ckpt)
    try {
      corpus.commit(Seq((100L, vecs(5)._2)).toDF("vec_id", "embedding"),
        overwrite = false)
      q.processAllAvailable()
      val a = graft.sources.TxLogTable(spark, s"$idx/assignments")
        .snapshot(AnnIndex.assignmentsSchema).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(a.contains(100L) && a(100L) == a(5L),
        s"the streamed vector must route to its twin's cell: $a")
      // the pin advanced with the refresh: a fresh search serves
      assert(AnnIndex.search(spark, idx, AnnIndex.Sq8, Seq(100L), 3,
        requireFresh = true).count() == 3)
    } finally q.stop()
  }

  test("maintainAnn applies the staleness guard: a drifted batch " +
    "retrains MID-STREAM and resets the ledger") {
    implicit val sp = spark
    val vecs = (0L until 20L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f + 0.01f * i
      (i, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ann-guard")
    val corpus = graft.sources.TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    AnnIndex.buildAuto(spark, corpus.root, idx, emb.schema,
      iterations = 2, targetCell = 8L, pq = false)
    val ckpt = java.nio.file.Files.createTempDirectory("ann-gm").toString
    val q = graft.streaming.StreamOps.maintainAnn(spark, idx, ckpt,
      maxRoutedFrac = 0.3)
    try {
      // small drop: 2/22 < 0.3 → the batch ROUTES, ledger accounts it
      corpus.commit(Seq((100L, vecs(1)._2), (101L, vecs(2)._2))
        .toDF("vec_id", "embedding"), overwrite = false)
      q.processAllAvailable()
      val st1 = AnnIndex.status(spark, idx)
      assert(st1.routedSinceTrain == 2L &&
        st1.pinnedVersion == st1.corpusVersion, st1)
      // doubling drop: (2+20)/(22+20) > 0.3 → the BATCH retrains —
      // continuous ingest is bounded by policy with no operator call
      corpus.commit(vecs.map { case (i, v) => (i + 1000L, v) }
        .toDF("vec_id", "embedding"), overwrite = false)
      q.processAllAvailable()
      val st2 = AnnIndex.status(spark, idx)
      assert(st2.routedSinceTrain == 0L && st2.totalVectors == 42L &&
        st2.pinnedVersion == st2.corpusVersion,
        s"the drifted batch must retrain mid-stream: $st2")
    } finally q.stop()
  }

  test("AnnIndex.buildAuto: k derives from corpus size, the quantizer " +
    "trains on a strided sample, search serves through the result") {
    implicit val sp = spark
    val vecs = (0L until 64L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f + 0.01f * i
      (i, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ann-auto")
    val corpus = graft.sources.TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    val (pinned, k) = AnnIndex.buildAuto(spark, corpus.root, idx,
      emb.schema, iterations = 2, targetCell = 16L, trainSample = 32L,
      pq = false)
    assert(pinned == corpus.latestVersion.get)
    assert(k == 4, s"k must be ceil(64/16): $k") // SemDedup.kFor rule
    val meta = graft.sources.TxLogTable(spark, s"$idx/meta")
      .snapshot(AnnIndex.metaSchema).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta("k") == "4" && meta("train_stride") == "2" &&
      meta("target_cell") == "16", meta.toString)
    // every corpus vector was routed (assignTo runs over ALL, not the
    // sample), and a served search finds the query itself first
    assert(graft.sources.TxLogTable(spark, s"$idx/assignments")
      .snapshot(AnnIndex.assignmentsSchema).count() == 64L)
    // all direction-1 vectors tie at cosine 1.0 (same axis, magnitude
    // cancels); the query is in the tied top set and ids break the tie
    val top = AnnIndex.search(spark, idx, AnnIndex.Exact, Seq(5L), 3,
      requireFresh = true).drop("q_id").collect()
    assert(top.map(_.getLong(0)).contains(5L) &&
      top.forall(r => r.getLong(0) % 4 == 1),
      s"neighbors must come from the query's direction: " +
        top.mkString(","))
    // a sample too small to seed every cell is a loud refusal
    val e = intercept[IllegalArgumentException] {
      AnnIndex.buildAuto(spark, corpus.root,
        tmp.resolve("i2").toString, emb.schema, iterations = 2,
        targetCell = 2L, trainSample = 8L)
    }
    assert(e.getMessage.contains("cannot seed every cell"), e.getMessage)
  }

  test("AnnIndex SQ8: refresh encodes new vectors against the PERSISTED " +
    "bounds (clamped); search serves them; twin codes are identical") {
    implicit val sp = spark
    val vecs = (0L until 16L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f + 0.01f * i
      (i, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ann-sq8")
    val corpus = graft.sources.TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    AnnIndex.build(spark, corpus.root, idx, emb.schema, k = 4,
      iterations = 2, pq = false, sq8 = true)
    val codesOf = () => graft.sources.TxLogTable(spark, s"$idx/sq8codes")
      .snapshot(AnnIndex.sq8CodesSchema).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    val before = codesOf()
    assert(before.size == 16)
    // an exact twin of vec 1, plus one OUTSIDE the pinned bounds
    // (value 9.0 >> trained max ~1.15): codes must clamp, not overflow
    corpus.commit(Seq(
        (100L, vecs(1)._2),
        (101L, Seq(9.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      overwrite = false)
    val (_, added) = AnnIndex.refresh(spark, idx)
    assert(added == 2L)
    val after = codesOf()
    assert(after(100L) == before(1L),
      "a twin vector must encode to identical codes under the same bounds")
    assert(after(101L).max == 127.toByte,
      s"an out-of-bounds value must clamp to the top code: ${after(101L)}")
    // the refreshed index serves the new twin tied at cosine 1.0 with
    // the collinear family (1, 5, 9, 13 share its direction — cosine is
    // scale-invariant, so all five tie and vec_id breaks the order)
    val got = AnnIndex.search(spark, idx, AnnIndex.Sq8, Seq(1L), 5,
        nprobe = 4, requireFresh = true)
      .drop("q_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 5L, 9L, 13L, 100L),
      s"the refreshed twin must tie into the collinear family: $got")
  }

  test("GlobalIndex.assign: contiguous 0..N-1 in total order, " +
      "deterministic, distributed") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    // scrambled input across many partitions; key collisions on k force
    // the doc tiebreak to matter (k = id % 7 collides heavily)
    val df = spark.range(0, 1000, 1, 13).toDF("id")
      .withColumn("k", col("id") % 7)
    val out = GlobalIndex.assign(df, Seq("k", "id"), "idx",
      numPartitions = 8)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 1000)
    // contiguity: the index set is exactly 0..999
    assert(rows.map(_._3).sorted.toSeq == (0L until 1000L))
    // order: ascending (k, id) enumerates in index order
    val byIdx = rows.sortBy(_._3)
    assert(byIdx.map(t => (t._2, t._1)).toSeq ==
      byIdx.map(t => (t._2, t._1)).sortBy(identity).toSeq,
      "index order must equal (k, id) order")
    // determinism: a rerun over a DIFFERENTLY-partitioned equal input
    // assigns identical indices (bounds move rows between partitions,
    // never change the global order)
    val df2 = spark.range(0, 1000, 1, 3).toDF("id")
      .withColumn("k", col("id") % 7)
    val again = GlobalIndex.assign(df2, Seq("k", "id"), "idx",
      numPartitions = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rows.forall(t => again(t._1) == t._3),
      "same data must stamp the same indices regardless of layout")
    // guards
    intercept[IllegalArgumentException](
      GlobalIndex.assign(df, Nil))
    intercept[IllegalArgumentException](
      GlobalIndex.assign(df.withColumn("idx", xxhash64(col("id"))),
        Seq("id")))
  }

  test("AnnIndex.searchIvf: corpus columns named after search internals " +
      "(v, cluster, qv) neither collide nor get clobbered") {
    implicit val sp = spark
    import org.apache.spark.sql.functions.col
    // corpus carries metadata columns whose names mirror the ranking
    // pipeline's internals: "v" (the doubled-vector name), "cluster" and
    // "qv" (join-side names). A filter on corpus "v" must test THIS
    // column, not the doubled embedding (the round-14 regression).
    val vecs = (0L until 16L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 1.0f + 0.01f * i
      (i, v.toSeq, i.toDouble - 8.0, s"c$i", s"q$i")
    }
    val emb = vecs.toDF("vec_id", "embedding", "v", "cluster", "qv")
    val tmp = java.nio.file.Files.createTempDirectory("ann-col")
    val corpus = graft.sources.TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    AnnIndex.build(spark, corpus.root, idx, emb.schema, k = 4,
      iterations = 2, pq = true)
    // unfiltered search: no AnalysisException from ambiguous joins
    val un = AnnIndex.search(spark, idx, AnnIndex.Exact, Seq(0L), 5)
      .drop("q_id").collect()
    assert(un.nonEmpty && un.head.getLong(0) == 0L)
    // filter on the corpus's OWN "v" column: only vec_ids >= 8 qualify
    // (v = id - 8 >= 0). If the doubled embedding clobbered it, the
    // predicate would test an array and fail or return wrong rows.
    val f = AnnIndex.search(spark, idx, AnnIndex.Exact, Seq(0L), 16,
        filter = Some(col("v") >= 0.0)).drop("q_id").collect()
    assert(f.nonEmpty && f.forall(_.getLong(0) >= 8L),
      s"filter must apply to the corpus column v: ${f.mkString(",")}")
    // PQ path with the same corpus: internals stay collision-free
    assert(AnnIndex.search(spark, idx, AnnIndex.Pq, Seq(0L), 3).collect()
      .nonEmpty)
  }
}
