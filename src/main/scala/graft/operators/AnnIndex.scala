package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.{asDouble, cosine}
import graft.sources.TxLogTable

/** Persisted ANN index lifecycle — build once, serve many (round-5 gap #3:
  * every IVF/PQ query used to re-fit k-means in-query with session caches).
  * At 100 TB an index is a first-class ARTIFACT: trained on a pinned
  * corpus snapshot, persisted as tx-log tables, loaded by every query and
  * every session until the corpus moves and it is rebuilt.
  *
  * Layout under `indexRoot` (all tx-log tables — versioned, vacuumable,
  * time-travelable like any other):
  *   - `meta`        (key, value): corpus root, PINNED corpus version,
  *                   corpus schema JSON, k, iterations
  *   - `centroids`   (cluster, cv): the trained coarse quantizer
  *   - `assignments` (vec_id, cluster): corpus routing at build time
  *
  * Staleness contract: the index answers for the corpus snapshot it was
  * built on. [[search]] with `requireFresh = true` REFUSES when the
  * corpus has advanced past the pinned version (the serving-layer guard:
  * an index silently lagging its corpus returns wrong neighbors); with
  * `requireFresh = false` it serves the pinned snapshot — consistent
  * results regardless of later corpus writes, valid until the pinned
  * version is vacuumed (then it refuses loudly).
  */
object AnnIndex {

  val metaSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))
  val centroidsSchema: StructType = StructType(Seq(
    StructField("cluster", IntegerType),
    StructField("cv", ArrayType(DoubleType))))
  val assignmentsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("cluster", IntegerType)))
  val codesSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("c0", IntegerType), StructField("c1", IntegerType),
    StructField("c2", IntegerType), StructField("c3", IntegerType)))
  val codebookSchema: StructType = StructType(Seq(
    StructField("code", IntegerType), StructField("s", IntegerType),
    StructField("cv", ArrayType(DoubleType))))
  val sq8BoundsSchema: StructType = StructType(Seq(
    StructField("i", IntegerType), StructField("mn", DoubleType),
    StructField("span", DoubleType)))
  val sq8CodesSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(ByteType))))

  // SQ8 helpers: per-dimension trained linear bounds, 8-bit codes stored
  // shifted to TINYINT range. Encode clamps to [0,255] (a refresh vector
  // outside the pinned bounds stays a valid code, its distortion grows
  // with drift — the same drift contract the IVF quantizer already has);
  // decode is mn + (code+128)*span/255, which on build-time codes equals
  // the unclamped sim_sq8_topk formula exactly.
  private def sq8EncodeCol(mnA: org.apache.spark.sql.Column,
                           spanA: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    transform(col("v"), (x, i) => {
      val mn = element_at(mnA, i + 1)
      val span = element_at(spanA, i + 1)
      when(span === 0d, lit(-128).cast(ByteType)).otherwise(
        (least(greatest(floor((x - mn) / span * 255d + 0.5d), lit(0L)),
          lit(255L)) - 128).cast(ByteType))
    })

  private def sq8DecodeCol(mnA: org.apache.spark.sql.Column,
                           spanA: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    transform(col("codes"), (c, i) => {
      val mn = element_at(mnA, i + 1)
      val span = element_at(spanA, i + 1)
      mn + (c.cast(DoubleType) + 128d) * span / 255d
    })

  /** Cap under which a persisted index SIDE TABLE (centroids, codebook,
    * meta, sq8 bounds) pins as a driver-local relation via
    * [[TxLogTable.localPinnedSnapshot]]. These frames ride the build
    * side of every search/refresh broadcast, and a serving loop
    * (status probes, recall sweeps, batch searches) re-reads the same
    * immutable version per call — the stamped memo turns each re-read
    * into a driver map hit, and a broadcast build reads the held rows
    * instead of scanning the table's files. Vector-row sized (centroid
    * rows carry the full embedding), far under the dim-snapshot cap. */
  val MaxLocalIdxRows: Long = 1L << 14

  // a small index side table as a LocalRelation when its exact size is
  // known and under the cap; the ordinary distributed snapshot
  // otherwise — identical rows either way
  private def sideTable(spark: SparkSession, root: String,
                        schema: StructType): DataFrame = {
    val t = TxLogTable(spark, root)
    t.latestVersion
      .flatMap(v =>
        t.localPinnedSnapshot(schema, v, MaxLocalIdxRows))
      .getOrElse(t.snapshot(schema))
  }

  // pin a provably tiny DERIVED frame (a query batch, an ADC lookup
  // table) as a driver-local relation: ONE job collects it, and every
  // downstream broadcast build then serves the in-memory rows instead
  // of re-executing the frame's subtree once per exchange (each
  // broadcast of a distributed frame is its own collect job). Values
  // only MOVE to the driver — every comparison, cosine and ADC distance
  // stays a Spark expression, so results are bit-identical.
  private def localized(df: DataFrame): DataFrame =
    onePart(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema))

  // a driver-local frame as ONE partition: Spark splits a LocalRelation
  // into min(rows, defaultParallelism) partitions, so a few-row frame
  // streaming into a join or a broadcast build fans out into
  // sub-millisecond tasks. A distributed frame passes through unchanged.
  private def onePart(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: LocalRelation => df.coalesce(1)
      case _ => df
    }

  private def sq8BoundArrays(spark: SparkSession, indexRoot: String)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    // driver-side sort of the pinned rows — same (i asc, i non-null)
    // order the old orderBy("i") job produced, no job
    val rows = sideTable(spark, s"$indexRoot/sq8bounds", sq8BoundsSchema)
      .collect().sortBy(_.getInt(0))
    (array(rows.toIndexedSeq.map(r => lit(r.getDouble(1))): _*),
      array(rows.toIndexedSeq.map(r => lit(r.getDouble(2))): _*))
  }

  /** Train and persist an IVF index over the corpus's CURRENT version.
    * One k-means fit (the only time the corpus is scanned for training);
    * `pq = false` skips the PQ artifacts for a centroids-only index
    * (a [[Pq]] search then has nothing to load and must not be used).
    * Returns the pinned corpus version.
    */
  def build(spark: SparkSession, corpusRoot: String, indexRoot: String,
            corpusSchema: StructType, k: Int, iterations: Int,
            pq: Boolean = true, sq8: Boolean = false): Int = {
    implicit val sp: SparkSession = spark
    import spark.implicits._
    val corpus = TxLogTable(spark, corpusRoot)
    val v = corpus.latestVersion.getOrElse(
      throw new IllegalStateException(s"empty corpus at $corpusRoot"))
    val emb = corpus.snapshot(corpusSchema, Some(v))
    val (assigned, cents) = KMeans.fit(emb, k, iterations)
    val op = s"ann-index:corpus_v=$v"
    persistArtifacts(spark, indexRoot, emb, assigned, cents, op, pq, sq8,
      Seq("corpus_root" -> corpusRoot, "corpus_version" -> v.toString,
        "corpus_schema" -> corpusSchema.json, "k" -> k.toString,
        "iterations" -> iterations.toString,
        "routed_since_train" -> "0"))
    v
  }

  /** AUTO-SIZED build — the 100 TB shape of [[build]], which takes a
    * caller-chosen k and trains on the whole corpus (fine at oracle SF,
    * a full-corpus k-means shuffle at a billion vectors):
    *
    *  - k is derived from the corpus so CELL SIZE (not cell count) is
    *    the invariant: k = ⌈rows / targetCell⌉ ([[SemDedup.kFor]] — the
    *    same rule SemDedup already scales by), so a 10× corpus gets ~10×
    *    cells at ~constant probe cost;
    *  - the quantizer trains on a BOUNDED deterministic sample (every
    *    stride-th vec_id, stride = ⌈rows / trainSample⌉): k-means cost is
    *    O(sample × k × iters) regardless of corpus size. Centroids from
    *    a uniform sample converge to the same cells (standard coreset
    *    argument); the full corpus then takes ONE [[KMeans.assignTo]]
    *    pass — a map-side broadcast argmax, no training shuffle;
    *  - rows comes from manifest stats when exact ([[TxLogTable
    *    .metaRowCount]]), falling back to one count().
    *
    * @return (pinned corpus version, derived k)
    */
  def buildAuto(spark: SparkSession, corpusRoot: String, indexRoot: String,
                corpusSchema: StructType, iterations: Int,
                targetCell: Long = 4096L, trainSample: Long = 1L << 18,
                pq: Boolean = true, sq8: Boolean = false): (Int, Int) = {
    implicit val sp: SparkSession = spark
    import spark.implicits._
    require(targetCell > 0 && trainSample > 0,
      s"targetCell/trainSample must be positive: $targetCell/$trainSample")
    val corpus = TxLogTable(spark, corpusRoot)
    val v = corpus.latestVersion.getOrElse(
      throw new IllegalStateException(s"empty corpus at $corpusRoot"))
    val emb = corpus.snapshot(corpusSchema, Some(v))
    val rows = corpus.metaRowCount(Some(v)).getOrElse(emb.count())
    val k = SemDedup.kFor(rows, targetCell)
    require(trainSample >= k,
      s"trainSample=$trainSample < derived k=$k — the sample cannot " +
        "seed every cell; raise trainSample or targetCell")
    val stride = math.max(1L, (rows + trainSample - 1) / trainSample)
    val vecs = emb.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val train = if (stride == 1L) vecs
      else vecs.filter(pmod(col("vec_id"), lit(stride)) === 0)
    val (_, cents) = KMeans.fit(
      train.select(col("vec_id"), col("v").as("embedding")), k,
      iterations, seedSmallestK = true)
    // one routing pass over the full corpus: broadcast argmax, the only
    // corpus-sized job in the build besides the optional code encodes
    val assigned = KMeans.assignTo(vecs, cents)
    val op = s"ann-index:corpus_v=$v:auto"
    persistArtifacts(spark, indexRoot, emb, assigned, cents, op, pq, sq8,
      Seq("corpus_root" -> corpusRoot, "corpus_version" -> v.toString,
        "corpus_schema" -> corpusSchema.json, "k" -> k.toString,
        "iterations" -> iterations.toString,
        "target_cell" -> targetCell.toString,
        "train_stride" -> stride.toString,
        "routed_since_train" -> "0"))
    (v, k)
  }

  private def persistArtifacts(spark: SparkSession, indexRoot: String,
                               emb: DataFrame, assigned: DataFrame,
                               cents: DataFrame, op: String,
                               pq: Boolean, sq8: Boolean,
                               meta: Seq[(String, String)]): Unit = {
    import spark.implicits._
    TxLogTable(spark, s"$indexRoot/centroids").commit(
      cents.select(col("cluster").cast(IntegerType), col("cv")),
      overwrite = true, op = op)
    TxLogTable(spark, s"$indexRoot/assignments").commit(
      assigned.select(col("vec_id"), col("cluster").cast(IntegerType)),
      overwrite = true, op = op)
    // PQ artifacts: the 4-subspace codes (64× compressed corpus — what a
    // billion-vector deployment actually scans) and the codebook the ADC
    // tables are built from at query time
    if (pq) {
      val embD = emb.select(col("vec_id"),
        asDouble(col("embedding")).as("v"))
      TxLogTable(spark, s"$indexRoot/codes").commit(
        graft.queries.SimQueries.pqCodesPivot(embD), overwrite = true,
        op = op)
      TxLogTable(spark, s"$indexRoot/codebook").commit(
        graft.queries.SimQueries.pqSubVectors(
            embD.filter(col("vec_id") < graft.queries.SimQueries.PqCodes))
          .select(col("vec_id").cast(IntegerType).as("code"), col("s"),
            col("sv").as("cv")),
        overwrite = true, op = op)
    }
    // SQ8 artifacts: per-dimension trained bounds + 8-bit codes — the
    // 4x-compressed ranking payload with near-exact recall (the recall
    // matrix's sq8 arm measures 0.99 where raw 4-subspace ADC sits at
    // ~0.23); the middle rung between exact float32 and PQ
    if (sq8) {
      val embD = emb.select(col("vec_id"),
        asDouble(col("embedding")).as("v"))
      val bounds = embD.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("i").agg(min(col("x")).as("mn"),
          (max(col("x")) - min(col("x"))).as("span"))
        .select(col("i").cast(IntegerType), col("mn"), col("span"))
      TxLogTable(spark, s"$indexRoot/sq8bounds").commit(bounds,
        overwrite = true, op = op)
      val (mnA, spanA) = sq8BoundArrays(spark, indexRoot)
      TxLogTable(spark, s"$indexRoot/sq8codes").commit(
        embD.select(col("vec_id"), sq8EncodeCol(mnA, spanA).as("codes")),
        overwrite = true, op = op)
    }
    TxLogTable(spark, s"$indexRoot/meta").commit(
      meta.toDF("key", "value"), overwrite = true, op = op)
  }

  // corpus window ops the refresh can replay EXACTLY through the change
  // feed: appends and adds-only ops feed raw inserts, DV commits emit
  // their masked rows as deletes, COW row-DML is content-diffed,
  // layout rewrites are skipped wholesale, MV refreshes are DV-upserts
  private val ReplayableOps: Set[String] =
    Set("append", "delete-dv", "update-dv", "upsert-dv", "delete-mor",
      "mv-create", "mv-refresh") ++
      TxLogTable.CowDiffOps ++ TxLogTable.RewriteOps

  /** INCREMENTAL index refresh — the maintenance path between full
    * rebuilds, now covering the FULL DML matrix:
    *
    *  - vectors ADDED since the pinned version route to the EXISTING
    *    centroids ([[KMeans.assignTo]] — a broadcast argmax, no training
    *    pass) and their PQ/SQ8 codes encode against the PERSISTED
    *    codebook/bounds;
    *  - vectors DELETED (DV, COW, vec_id-keyed MOR) are MASKED OUT of
    *    assignments and code tables by one keyed MOR tombstone per
    *    table — O(deleted), and it closes the phantom-neighbor hole the
    *    code-ranked searches (PQ/SQ8 never re-join the corpus snapshot)
    *    would otherwise have;
    *  - UPDATEs (delete+insert of one vec_id in the window) mask the old
    *    entry and re-route the new embedding — the net event per vec_id
    *    decides (latest commit wins; the insert of an update-dv beats
    *    its same-version delete).
    *
    * Cost is O(window events), never O(corpus): at 100 TB a daily
    * embedding drop — including its GDPR trickle of deletes — refreshes
    * in minutes, while [[buildAuto]] re-trains the quantizer on the
    * [[refreshAuto]] threshold's cadence. The standard IVF-append
    * tradeoff stands: frozen centroids drift as the distribution moves
    * (measured in tools/AnnDriftProbe).
    *
    * A window the feed cannot replay exactly (an overwrite/publish, or a
    * MOR drop not keyed by vec_id) refuses loudly with "rebuild the
    * index" — [[refreshAuto]] turns that refusal into a retrain.
    *
    * @return (new pinned version, vectors added)
    */
  def refresh(spark: SparkSession, indexRoot: String,
              maxMaskFiles: Int = 16): (Int, Long) = {
    implicit val sp: SparkSession = spark
    import spark.implicits._
    val meta = loadMeta(spark, indexRoot)
    val pinned = meta("corpus_version").toInt
    val corpus = TxLogTable(spark, meta("corpus_root"))
    val cur = corpus.latestVersion.getOrElse(pinned)
    if (cur == pinned) return (pinned, 0L)
    val present = corpus.versions.toSet
    val range = ((pinned + 1) to cur).filter(present)
    val opAt = range.map(v =>
      v -> corpus.opOf(v).getOrElse("append")).toMap
    range.foreach { v =>
      val op = opAt(v)
      val ok =
        if (op == "delete-mor") corpus.morKeysOf(v) == Seq("vec_id")
        else ReplayableOps(op) || !corpus.removedFilesAt(v)
      require(ok, s"refresh cannot replay corpus v$v (op=$op) exactly: " +
        "deleted vectors would survive as phantom neighbors; rebuild " +
        "the index instead")
    }
    val schema = DataType.fromJson(meta("corpus_schema"))
      .asInstanceOf[StructType]
    // net event per vec_id across the window: latest commit wins, and
    // an update-dv's insert beats its same-version delete ("insert" >
    // "delete" lexically)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(col("_commit_version").desc, col("_change_type").desc)
    val net = corpus.changesWithDeletes(schema, pinned, cur,
        skipRewrites = true)
      .withColumn("__rn", org.apache.spark.sql.functions.row_number()
        .over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // LAZY checkpoints (here and below): the materialization rides the
    // first consuming action (assignTo's count / the first tombstone
    // commit) instead of paying a dedicated eager job per frame — the
    // same action-collapse the MV refresh's deltas use
    val fresh = net.filter(col("_change_type") === "insert")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .localCheckpoint(false)
    val op = s"ann-index:corpus_v=$cur:refresh"
    // departed-or-replaced entries mask out FIRST (one vec_id-keyed MOR
    // tombstone per index table, sequence-aware: the re-routed rows
    // appended below survive it) — only when the window actually
    // changed rows; a pure-append window skips the tombstone commits
    val valueChanging: Set[String] = TxLogTable.CowDiffOps ++
      Set("delete-dv", "update-dv", "upsert-dv", "delete-mor",
        "mv-refresh")
    if (range.exists(v => valueChanging(opAt(v)))) {
      val changedIds = net.select(col("vec_id")).localCheckpoint(false)
      Seq("assignments" -> assignmentsSchema, "codes" -> codesSchema,
        "sq8codes" -> sq8CodesSchema).foreach { case (nm, sch) =>
        val t = TxLogTable(spark, s"$indexRoot/$nm")
        if (t.latestVersion.nonEmpty) {
          t.deleteByKeysMor(changedIds)
          // mask hygiene: every live tombstone is an anti-join each
          // index read pays — past the threshold, fold them with one
          // compact (the masked rows materialize away)
          if (t.tombstonesOf(t.latestVersion.get).size > maxMaskFiles)
            t.compact(sch)
        }
      }
    }
    val cents = sideTable(spark, s"$indexRoot/centroids",
      centroidsSchema)
    val assigned = KMeans.assignTo(fresh, cents)
    val added = assigned.count()
    TxLogTable(spark, s"$indexRoot/assignments").commit(
      assigned.select(col("vec_id"), col("cluster").cast(IntegerType)),
      overwrite = false, op = op)
    val codesT = TxLogTable(spark, s"$indexRoot/codes")
    if (codesT.latestVersion.nonEmpty) {
      val cb = sideTable(spark, s"$indexRoot/codebook",
        codebookSchema)
        .select(col("code"), col("s").as("cs"), col("cv"))
      codesT.commit(
        graft.queries.SimQueries.pqCodesPivotWith(fresh, cb),
        overwrite = false, op = op)
    }
    val sq8T = TxLogTable(spark, s"$indexRoot/sq8codes")
    if (sq8T.latestVersion.nonEmpty) {
      val (mnA, spanA) = sq8BoundArrays(spark, indexRoot)
      sq8T.commit(
        fresh.select(col("vec_id"), sq8EncodeCol(mnA, spanA).as("codes")),
        overwrite = false, op = op)
    }
    // the staleness ledger rides the pin advance: every routed-without-
    // retraining vector is accounted, so [[status]] can report drift
    // without scanning anything
    val routed = meta.getOrElse("routed_since_train", "0").toLong + added
    TxLogTable(spark, s"$indexRoot/meta").commit(
      (meta + ("corpus_version" -> cur.toString) +
        ("routed_since_train" -> routed.toString)).toSeq
        .toDF("key", "value"),
      overwrite = true, op = op)
    (cur, added)
  }

  /** Index health at a glance — the drift signals the refresh-without-
    * retrain growth path accumulates silently: `routedFrac` (fraction of
    * the indexed vectors routed to FROZEN centroids since the last
    * training pass — the recall-decay proxy: routed vectors land in
    * cells trained on an older distribution) and `imbalance` (max cell
    * size / mean — a quantizer whose cells no longer fit the data
    * concentrates vectors in few cells, degrading both recall and probe
    * cost). Everything comes from the meta ledger and one
    * |cells|-sized aggregate over assignments — O(index), never
    * O(corpus). */
  final case class AnnStatus(corpusRoot: String, pinnedVersion: Int,
                             corpusVersion: Int, totalVectors: Long,
                             routedSinceTrain: Long, routedFrac: Double,
                             cells: Long, meanCell: Double, maxCell: Long,
                             imbalance: Double)

  def status(spark: SparkSession, indexRoot: String): AnnStatus = {
    val meta = loadMeta(spark, indexRoot)
    val pinned = meta("corpus_version").toInt
    val corpus = TxLogTable(spark, meta("corpus_root"))
    val cur = corpus.latestVersion.getOrElse(pinned)
    val sizes = TxLogTable(spark, s"$indexRoot/assignments")
      .snapshot(assignmentsSchema)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("cells"), sum("n").as("total"),
        max("n").as("mx")).head()
    val cells = sizes.getLong(0)
    val total = if (sizes.isNullAt(1)) 0L else sizes.getLong(1)
    val mx = if (sizes.isNullAt(2)) 0L else sizes.getLong(2)
    val routed = meta.getOrElse("routed_since_train", "0").toLong
    val mean = total.toDouble / math.max(1L, cells)
    // routedFrac is a CONSERVATIVE UPPER BOUND on frozen-centroid
    // exposure: the ledger only grows while deletes shrink the masked
    // total, so after routed vectors are themselves deleted the ratio
    // overstates drift — clamp at 1.0 (= "everything serving was routed
    // since training", the worst case) rather than report a >1 fraction
    AnnStatus(meta("corpus_root"), pinned, cur, total, routed,
      math.min(1.0, routed.toDouble / math.max(1L, total)), cells, mean,
      mx, if (mean > 0) mx / mean else 0.0)
  }

  /** Default retrain threshold for the staleness guard: the policy
    * [[refreshAuto]], `CALL ann_refresh` and the streaming maintainer
    * apply when the caller does not name one explicitly. */
  val DefaultMaxRoutedFrac: Double = 0.5

  /** [[refresh]] with a RETRAIN THRESHOLD — the guard that keeps the
    * cheap growth path from decaying recall forever: when absorbing the
    * pending corpus window would push `routedFrac` past `maxRoutedFrac`,
    * the refresh routes into a full retrain instead — [[buildAuto]] when
    * the index was auto-built (its recorded targetCell re-derives k for
    * the GROWN corpus), else [[build]] with the recorded k — resetting
    * the drift ledger. Below the threshold it is exactly [[refresh]]
    * (which absorbs adds, deletes AND updates incrementally). Retrain
    * also absorbs the windows the change feed cannot replay exactly
    * (an overwrite/publish, a MOR drop not keyed by vec_id): a
    * from-scratch build has no phantom-neighbor hazard.
    *
    * @return (pinned version, vectors absorbed, action ∈
    *         noop | routed | retrained)
    */
  def refreshAuto(spark: SparkSession, indexRoot: String,
                  maxRoutedFrac: Double = DefaultMaxRoutedFrac)
      : (Int, Long, String) = {
    require(maxRoutedFrac > 0 && maxRoutedFrac <= 1,
      s"maxRoutedFrac must be in (0, 1], got $maxRoutedFrac")
    val meta = loadMeta(spark, indexRoot)
    val pinned = meta("corpus_version").toInt
    val corpus = TxLogTable(spark, meta("corpus_root"))
    val cur = corpus.latestVersion.getOrElse(pinned)
    val schema = DataType.fromJson(meta("corpus_schema"))
      .asInstanceOf[StructType]
    val routed = meta.getOrElse("routed_since_train", "0").toLong
    val asgT = TxLogTable(spark, s"$indexRoot/assignments")
    val total = asgT.metaRowCount(None).getOrElse(
      asgT.snapshot(assignmentsSchema).count())
    // pending = rows that would actually ROUTE: the net-insert events of
    // the window, read through the content diff with rewrites skipped —
    // the raw added-files feed would count every row of a COW-rewritten
    // file as an insert, inflating the frac and triggering a spurious
    // O(corpus) retrain for a window refresh() absorbs in O(events). A
    // window the diff cannot replay exactly estimates conservatively
    // from the raw feed (refresh() would refuse it too — retrain is the
    // correct absorption either way).
    val pending =
      if (cur == pinned) 0L
      else try corpus.changesWithDeletes(schema, pinned, cur,
          skipRewrites = true)
        .filter(col("_change_type") === "insert")
        .select(col("vec_id")).count()
      catch {
        case _: IllegalArgumentException | _: IllegalStateException =>
          corpus.changesBetween(schema, pinned, cur)
            .select(col("vec_id")).count()
      }
    val frac = math.min(1.0, (routed + pending).toDouble /
      math.max(1L, total + pending))
    def retrain(): (Int, Long, String) = {
      val iterations = meta.getOrElse("iterations", "4").toInt
      val pq = TxLogTable(spark, s"$indexRoot/codes")
        .latestVersion.nonEmpty
      val sq8 = TxLogTable(spark, s"$indexRoot/sq8codes")
        .latestVersion.nonEmpty
      val v = meta.get("target_cell") match {
        case Some(tc) =>
          buildAuto(spark, meta("corpus_root"), indexRoot, schema,
            iterations, tc.toLong, pq = pq, sq8 = sq8)._1
        case None =>
          build(spark, meta("corpus_root"), indexRoot, schema,
            meta("k").toInt, iterations, pq = pq, sq8 = sq8)
      }
      (v, routed + pending, "retrained")
    }
    // the threshold applies to the LEDGER, not just the pending window:
    // an already-current index whose routed fraction sits past it still
    // retrains — drift does not expire by being absorbed
    if (frac <= maxRoutedFrac) {
      if (cur == pinned) (pinned, 0L, "noop")
      else
        try {
          val (v, added) = refresh(spark, indexRoot)
          (v, added, "routed")
        } catch {
          // a window the feed cannot replay exactly (overwrite/publish,
          // non-vec_id MOR keys) — the from-scratch build absorbs it
          case e: IllegalArgumentException
              if e.getMessage != null &&
                e.getMessage.contains("rebuild the index") => retrain()
        }
    } else retrain()
  }

  private def loadMeta(spark: SparkSession,
                       indexRoot: String): Map[String, String] =
    sideTable(spark, s"$indexRoot/meta", metaSchema)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  // shared load + staleness gate: the pinned corpus with its FULL
  // column set (filtered search predicates reference corpus attributes
  // — label, lang, any metadata the row carries). The search applies
  // its filter against this frame and then immediately projects to the
  // internal (vec_id, v) shape, so corpus columns — including ones
  // literally named "v", "cluster", "qv", "cs" or "best_cluster" —
  // never reach the ranking pipeline's joins and cannot collide with
  // its internal names.
  private def loadPinnedCorpus(spark: SparkSession, indexRoot: String,
                               requireFresh: Boolean): DataFrame = {
    val meta = loadMeta(spark, indexRoot)
    val pinned = meta("corpus_version").toInt
    val corpus = TxLogTable(spark, meta("corpus_root"))
    if (requireFresh)
      require(corpus.latestVersion.contains(pinned),
        s"stale index at $indexRoot: corpus ${meta("corpus_root")} is at " +
          s"v${corpus.latestVersion.getOrElse(-1)} but the index is pinned " +
          s"to v$pinned — rebuild the index")
    require(corpus.versions.contains(pinned),
      s"index at $indexRoot pins corpus v$pinned, which was vacuumed — " +
        "rebuild the index")
    val schema = DataType.fromJson(meta("corpus_schema"))
      .asInstanceOf[StructType]
    corpus.snapshot(schema, Some(pinned))
  }

  // the internal two-column ranking shape: the optional pre-filter is
  // applied while the corpus columns are still present, then projected
  // away — `as("v")` on a select output cannot collide with any corpus
  // column name
  private def rankingShape(corpus: DataFrame, filter: Option[Column])
      : DataFrame =
    filter.map(corpus.filter).getOrElse(corpus)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  // per-query top-k, shared by routing and ranking: one query keeps the
  // plain ORDER BY + LIMIT (no exchange on q_id); a batch ranks within
  // each q_id through a row_number window, whose rank partial Spark's
  // WindowGroupLimit pushes below the exchange
  private def perQueryTopK(df: DataFrame, k: Int, oneQuery: Boolean,
                           order: Column*): DataFrame =
    if (oneQuery) df.orderBy(order: _*).limit(k)
    else df.withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(order: _*)))
      .filter(col("rn") <= k).drop("rn")

  /** One ranker of the probed cells' candidates, declared once: the
    * index table its candidates join, the score column it computes and
    * the direction it ranks in (ties break on `vec_id` ascending). */
  sealed abstract class Variant(val name: String, val score: String,
                                ascending: Boolean) {
    private[AnnIndex] def order: Seq[Column] =
      Seq(if (ascending) col(score) else col(score).desc, col("vec_id"))

    // the probed candidates joined to this ranker's index table, with
    // `score` added
    private[AnnIndex] def scored(p: Probe): DataFrame
  }

  // what a ranker sees of one search: the pinned corpus and its filter,
  // the (q_id, qv) queries, and the probed candidates (q_id, qv, vec_id,
  // cluster, best_cluster)
  private final case class Probe(spark: SparkSession, indexRoot: String,
                                 corpus: DataFrame, filter: Option[Column],
                                 queries: DataFrame, probed: DataFrame)

  /** Exact cosine against the pinned corpus's full vectors. The only
    * variant that takes a `filter`: a predicate over the corpus's own
    * columns restricts the candidates before ranking — pre-filter
    * semantics, so all `topK` survivors satisfy it, inside the probed
    * cells only (the same recall contract and cost shape as the
    * unfiltered search). */
  case object Exact extends Variant("exact", "q_cos", ascending = false) {
    private[AnnIndex] def scored(p: Probe): DataFrame =
      p.probed.join(rankingShape(p.corpus, p.filter), "vec_id")
        .withColumn(score, cosine(col("v"), col("qv")))
  }

  /** The persisted 4-byte PQ codes ranked by asymmetric distance: per
    * query, ADC lookup tables from the persisted codebook × the query's
    * subvectors (16 codes × 4 subspaces per query, broadcast), each
    * candidate joined to its own query's table on (q_id, code). Full
    * vectors are touched only to fetch the queries; the sum runs in
    * subspace order, so scores are bit-identical to `ivfpq_topk`. */
  case object Pq extends Variant("pq", "adc_dist", ascending = true) {
    private[AnnIndex] def scored(p: Probe): DataFrame = {
      graft.catalyst.L2Sq.register(p.spark)
      val qSub = graft.queries.SimQueries.pqSubVectors(
          p.queries.select(col("q_id").as("vec_id"), col("qv").as("v")))
        .select(col("vec_id").as("dq_id"), col("s").as("qs"), col("sv"))
      // localize the ADC table once: the four per-subspace broadcast
      // builds below then read driver-held rows instead of each
      // re-running codebook ⋈ queries
      val dt = localized(
        onePart(sideTable(p.spark, s"${p.indexRoot}/codebook",
            codebookSchema))
          .join(broadcast(qSub), col("s") === col("qs"))
          .select(col("dq_id"), col("s"), col("code"),
            graft.catalyst.L2Sq.l2sq(col("cv"), col("sv")).as("qd")))
      (0 until graft.queries.SimQueries.PqM).foldLeft(
        p.probed.join(TxLogTable(p.spark, s"${p.indexRoot}/codes")
          .snapshot(codesSchema), "vec_id")) { (df, si) =>
        df.join(broadcast(dt.filter(col("s") === si)
            .select(col("dq_id").as(s"q$si"), col("code").as(s"code$si"),
              col("qd").as(s"d$si"))),
          col("q_id") === col(s"q$si") && col(s"c$si") === col(s"code$si"))
      }.withColumn(score, col("d0") + col("d1") + col("d2") + col("d3"))
    }
  }

  /** The persisted 8-bit SQ8 codes dequantized against the persisted
    * per-dimension bounds (two literal arrays — no broadcast table, no
    * join), cosine against the raw query vector: 4× less ranking I/O
    * than exact at near-exact recall (the recall matrix's sq8 arm
    * measures 0.99 where raw 4-subspace ADC sits at ~0.23). */
  case object Sq8 extends Variant("sq8", "sq8_sim", ascending = false) {
    private[AnnIndex] def scored(p: Probe): DataFrame = {
      val (mnA, spanA) = sq8BoundArrays(p.spark, p.indexRoot)
      p.probed.join(TxLogTable(p.spark, s"${p.indexRoot}/sq8codes")
          .snapshot(sq8CodesSchema), "vec_id")
        .withColumn(score, cosine(sq8DecodeCol(mnA, spanA), col("qv")))
    }
  }

  /** IVF top-k THROUGH the persisted index for each of `queryVecIds`,
    * as `(q_id, vec_id, cluster, <variant.score>)`: centroids and
    * routing come from the index tables, the corpus is read at the
    * PINNED version, and no k-means fit runs — by construction, the
    * search never trains. Routing is one tiny centroids × queries
    * product: per query, the `nprobe` nearest cells (cosine descending,
    * then cluster); each vector lives in exactly one cell, so more
    * probes widen the candidates (~nprobe/k of the corpus) without
    * duplicates. Scoring EQUI-joins the probed cells' candidates to
    * exactly the queries routed there — never corpus × queries — and
    * `variant` ranks them (score, then `vec_id`), `topK` per query. A
    * query's rows do not depend on the rest of its batch.
    *
    * Only [[Exact]] takes a `filter`. `requireFresh` refuses an index
    * whose corpus has moved past the pinned version.
    */
  def search(spark: SparkSession, indexRoot: String, variant: Variant,
             queryVecIds: Seq[Long], topK: Int, nprobe: Int = 1,
             filter: Option[Column] = None,
             requireFresh: Boolean = false): DataFrame = {
    require(queryVecIds.nonEmpty, "AnnIndex.search needs query ids")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(filter.isEmpty || variant == Exact,
      s"ANN variant '${variant.name}' serves unfiltered — its ranking " +
        "payload carries no corpus attributes; use the exact variant for " +
        "predicate search")
    graft.catalyst.CosineSim.register(spark)
    val corpus = loadPinnedCorpus(spark, indexRoot, requireFresh)
    val oneQuery = queryVecIds.size == 1
    // the query vectors are fetched UNfiltered: asking for neighbors of
    // a row the filter excludes is legitimate. A batch's vectors are
    // fetched by ONE job and held on the driver, so routing and the ADC
    // tables reuse them instead of re-scanning the corpus per exchange
    val fetched = rankingShape(corpus, None)
      .filter(col("vec_id").isin(queryVecIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val queries = if (oneQuery) fetched else localized(fetched)
    // the routed cells carry their query's vector, so scoring needs no
    // second join to the queries
    val routed = perQueryTopK(
        onePart(sideTable(spark, s"$indexRoot/centroids", centroidsSchema))
          .crossJoin(broadcast(queries))
          .select(col("q_id"), col("qv"), col("cluster"),
            cosine(col("cv"), col("qv")).as("cs")),
        nprobe, oneQuery, col("cs").desc, col("cluster"))
      .select(col("q_id"), col("qv"), col("cluster").as("best_cluster"))
    val probed = TxLogTable(spark, s"$indexRoot/assignments")
      .snapshot(assignmentsSchema)
      .join(broadcast(routed), col("cluster") === col("best_cluster"))
    perQueryTopK(
      variant.scored(Probe(spark, indexRoot, corpus, filter, queries, probed))
        .select(col("q_id"), col("vec_id"), col("cluster"),
          col(variant.score)),
      topK, oneQuery, variant.order: _*)
  }
}
