package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TxLogTable

/** Persisted, incrementally-maintained MATERIALIZED VIEWS over tx-log
  * tables — the production form of the `ivm_refresh*` consumption pattern
  * ([[IncrementalAgg]]): the view is itself a tx-log table, its refresh is
  * ONE transactional commit, and the refresh cost is O(changed groups),
  * never O(source) and never O(view).
  *
  * The reference pipeline rebuilds derived tables wholesale each run
  * (logic.py:447-476 recomputes the occupancy rollup from scratch); at
  * 100 TB of events with an hourly append cadence a rebuild touches a
  * year's files to absorb an hour's. This module maintains the standard
  * additive-view shape — GROUP BY keys with COUNT(*) and SUM(measure)s —
  * by the counting algorithm over the engine's exact CDC feed
  * ([[TxLogTable.changesWithDeletes]]): inserts increment, full-row
  * deletes decrement, a group leaves the view when its count reaches 0.
  * AVG is `sum/count` at read; non-additive state (distinct sets, exact
  * quantiles) stays a recompute or a sketch by design.
  *
  * Scale anatomy of one refresh:
  *  - the feed reads ONLY the files the walked versions added/diffed,
  *    projected to the view's columns (group keys + summed measures —
  *    parquet column pruning does the rest);
  *  - the delta aggregate is map-side partial, shuffling at most
  *    |changed groups| rows, and comes to the driver in one bounded take
  *    (a window touching more groups than the mask cap recomputes);
  *  - the changed groups' current rows are read once, with their
  *    positions, and folded on the driver; the write
  *    ([[TxLogTable.foldKeyedAt]]) is one small DV parquet masking them
  *    plus the replacement rows, both written on the driver (no Spark
  *    job) — the view's other billion groups are untouched manifest
  *    references;
  *  - progress (`#mvsrc=<source version>`) rides the SAME manifest write,
  *    so a refresh is exactly-once by the commit protocol itself: a crash
  *    before the manifest leaves only unreferenced staged files (vacuum
  *    food), a crash after is a completed refresh. A racing duplicate
  *    refresh re-masks the winner's identical rows — idempotent content.
  *
  * Sums accumulate in DECIMAL(38,6), so fold ≡ recompute is bit-exact
  * (the engine's doubles-shuffle-order rule) — the `sql_mv_incremental`
  * oracle hash-checks exactly that, and MvPropertySpec fuzzes it under
  * random DML programs.
  *
  * Fold-safety triage per walked source version:
  *  - appends and DV commits feed exact events; layout rewrites are
  *    skipped (`skipRewrites`);
  *  - copy-on-write row DML ([[TxLogTable.CowDiffOps]]) folds LINEARLY
  *    into a view whose measures are all SUM/COUNT: each version's rows
  *    are read signed (+1 per row of a file it added, −1 per row of a
  *    file it removed, each through its version's mask) and aggregate
  *    straight to per-group deltas, Σ(added) − Σ(removed) — rows the
  *    rewrite carried cancel inside the sum, so no row-exact diff is
  *    needed. A group only copy-on-write versions touched whose count,
  *    sums and signed non-NULL count per sum all net to zero (a group
  *    the rewrite only carried, a value swap inside the group) cannot
  *    change and is dropped before the fold, so `groupsChanged` never
  *    exceeds the netted feed's group count. A view with MIN/MAX (and the HLL views built on MAX) reads
  *    the NETTED feed — [[TxLogTable.changesWithDeletes]], which content-
  *    diffs each version — as do dimension windows, streams and the
  *    public change feed;
  *  - keys-only MOR deletes fold as GROUP DROPS at their exact position
  *    in the version sequence (a later re-insert of the key survives),
  *    provided the tombstone keys are a subset of the view's group
  *    columns — the drop then provably empties whole groups;
  *  - anything else that REMOVED files (overwrite, publish, a vacuumed
  *    predecessor) is a RESET: refresh falls back to a full recompute,
  *    still one atomic commit. Unknown ops that only ADD files fold as
  *    plain inserts — future-proof by construction.
  *
  * Source vacuum safety: every MV registers a change-feed cursor
  * (`mv:<name>`) on the SOURCE at its consumed version — the same floor
  * streaming checkpoints use — so the feed window can never be vacuumed
  * away underneath a lagging view.
  *
  * View maintenance: refreshes accrue positional-delete masks on the
  * view until they are folded (the standard DV tradeoff). A refresh
  * that would cross `maxDvMaskRows` folds them ITSELF — one compact
  * commit, then the fold re-anchors on the compacted head — so
  * streaming-cadence views self-maintain; with
  * `spark.graft.mv.autoCompact=false` it refuses with the compact
  * instruction instead. A single window that touches more groups than
  * the cap could never commit incrementally, so it recomputes. Layout rewrites are expressly NOT tampering — the
  * engine-maintained head check admits [[TxLogTable.RewriteOps]], so
  * `CALL system.compact/optimize/vacuum` on a view are routine.
  */
object MaterializedView {

  /** Per-group row count every MV carries: the counting-algorithm state (a
    * group leaves the view exactly when it reaches 0) and the COUNT(*)
    * face of the view. */
  val CountCol = "mv_count"

  /** Sum accumulator type — exact decimal arithmetic makes the incremental
    * fold bit-equal to a recompute regardless of delta order. */
  val SumType: DecimalType = DecimalType(38, 6)

  /** A view definition: `sums` maps output column → summed source column;
    * `projDdl` pins the projected source schema (names AND types) at
    * create time — a later rename/widen of a projected source column is a
    * loud refresh refusal, not silent drift.
    *
    * `derives` are ROW-LOCAL computed columns `(name, typeDdl, sqlExpr)`
    * applied after the dim join and before the filter: each is a pure
    * function of one row, so it commutes with the change feed and the
    * incremental-fold proof carries unchanged. They serve two ends:
    * computed group keys (`date_trunc` rollups — the most common
    * production MV shape) and SKETCH state (an HLL register view groups
    * by a derived hash bucket with a derived rank measure; a power-of-2
    * histogram view groups by a derived bit-length bucket). The type is
    * resolved once at create time and pinned in mv.def. */
  /** One dimension of a star view: the dim table's root, the
    * (fact column, dim column) equi-join pairs, and the pinned dim-side
    * projection DDL. A view may carry any number of these (N-dim star);
    * each gets its own version pin, vacuum cursor and delta gate. */
  final case class MvDim(root: String, join: Seq[(String, String)],
                         projDdl: String) {
    def projSchema: StructType = StructType.fromDDL(projDdl)
  }

  final case class MvDef(name: String, source: String,
                         groupCols: Seq[String],
                         sums: Seq[(String, String)],
                         projDdl: String,
                         filterExpr: Option[String] = None,
                         dims: Seq[MvDim] = Nil,
                         mins: Seq[(String, String)] = Nil,
                         maxs: Seq[(String, String)] = Nil,
                         derives: Seq[(String, String, String)] = Nil) {
    def projSchema: StructType = StructType.fromDDL(projDdl)
    def cursorName: String = s"mv:$name"
    def dimCursorName(i: Int): String =
      if (i == 0) s"mv:$name#dim" else s"mv:$name#dim$i"
    def mvSchema: StructType = {
      val fields = projSchema.fields ++
        dims.flatMap(_.projSchema.fields) ++
        derives.map { case (n, t, _) =>
          StructField(n, org.apache.spark.sql.catalyst.parser
            .CatalystSqlParser.parseDataType(t)) }
      def typed(src: String): org.apache.spark.sql.types.DataType =
        fields.find(_.name == src).get.dataType
      StructType(
        groupCols.map(g => fields.find(_.name == g).get) ++
          sums.map { case (out, _) => StructField(out, SumType) } ++
          mins.map { case (out, src) => StructField(out, typed(src)) } ++
          maxs.map { case (out, src) => StructField(out, typed(src)) } :+
          StructField(CountCol, LongType, nullable = false))
    }
  }

  /** `mode` ∈ noop | incremental | full; `groupsChanged` counts the
    * groups the refresh changed — for a full recompute, every group of
    * the recomputed view: its row count, summed from the committed
    * files' manifest row counts (no job; -1 only if a file lacks one). */
  final case class RefreshStats(mode: String, fromVersion: Int,
                                toVersion: Int, groupsChanged: Long,
                                mvVersion: Int)

  /** Overlap the refresh's independent frame materializations
    * (optimization guide §2.6): each bounded `take` below runs its own
    * AQE stage-materialization train of sub-second jobs; the trains
    * share no data across fold steps / dims, so running them
    * back-to-back would leave the cluster idle during each train's tail
    * and pay every per-action fixed cost serially. Order-preserving,
    * lowest-index failure rethrown — see [[graft.util.Overlap]]. */
  private def inParallel[A](thunks: Seq[() => A]): Seq[A] =
    graft.util.Overlap.inParallel(thunks)

  private val MvOps = Set("create", "mv-create", "mv-refresh",
    "mv-refresh-full")

  // a fork of an engine-maintained view is engine-maintained, and so is
  // a publish whose content came off such a branch (the WAP gate in
  // [[publishWap]] requires the branch view current before publishing)
  private val BranchOps = Set("branch", "publish")

  // source ops whose versions the incremental fold consumes EXACTLY:
  // appends feed raw adds, CowDiffOps are content-diffed, DV commits emit
  // masked rows, RewriteOps are skipped wholesale, delete-mor is
  // segmented into group drops by refresh() itself
  private val FoldableOps: Set[String] =
    Set("append", "delete-dv", "update-dv", "upsert-dv", "delete-mor",
      "mv-create", "mv-refresh") ++
      TxLogTable.CowDiffOps ++ TxLogTable.RewriteOps

  // changed-key sets at or under this size push into the fact scan as
  // an IN predicate (driver-enumerable, stats-prunable); larger sets
  // stay a broadcast semi-join over the full scan
  private val MaxDimDeltaPushdownPoints = 1024L

  // the definition is BRANCH-INVARIANT: branches of a view share the
  // main table's mv.def (a fork cannot change what the view computes)
  private def defPath(mvRoot: String) =
    Paths.get(TxLogTable.pathOfRoot(mvRoot), "_log", "mv.def")

  private def encodeDef(d: MvDef): String =
    (Seq(s"name=${d.name}", s"source=${d.source}",
      s"groupCols=${d.groupCols.mkString(",")}") ++
      d.sums.map { case (out, src) => s"sum=$out:$src" } ++
      d.mins.map { case (out, src) => s"min=$out:$src" } ++
      d.maxs.map { case (out, src) => s"max=$out:$src" } ++
      d.derives.map { case (n, t, e) => s"derive=$n:$t:$e" } ++
      d.filterExpr.map(f => s"filter=$f") ++
      // one (dim, dimJoin, dimProj) line TRIPLET per dimension, in
      // order — the decode zips the three repeated keys positionally
      d.dims.flatMap { dm =>
        Seq(s"dim=${dm.root}",
          "dimJoin=" +
            dm.join.map { case (a, b) => s"$a:$b" }.mkString(","),
          s"dimProj=${dm.projDdl}")
      } :+
      s"proj=${d.projDdl}").mkString("\n") + "\n"

  private def decodeDef(s: String): MvDef = {
    val kvs = s.linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"malformed mv.def line: $l")
      l.substring(0, i) -> l.substring(i + 1)
    }.toSeq
    def one(k: String): String = kvs.collectFirst {
      case (`k`, v) => v }.getOrElse(
      throw new IllegalStateException(s"mv.def missing '$k'"))
    val dimRoots = kvs.collect { case ("dim", v) => v }
    val dimJoins = kvs.collect { case ("dimJoin", v) =>
      v.split(',').toSeq.filter(_.nonEmpty).map { t =>
        val i = t.indexOf(':')
        require(i > 0, s"malformed mv.def dimJoin: $t")
        t.substring(0, i) -> t.substring(i + 1)
      } }
    val dimProjs = kvs.collect { case ("dimProj", v) => v }
    require(dimRoots.length == dimJoins.length &&
      dimRoots.length == dimProjs.length,
      s"mv.def dim/dimJoin/dimProj counts differ: ${dimRoots.length}/" +
        s"${dimJoins.length}/${dimProjs.length}")
    MvDef(one("name"), one("source"),
      one("groupCols").split(',').toSeq.filter(_.nonEmpty),
      kvs.collect { case ("sum", v) =>
        val i = v.indexOf(':')
        require(i > 0, s"malformed mv.def sum: $v")
        v.substring(0, i) -> v.substring(i + 1)
      },
      one("proj"),
      kvs.collectFirst { case ("filter", v) => v },
      dimRoots.lazyZip(dimJoins).lazyZip(dimProjs)
        .map { (r, j, p) => MvDim(r, j, p) },
      kvs.collect { case ("min", v) =>
        val i = v.indexOf(':')
        require(i > 0, s"malformed mv.def min: $v")
        v.substring(0, i) -> v.substring(i + 1)
      },
      kvs.collect { case ("max", v) =>
        val i = v.indexOf(':')
        require(i > 0, s"malformed mv.def max: $v")
        v.substring(0, i) -> v.substring(i + 1)
      },
      kvs.collect { case ("derive", v) =>
        // name:typeDdl:expr — name and type are ':'-free by the create
        // validation; the expr may contain anything single-line
        val i = v.indexOf(':')
        require(i > 0, s"malformed mv.def derive: $v")
        val j = v.indexOf(':', i + 1)
        require(j > i + 1, s"malformed mv.def derive: $v")
        (v.substring(0, i), v.substring(i + 1, j), v.substring(j + 1))
      })
  }

  /** The masked reads under a snapshot or feed need the table's MOR
    * tombstone KEY columns for the mask join, whether or not the view's
    * projection carries them: extend the projection with the missing keys
    * (typed from the tombstone parquet footer) across the versions `vs`
    * the read will touch. Extra columns are ignored by the fold's
    * aggregates and dropped before a snapshot aggregate.
    */
  private def extProj(src: TxLogTable, proj: StructType,
                      vs: Seq[Int]): StructType =
    vs.find(v => src.tombstonesOf(v).nonEmpty) match {
      case None => proj
      case Some(v) =>
        val missing = src.morKeysOf(v).filterNot(proj.fieldNames.contains)
        if (missing.isEmpty) proj
        else {
          val ks = src.tombstoneKeySchema(v).get
          StructType(proj.fields ++ missing.map(m =>
            ks.fields.find(_.name == m).getOrElse(
              throw new IllegalStateException(
                s"tombstone key $m is missing from the tombstone file"))))
        }
    }

  private def filtered(rows: DataFrame, d: MvDef): DataFrame =
    d.filterExpr.fold(rows)(f => rows.filter(expr(f)))

  /** Enrich (inner joins against the version-pinned dimensions, in
    * definition order) then filter — the row-local prefix
    * both the initial aggregate and every feed fold run before grouping.
    * Inner joins: a fact row with no dim match contributes nothing, and
    * its later delete event joins nothing either — symmetric, so the
    * fold stays exact. Each dim side is required unique on its join keys
    * (checked at create and at every full refresh; incremental refreshes
    * pin the dim versions, so the check cannot rot between them).
    * Dim snapshots arrive from [[dimSnapOf]], which decides the
    * broadcast only while the dim is provably broadcast-sized — small
    * dims keep the guaranteed map-side star plan, a huge dim enriches
    * through an ordinary shuffle join.
    */
  private def prepared(rows: DataFrame, d: MvDef,
                       dimSnaps: Seq[DimSnap]): DataFrame = {
    require(dimSnaps.length == d.dims.length,
      "dim snapshots must be supplied exactly one per view dimension")
    val joined = d.dims.zip(dimSnaps).foldLeft(rows) {
      case (acc, (dm, ds)) =>
        val cond = dm.join.map { case (f, k) => acc(f) === ds.df(k) }
          .reduce(_ && _)
        acc.join(ds.build, cond, "inner")
    }
    // row-local derived columns (after the join so they may combine both
    // sides, before the filter so the filter may reference them); the
    // pinned type is re-asserted so a function whose result type drifted
    // across an engine upgrade fails loudly instead of folding mixed types
    val derived = d.derives.foldLeft(joined) { case (acc, (n, t, e)) =>
      acc.withColumn(n, expr(e).cast(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(t)))
    }
    filtered(derived, d)
  }

  /** A pinned dim snapshot and whether enrichment joins broadcast it:
    * only while the dim's EXACT manifest row count is known (no live MOR
    * tombstones) and under `spark.graft.mv.maxBroadcastDimRows`. Under
    * the cap this pins the classic star plan — the dim builds map-side,
    * the fact never shuffles for the join. Past it (or count unknown)
    * there is no hint and Catalyst/AQE plan the enrichment like any
    * large join, shuffling on the FK — a billion-row dim is then merely
    * a bigger join, never a forced driver-OOM broadcast. The decision
    * costs one O(manifest) metadata read per pinned version;
    * correctness is identical either way. The hint goes on at the join
    * ([[DimSnap.build]]), never on the frame: the same snapshot also
    * feeds collects and aggregates (uniqueness probes, the key diff),
    * where a hint no join consumes is dropped with a warning.
    */
  private final case class DimSnap(df: DataFrame, bcast: Boolean) {
    def build: DataFrame = if (bcast) broadcast(df) else df
  }

  private def dimSnapOf(spark: SparkSession, dt: TxLogTable,
                        projSchema: StructType, v: Int): DimSnap =
    // collect ONCE and pin the snapshot as a driver-local relation: a
    // refresh runs many actions, and each action's BroadcastExchange
    // would otherwise re-scan and re-collect these same rows to the
    // driver again (plus re-analyze the whole snapshot subtree). The
    // bytes on the driver are what a single broadcast build already
    // holds; the LocalRelation leaf stops paying it per action, and the
    // process-wide stamped memo behind localPinnedSnapshot stops a
    // refresh LOOP from re-collecting the same immutable version once
    // per refresh.
    dt.localPinnedSnapshot(projSchema, v,
        TxLogTable.maxLocalDimRows(spark)) match {
      case Some(local) => DimSnap(local, bcast = true)
      case None =>
        DimSnap(dt.snapshot(projSchema, Some(v)), dt.metaRowCount(Some(v))
          .exists(_ <= TxLogTable.maxBroadcastDimRows(spark)))
    }

  /** Join-key types whose DRIVER equality (boxed `equals` on collected
    * Row values) coincides with SQL `===`: atomic, non-floating, non-
    * binary. Doubles are excluded (-0.0 vs 0.0 disagree), binary is
    * excluded (array reference equality) — key sets touching those stay
    * on the distributed join path.
    */
  private def sqlEqualsSafe(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }

  /** The rows of `df` when it is already a driver-local relation
    * (the under-cap dim snapshot from [[dimSnapOf]]) AND every `keys`
    * column has driver-safe equality — collect() on such a frame
    * short-circuits to the in-memory rows with no Spark job. Returns the
    * rows plus the key field indices; None routes the caller to the
    * distributed path.
    */
  private def localKeyedRows(df: DataFrame, keys: Seq[String])
      : Option[(Seq[Row], Seq[Int])] = {
    val isLocal = df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val schema = df.schema
    if (isLocal && keys.forall(k => schema.fields.find(_.name == k)
          .exists(f => sqlEqualsSafe(f.dataType))))
      Some((df.collect().toIndexedSeq, keys.map(schema.fieldIndex)))
    else None
  }

  private def checkDimUnique(dimSnap: DataFrame, keys: Seq[String]): Unit =
    localKeyedRows(dimSnap, keys) match {
      case Some((rows, idx)) =>
        // the snapshot is already a driver-local relation (the pinned
        // small-dim case): probe uniqueness over the in-memory rows —
        // a distributed groupBy here would cost a full Spark action per
        // dim per create/recompute. NULL keys group as one key exactly
        // like SQL GROUP BY (tuple equality: null == null), so two
        // null-keyed rows refuse on both paths.
        val dup = rows.iterator.map(r => idx.map(r.get).toIndexedSeq)
          .foldLeft(Map.empty[IndexedSeq[Any], Long]) { (m, k) =>
            m.updated(k, m.getOrElse(k, 0L) + 1L) }
          .find(_._2 > 1)
        require(dup.isEmpty,
          s"dim join keys ${keys.mkString(",")} are not unique in the " +
            s"dimension (e.g. ${dup.map { case (k, n) =>
              (k :+ n).mkString("[", ",", "]") }.getOrElse("")}) — a " +
            "fact row must enrich to at most one dim row")
      case None =>
        val dup = dimSnap.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          s"dim join keys ${keys.mkString(",")} are not unique in the " +
            s"dimension (e.g. ${dup.headOption.getOrElse("")}) — a fact " +
            "row must enrich to at most one dim row")
    }

  /** Range-cluster a full view state by its group keys before a create /
    * full-refresh commit: every base file then covers a TIGHT, disjoint
    * key range, so [[TxLogTable.foldKeyedAt]]'s manifest prune narrows
    * the keyed read to the files the touched groups actually live in — the
    * refresh's READ side stays O(touched files), not O(view), at a
    * billion groups. A hash-partitioned aggregate output would spread
    * every file across the full key range and defeat that prune
    * structurally. Incremental replacement files are changed-groups-
    * sized and fold back into the clustered base at compact.
    */
  private def clustered(state: DataFrame, d: MvDef): DataFrame = {
    val keys = d.groupCols.map(col)
    state.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
  }

  private def aggregate(prepped: DataFrame, d: MvDef): DataFrame = {
    val aggs = d.sums.map { case (out, src) =>
        sum(col(src).cast(SumType)).as(out) } ++
      d.mins.map { case (out, src) => min(col(src)).as(out) } ++
      d.maxs.map { case (out, src) => max(col(src)).as(out) } :+
      count(lit(1)).as(CountCol)
    prepped.groupBy(d.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The counting fold over driver rows: the same result, bit for bit, as
    * folding the same frames through
    * `union(state, delta).groupBy(keys).agg(sum, min, max, sum(count))`
    * pairwise in step order (what the refresh ran as Spark plans while
    * its deltas stayed distributed):
    *  - groups are keyed by [[GroupKeys]], the aggregate's own equality
    *    (NULL, floating-point and binary keys stay exact);
    *  - a SUM ignores NULL inputs and is NULL only when both inputs are;
    *    an exact sum outside [[SumType]] is NULL (an error under ANSI), as
    *    Spark's decimal SUM;
    *  - MIN/MAX ignore NULLs and keep the current value on a tie;
    *  - a group whose count reaches 0 stays in the state — a later step
    *    may re-create it — and leaves the output;
    *  - a [[GroupFold.Drop]] removes every group whose tombstone-key
    *    columns equal a tombstone row's (null-safe, compared in the
    *    common type, as `<=>`).
    * Rows in and out are external rows in the view's column order (or
    * its group-column prefix for [[keyOf]]); the state is Catalyst values.
    */
  private final class GroupFold(d: MvDef, spark: SparkSession) {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters,
      InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
      UnsafeRow}
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import org.apache.spark.sql.graft.GroupKeys

    private val schema = d.mvSchema
    private val g = d.groupCols.length
    private val nSum = d.sums.length
    private val nMin = d.mins.length
    private val nMax = d.maxs.length
    private val keySchema = StructType(schema.fields.take(g))
    private val tz = spark.sessionState.conf.sessionLocalTimeZone
    private val ansi = spark.sessionState.conf.ansiEnabled
    private val toInternal =
      CatalystTypeConverters.createToCatalystConverter(schema)
    private val keyToInternal =
      CatalystTypeConverters.createToCatalystConverter(keySchema)
    private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    private val keyToRow =
      CatalystTypeConverters.createToScalaConverter(keySchema)
    private val keyProj = GroupKeys.projection(
      keySchema.fields.indices.map(i =>
        (i, keySchema(i).dataType, keySchema(i).dataType)), tz)
    private lazy val ords = schema.fields.map(f =>
      TypeUtils.getInterpretedOrdering(f.dataType))
    private val maxSum = java.math.BigInteger.TEN.pow(SumType.precision)

    /** The group key of a row whose first columns are the group columns. */
    def keyOf(r: Row): UnsafeRow =
      keyProj(keyToInternal(Row.fromSeq(r.toSeq.take(g)))
        .asInstanceOf[InternalRow]).copy()

    def keyRow(k: UnsafeRow): Row = keyToRow(k).asInstanceOf[Row]

    /** `state` (current view rows) folded through `steps`, in order; the
      * groups left with rows, as view rows. */
    def fold(state: Seq[Row], steps: Seq[GroupFold.Step]): Seq[Row] = {
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[UnsafeRow, Array[Any]]
      def plus(rows: Seq[Row]): Unit = rows.foreach { r =>
        val ir = toInternal(r).asInstanceOf[InternalRow]
        val k = keyProj(ir).copy()
        val m = Array.tabulate[Any](schema.length - g)(j =>
          ir.get(g + j, schema(g + j).dataType))
        acc(k) = acc.get(k).fold(m)(merged(_, m))
      }
      plus(state)
      steps.foreach {
        case GroupFold.Plus(rows) => plus(rows)
        case GroupFold.Drop(rows, tSchema, keys) =>
          val at = keys.map(d.groupCols.indexOf)
          val common = keys.zip(at).map { case (k, i) =>
            val (a, b) = (keySchema(i).dataType, tSchema(k).dataType)
            org.apache.spark.sql.catalyst.analysis.TypeCoercion
              .findWiderTypeForTwo(a, b).getOrElse(a)
          }
          val ofState = GroupKeys.projection(at.zip(common).map {
            case (i, t) => (i, keySchema(i).dataType, t) }, tz)
          val ofTomb = GroupKeys.projection(keys.zip(common).map {
            case (k, t) => (tSchema.fieldIndex(k), tSchema(k).dataType, t)
          }, tz)
          val conv = CatalystTypeConverters.createToCatalystConverter(tSchema)
          val gone = rows.iterator.map(r =>
            ofTomb(conv(r).asInstanceOf[InternalRow]).copy()).toSet
          acc.filterInPlace((k, _) => !gone(ofState(k)))
      }
      acc.iterator.collect {
        case (k, m) if m.last.asInstanceOf[Long] > 0L =>
          toRow(new GenericInternalRow(Array.tabulate[Any](g)(i =>
            k.get(i, keySchema(i).dataType)) ++ m)).asInstanceOf[Row]
      }.toSeq
    }

    // one group's measures after a pairwise re-aggregation
    private def merged(a: Array[Any], b: Array[Any]): Array[Any] =
      Array.tabulate(a.length) { j =>
        val (x, y) = (a(j), b(j))
        if (x == null) y
        else if (y == null) x
        else if (j < nSum) {
          val s = x.asInstanceOf[Decimal].toJavaBigDecimal
            .add(y.asInstanceOf[Decimal].toJavaBigDecimal)
          if (s.unscaledValue.abs.compareTo(maxSum) < 0)
            Decimal(s, SumType.precision, SumType.scale)
          else if (ansi) throw new ArithmeticException(
            s"MV sum ${schema(g + j).name} overflows ${SumType.sql}")
          else null
        }
        else if (j < nSum + nMin) { if (ords(g + j).lt(y, x)) y else x }
        else if (j < nSum + nMin + nMax) { if (ords(g + j).gt(y, x)) y else x }
        else x.asInstanceOf[Long] + y.asInstanceOf[Long]
      }
  }

  private object GroupFold {
    sealed trait Step
    /** Counting-delta rows in the view's column order. */
    final case class Plus(rows: Seq[Row]) extends Step
    /** A MOR drop: the tombstone key rows, their schema and key columns. */
    final case class Drop(rows: Seq[Row], schema: StructType,
                          keys: Seq[String]) extends Step
  }

  /** Create the view at `mvRoot` over `source`'s CURRENT snapshot and
    * record the consumed source version — one initial aggregate, one
    * commit, one source cursor. `sums` = (output column, summed source
    * column) pairs; the view's schema is groupCols ++ sums ++ mv_count.
    */
  def create(spark: SparkSession, mvRoot: String, name: String,
             source: TxLogTable, srcSchema: StructType,
             groupCols: Seq[String], sums: Seq[(String, String)],
             filterExpr: Option[String] = None,
             mins: Seq[(String, String)] = Nil,
             maxs: Seq[(String, String)] = Nil,
             derives: Seq[(String, String)] = Nil): Int =
    createImpl(spark, mvRoot, name, source, srcSchema, Nil, groupCols,
      sums, filterExpr, mins, maxs, derives)

  /** Create a STAR-SCHEMA view: `fact JOIN dim ON joinOn` (inner,
    * broadcast — the dim must be unique on its join keys) grouped and
    * summed; group/sum/filter columns may come from EITHER side, resolved
    * by name (projected names must be disjoint). The dim is PINNED at its
    * create-time version: fact deltas fold incrementally against the
    * pinned dim snapshot, and a dim change folds as a DIM DELTA (changed
    * join keys → affected fact rows → a signed re-enrichment of exactly
    * those groups, which re-pins) — O(dim delta + affected rows), never
    * O(view). MIN/MAX measures block the signed fold but not the key
    * derivation: their affected groups route through the GROUP-TARGETED
    * partial recompute from (fact@head ⋈ dim@head) — still
    * mode=incremental, write-side O(affected groups). An unreplayable
    * dim window or a changed-key set past the broadcast cap fall back
    * to one full recompute. Both tables get vacuum cursors.
    */
  def createJoined(spark: SparkSession, mvRoot: String, name: String,
                   fact: TxLogTable, factSchema: StructType,
                   dim: TxLogTable, dimSchema: StructType,
                   joinOn: Seq[(String, String)],
                   groupCols: Seq[String], sums: Seq[(String, String)],
                   filterExpr: Option[String] = None,
                   mins: Seq[(String, String)] = Nil,
                   maxs: Seq[(String, String)] = Nil,
                   derives: Seq[(String, String)] = Nil): Int =
    createStar(spark, mvRoot, name, fact, factSchema,
      Seq((dim, dimSchema, joinOn)), groupCols, sums, filterExpr,
      mins, maxs, derives)

  /** [[createJoined]] for an N-DIMENSIONAL star: ONE view handle over
    * `fact JOIN dim1 JOIN dim2 …` (each inner, broadcast, unique on its
    * join keys). Every dim carries its own version pin, vacuum cursor
    * and delta gate, so DML on the fact and on ANY subset of the dims
    * absorbs in one [[refresh]] — fact deltas fold against the pinned
    * dims, each moved dim folds as its own signed correction (applied
    * in dim order: correction i sees dims before it at their new heads,
    * dims after it still pinned — the telescoping sum is exactly the
    * recompute), and MIN/MAX views route each moved dim's affected
    * groups through the group-targeted recompute. No chained
    * star-over-star views, one stored state, one refresh hop.
    */
  def createStar(spark: SparkSession, mvRoot: String, name: String,
                 fact: TxLogTable, factSchema: StructType,
                 dims: Seq[(TxLogTable, StructType,
                   Seq[(String, String)])],
                 groupCols: Seq[String], sums: Seq[(String, String)],
                 filterExpr: Option[String] = None,
                 mins: Seq[(String, String)] = Nil,
                 maxs: Seq[(String, String)] = Nil,
                 derives: Seq[(String, String)] = Nil): Int =
    createImpl(spark, mvRoot, name, fact, factSchema,
      dims, groupCols, sums, filterExpr, mins, maxs, derives)

  private def createImpl(spark: SparkSession, mvRoot: String, name: String,
                         source: TxLogTable, srcSchema: StructType,
                         dimSpecs: Seq[(TxLogTable, StructType,
                           Seq[(String, String)])],
                         groupCols: Seq[String],
                         sums: Seq[(String, String)],
                         filterExpr: Option[String],
                         mins: Seq[(String, String)],
                         maxs: Seq[(String, String)],
                         derives: Seq[(String, String)] = Nil): Int = {
    require(groupCols.nonEmpty, "an MV needs at least one group column")
    // count-only views (GROUP BY keys with just mv_count — the histogram
    // shape) are legitimate: mv_count is itself the measure
    require(!mvRoot.contains(TxLogTable.BranchSep),
      "an MV root is a plain table path, not a branch handle")
    val measures = sums ++ mins ++ maxs
    val outNames = groupCols ++ measures.map(_._1) :+ CountCol
    require(outNames.distinct == outNames,
      s"MV output columns collide: ${outNames.mkString(", ")}")
    (groupCols ++ measures.map(_._2) ++ measures.map(_._1)).foreach(c =>
      require(!c.exists(",:=\n".contains(_)),
        s"MV column '$c' contains an mv.def wire delimiter"))
    require(!name.exists(",:=\n".contains(_)) && name.nonEmpty,
      s"MV name '$name' must be non-empty and delimiter-free")
    val dimSchemas = dimSpecs.map(_._2)
    val deriveNames = derives.map(_._1)
    require(deriveNames.distinct == deriveNames,
      s"MV derive names collide: ${deriveNames.mkString(", ")}")
    derives.foreach { case (n, e) =>
      require(n.nonEmpty && !n.exists(",:=\n".contains(_)),
        s"MV derive name '$n' must be non-empty and delimiter-free")
      require(!e.contains('\n'), s"MV derive '$n' must be a single line")
      require(!srcSchema.fieldNames.contains(n) &&
        !dimSchemas.exists(_.fieldNames.contains(n)),
        s"MV derive '$n' shadows a source column")
    }
    def refsOf(e: String, what: String): Seq[String] =
      spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          require(a.nameParts.length == 1,
            s"MV $what must use simple column names, got ${a.name}")
          a.nameParts.head
      }.distinct
    // every referenced SOURCE column must live on exactly one side;
    // group/measure/filter references may also resolve to a derive
    def checkRef(c: String): Unit = if (!deriveNames.contains(c)) {
      val sides = (if (srcSchema.fieldNames.contains(c)) 1 else 0) +
        dimSchemas.count(_.fieldNames.contains(c))
      require(sides > 0,
        s"MV column $c is in neither the fact nor any dim schema")
      require(sides == 1,
        s"MV column $c is ambiguous — present on multiple sides")
    }
    // a filtered view (WHERE before aggregation — the common production
    // shape) folds exactly: the filter is row-local, so it commutes with
    // the change feed; its referenced columns join the pinned projection
    val filterRefs: Seq[String] = filterExpr.toSeq.flatMap { f =>
      require(!f.contains('\n'), "MV filter must be a single line")
      refsOf(f, "filter")
    }
    // a derive reads RAW columns only (no chaining — keeps the def's
    // dependency order trivial); its refs join the pinned projection
    val deriveRefs: Seq[String] = derives.flatMap { case (n, e) =>
      val rs = refsOf(e, s"derive $n")
      rs.foreach(r => require(!deriveNames.contains(r),
        s"MV derive '$n' references derive '$r' — derives read source " +
          "columns only"))
      rs
    }.distinct
    val referenced =
      (groupCols ++ measures.map(_._2) ++ filterRefs ++ deriveRefs)
        .distinct.filterNot(deriveNames.contains)
    (groupCols ++ measures.map(_._2)).foreach(checkRef)
    (filterRefs ++ deriveRefs).foreach(checkRef)
    dimSpecs.foreach { case (_, ds, joinOn) =>
      require(joinOn.nonEmpty, "a joined view needs at least one join key")
      joinOn.foreach { case (f, k) =>
        require(srcSchema.fieldNames.contains(f),
          s"join key $f is not a fact column")
        require(ds.fieldNames.contains(k),
          s"join key $k is not a dim column")
        require(!Seq(f, k).exists(_.exists(",:=\n".contains(_))),
          s"join key '$f:$k' contains an mv.def wire delimiter")
      }
    }
    val head = source.latestVersion.getOrElse(
      throw new IllegalArgumentException(
        "MV source table has no committed version yet"))
    val proj = StructType(srcSchema.fields.filter(f =>
      referenced.contains(f.name) ||
        dimSpecs.exists(_._3.exists(_._1 == f.name))))
    val dimProjs = dimSpecs.map { case (_, ds, joinOn) =>
      StructType(ds.fields.filter(f => referenced.contains(f.name) ||
        joinOn.exists(_._2 == f.name))) }
    locally {
      val all = proj.fieldNames.toSeq ++ dimProjs.flatMap(_.fieldNames)
      val dup = all.diff(all.distinct).distinct
      require(dup.isEmpty,
        s"fact and dim projections share names ${dup.mkString(",")} — " +
          "rename one side (the join output must be unambiguous)")
    }
    val dimHeads = dimSpecs.map(_._1.latestVersion.getOrElse(
      throw new IllegalArgumentException(
        "MV dim table has no committed version yet")))
    // resolve and PIN each derive's result type now: the mv.def records
    // name:type:expr, so every later fold re-asserts the create-time type
    val derivesTyped: Seq[(String, String, String)] = if (derives.isEmpty)
      Nil
    else {
      val base = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(proj.fields ++ dimProjs.flatMap(_.fields)))
      derives.map { case (n, e) =>
        val t = base.select(expr(e).as(n)).schema.head.dataType
        require(!t.sql.contains(':'),
          s"MV derive '$n' has a type with a wire delimiter: ${t.sql}")
        (n, t.sql, e)
      }
    }
    val d = MvDef(name, source.root, groupCols, sums, proj.toDDL,
      filterExpr,
      dimSpecs.zip(dimProjs).map { case ((dt, _, joinOn), dp) =>
        MvDim(dt.root, joinOn, dp.toDDL) },
      mins, maxs, derivesTyped)
    val dimSnaps = dimSpecs.zip(dimProjs).zip(dimHeads).map {
      case (((dt, _, _), dp), dh) => dimSnapOf(spark, dt, dp, dh) }
    d.dims.zip(dimSnaps).foreach { case (dm, ds) =>
      checkDimUnique(ds.df, dm.join.map(_._2)) }
    val mv = TxLogTable(spark, mvRoot)
    require(mv.latestVersion.isEmpty,
      s"MV destination already exists: $mvRoot")
    mv.create(d.mvSchema)
    TxLogTable.putIfAbsent(defPath(mvRoot), encodeDef(d).getBytes(UTF_8))
    val v = mv.commit(
      clustered(aggregate(prepared(
        source.snapshot(extProj(source, proj, Seq(head)),
          Some(head)), d, dimSnaps), d), d),
      overwrite = false, op = "mv-create",
      extraMeta = Seq(s"#mvsrc=$head") ++
        dimHeads.zipWithIndex.map { case (x, i) =>
          s"#${dimMetaKey(i)}=$x" })
    source.registerCursor(d.cursorName, head)
    dimSpecs.zip(dimHeads).zipWithIndex.foreach {
      case (((dt, _, _), dh), i) =>
        dt.registerCursor(d.dimCursorName(i), dh) }
    v
  }

  /** The definition recorded at create time; loud when `mvRoot` is not a
    * materialized view. */
  def definition(spark: SparkSession, mvRoot: String): MvDef = {
    val p = defPath(mvRoot)
    require(Files.exists(p),
      s"$mvRoot is not a materialized view (no _log/mv.def)")
    decodeDef(new String(Files.readAllBytes(p), UTF_8))
  }

  /** Source version the view last absorbed — the newest `#mvsrc=` in the
    * MV's own log (progress and data are one commit, so this never lies).
    */
  def lastSourceVersion(mv: TxLogTable): Int =
    lastSourceVersionAt(mv, Int.MaxValue)

  /** [[lastSourceVersion]] as of MV version `upTo` — the refresh fold
    * pins the MV head once and reads progress AT that head, so a
    * concurrent refresh committing mid-fold cannot desynchronize the
    * (base state, consumed version) pair the fold is anchored on. */
  private[graft] def lastSourceVersionAt(mv: TxLogTable, upTo: Int): Int =
    mv.versions.reverse.iterator.filter(_ <= upTo)
      .flatMap(v => mv.metaOf(v, "mvsrc").flatMap(_.toIntOption))
      .nextOption()
      .getOrElse(throw new IllegalStateException(
        s"MV at ${mv.root} has no recorded #mvsrc — not engine-maintained"))

  /** Progress-meta key for dim `i`: the first dim keeps the historical
    * bare `mvdim` (existing views stay readable); later dims suffix
    * their index. */
  private def dimMetaKey(i: Int): String =
    if (i == 0) "mvdim" else s"mvdim$i"

  /** Dim version the view last pinned (joined views only) — the newest
    * `#mvdim=` (dim `i`: `#mvdim<i>=`) in the MV's own log. */
  def lastDimVersion(mv: TxLogTable, i: Int = 0): Int =
    lastDimVersionAt(mv, Int.MaxValue, i)

  private[graft] def lastDimVersionAt(mv: TxLogTable, upTo: Int,
                                      i: Int = 0): Int =
    mv.versions.reverse.iterator.filter(_ <= upTo)
      .flatMap(v => mv.metaOf(v, dimMetaKey(i)).flatMap(_.toIntOption))
      .nextOption()
      .getOrElse(throw new IllegalStateException(
        s"MV at ${mv.root} has no recorded #${dimMetaKey(i)} — not a " +
          "joined view"))

  /** Test seam for the refresh race: invoked once per incremental
    * attempt after the fold is anchored (head + consumed version pinned)
    * and before the commit — a test injects a competing refresh here to
    * prove the loser detects the moved head and retries instead of
    * double-folding. Production value is a no-op. */
  private[graft] var betweenFoldAndCommitHook: () => Unit = () => ()

  /** One refresh: fold the source's change feed over
    * `(last consumed, head]` into the view — plus, when the pinned
    * dimension moved, a dim-delta fold of the changed dim keys' groups —
    * or recompute when the range crosses a reset, the dim window is not
    * exactly replayable, or `full = true`. No-op when already current.
    *
    * Concurrency: the fold is anchored on ONE pinned MV version — base
    * state, consumed source version and pinned dim version are all read
    * AT that version — and the commit refuses if the view's head moved
    * off it (a racing refresh/compact won). The loser retries from
    * scratch against the winner's state, so the same source window can
    * never be folded twice onto already-folded state.
    *
    * Failures: an error while probing a moved dimension — reading its
    * change feed for the changed join keys, or the snapshot diff that
    * stands in for it — fails the refresh, as an error reading the
    * source's own feed does; it is not degraded to a recompute. Nothing
    * is committed before the fold, so the view stays at its pre-refresh
    * version and content, and a retry once the cause is gone converges.
    * A damaged dimension window then shows up as an error rather than as
    * an O(view) recompute on every refresh; `full = true` recomputes from
    * the dimension heads when that window is gone for good.
    */
  def refresh(spark: SparkSession, mvRoot: String,
              full: Boolean = false): RefreshStats = {
    var attempt = 0
    while (attempt < 5) {
      try return refreshOnce(spark, mvRoot, full)
      catch { case _: TxLogTable.ConcurrentHeadMoved => attempt += 1 }
    }
    throw new IllegalStateException(
      s"MV refresh lost the head race 5 times: $mvRoot — a competing " +
        "maintainer is refreshing this view continuously")
  }

  private def refreshOnce(spark: SparkSession, mvRoot: String,
                          full: Boolean): RefreshStats = {
    val d = definition(spark, mvRoot)
    val mv = TxLogTable(spark, mvRoot)
    // a BRANCH of a view refreshes against the SAME-NAME branch of its
    // source — the write-audit-publish pairing [[branchMv]] forks; a
    // main view refreshes against the recorded source as always
    val src = mv.branchName match {
      case None => TxLogTable(spark, d.source)
      case Some(b) =>
        require(!d.source.contains(TxLogTable.BranchSep),
          "a view over a branch source cannot itself be branched")
        val fact = TxLogTable(spark, d.source)
        require(fact.branches().contains(b),
          s"view branch '$b' has no matching source branch on " +
            s"${d.source} — fork the pair with branchMv")
        fact.branchTable(b)
    }
    // THE pin: every read of the view below (head-op check, consumed
    // version, dim pin, base snapshot) is at this version, and the
    // commit is conditional on the head still being it
    val mvHead = mv.latestVersion.getOrElse(
      throw new IllegalStateException(
        s"MV at $mvRoot has no committed version — not a created view"))
    // the MV is engine-maintained: raw DML on it diverges from the
    // definition silently, so a refresh of a tampered view refuses
    locally {
      val hop = mv.opOf(mvHead)
      require(hop.exists(o => MvOps(o) || TxLogTable.RewriteOps(o) ||
          BranchOps(o)),
        s"MV head op ${hop.getOrElse("?")} is not engine-maintained: " +
          "drop and recreate the view")
    }
    val last = lastSourceVersionAt(mv, mvHead)
    val head = src.latestVersion.getOrElse(-1)
    require(head >= last,
      s"source at v$head is BEHIND the view's consumed v$last — was the " +
        "source recreated in place? drop and recreate the view")
    // a BRANCH of a star view reads the SAME-NAME branch of its dims —
    // the tuple [[branchMv]] forks; main views read the recorded dims
    val dimTs: Seq[TxLogTable] = d.dims.map { dm =>
      mv.branchName match {
        case None => TxLogTable(spark, dm.root)
        case Some(b) =>
          val dt = TxLogTable(spark, dm.root)
          require(dt.branches().contains(b),
            s"view branch '$b' has no matching dim branch on " +
              s"${dm.root} — fork the tuple with branchMv")
          dt.branchTable(b)
      }
    }
    val lastDims = d.dims.indices.map(i => lastDimVersionAt(mv, mvHead, i))
    val dimHeads = dimTs.map(_.latestVersion.getOrElse(-1))
    val movedIdx = d.dims.indices.filter(i => lastDims(i) != dimHeads(i))
    val dimMoved = movedIdx.nonEmpty
    if (head == last && !dimMoved)
      return RefreshStats("noop", last, head, 0, mvHead)
    // pinned projection must still match the source (rename/widen of a
    // projected column is a definition change, not a refresh)
    val proj = d.projSchema
    src.tableSchema.foreach { rec =>
      proj.fields.foreach { f =>
        val cur = rec.fields.find(_.name == f.name)
        require(cur.nonEmpty,
          s"MV source column ${f.name} no longer exists " +
            "(renamed or dropped): drop and recreate the view")
        require(cur.get.dataType == f.dataType,
          s"MV source column ${f.name} changed type " +
            s"${f.dataType.simpleString} → " +
            s"${cur.get.dataType.simpleString}: drop and recreate the view")
      }
    }
    dimTs.zip(d.dims).foreach { case (dt, dm) =>
      dt.tableSchema.foreach { rec =>
        dm.projSchema.fields.foreach { f =>
          val cur = rec.fields.find(_.name == f.name)
          require(cur.exists(_.dataType == f.dataType),
            s"MV dim column ${f.name} was renamed, dropped or retyped: " +
              "drop and recreate the view")
        }
      }
    }
    val present = src.versions.toSet
    val range = ((last + 1) to head).filter(present)
    val opAt = range.map(v => v -> src.opOf(v).getOrElse("append")).toMap
    val morVs = range.filter(v => opAt(v) == "delete-mor")
    // fold a keys-only MOR drop only when its keys are group columns AND
    // provably FACT-side columns (in the fact projection): a joined view
    // whose dim happens to expose a same-named group column must not
    // anti-join the tombstone against the dim attribute
    val morFoldable = morVs.forall { v =>
      val mk = src.morKeysOf(v)
      mk.nonEmpty && mk.forall(k => d.groupCols.contains(k) &&
        proj.fieldNames.contains(k))
    }
    // ops that can REMOVE or REPLACE rows — what flips a MIN/MAX window
    // from the pure fold to the group-targeted partial recompute below
    val rowChanging: Set[String] = TxLogTable.CowDiffOps ++
      Set("delete-mor", "delete-dv", "update-dv", "upsert-dv",
        "mv-refresh")
    // a moved dim's window is exactly replayable by its change feed when
    // it is full-row events throughout, or a keys-only MOR drop whose
    // tombstone names the join keys (the K extraction reads only those).
    // Replayability is what BOTH dim paths below need: the signed delta
    // fold (sums-only views) and the dim-targeted recompute (MIN/MAX
    // views) each start from the exact changed-join-key set K. Each dim
    // gates independently; ONE unreplayable moved dim costs the
    // recompute (which re-pins all of them).
    def windowReplayable(i: Int): Boolean =
      dimHeads(i) >= lastDims(i) && {
        val dt = dimTs(i)
        val presentD = dt.versions.toSet
        ((lastDims(i) + 1) to dimHeads(i)).filter(presentD).forall { v =>
          val op = dt.opOf(v).getOrElse("append")
          if (op == "delete-mor")
            d.dims(i).join.map(_._2).forall(dt.morKeysOf(v).contains)
          else FoldableOps(op) || !dt.removedFilesAt(v)
        }
      }
    val dimWindowReplayable = dimMoved && movedIdx.forall(windowReplayable)
    // a moved dim folds as a DIM DELTA (changed dim join keys → affected
    // fact rows → a signed counting delta over exactly those groups).
    // MIN/MAX measures block the SIGNED fold — a departed or re-enriched
    // row may BE the extremum (the fact side's contract, same reason) —
    // but not the key derivation: K still names exactly the affected
    // groups, so a MIN/MAX view under dim churn routes those groups to
    // the GROUP-TARGETED recompute from (fact@head ⋈ dim@head) instead
    // of paying a full recompute.
    val dimDeltaFoldable = dimWindowReplayable &&
      d.mins.isEmpty && d.maxs.isEmpty
    val dimTargeted = dimWindowReplayable &&
      (d.mins.nonEmpty || d.maxs.nonEmpty)
    // MIN/MAX measures cannot FOLD under deletes (the departing row may
    // BE the extremum) — but they no longer force a FULL recompute: a
    // row-changing fact window, or dim churn (above), routes to the
    // GROUP-TARGETED partial recompute in the incremental section
    // (re-aggregate exactly the affected groups from the snapshot at
    // head — O(affected) write, never O(view)).
    val minMaxTargeted = ((d.mins.nonEmpty || d.maxs.nonEmpty) &&
      range.exists(v => rowChanging(opAt(v)))) || dimTargeted
    val needFull = full ||
      // the incremental fold groups on the driver by the keys' binary
      // form, which a collated group column does not group by
      !d.groupCols.forall(c => org.apache.spark.sql.graft.GroupKeys
        .exact(d.mvSchema(c).dataType)) ||
      (dimMoved && !dimDeltaFoldable && !dimTargeted) ||
      !morFoldable ||
      range.exists { v =>
        !(FoldableOps(opAt(v)) || !src.removedFilesAt(v))
      }
    // a recompute re-pins every dim at ITS current head (the
    // slowly-changing-dimension cadence: fact deltas fold between dim
    // changes; a dim change folds as a delta when foldable — broadcast
    // under the changed-key cap, shuffle-joined past it — and only an
    // unreplayable window or a churn covering most of the dim costs
    // this one recompute)
    def fullRecompute(): RefreshStats = {
      // per-dim pin + uniqueness probe are independent across dims:
      // overlap them (guide §2.6), keeping definition order in results
      val dimSnapsFull = inParallel(
        dimTs.zip(d.dims).zip(dimHeads).map {
          case ((dt, dm), dh) => () => {
            val ds = dimSnapOf(spark, dt, dm.projSchema, dh)
            checkDimUnique(ds.df, dm.join.map(_._2))
            ds
          }
        })
      val state = clustered(aggregate(prepared(
        src.snapshot(extProj(src, proj, Seq(head)), Some(head)), d,
        dimSnapsFull), d), d)
      val mvv = mv.commit(state, overwrite = true, op = "mv-refresh-full",
        extraMeta = Seq(s"#mvsrc=$head") ++
          dimHeads.zipWithIndex.map { case (x, i) =>
            s"#${dimMetaKey(i)}=$x" })
      src.registerCursor(d.cursorName, head)
      dimTs.zip(dimHeads).zipWithIndex.foreach { case ((dt, dh), i) =>
        dt.registerCursor(d.dimCursorName(i), dh) }
      RefreshStats("full", last, head,
        mv.metaRowCount(Some(mvv)).getOrElse(-1L), mvv)
    }
    if (needFull) return fullRecompute()
    // ---- incremental fold ------------------------------------------
    // Every change a committable refresh makes is changed-groups-sized:
    // the commit masks at most one current row per changed group and
    // refuses more than `cap` masked rows. So each frame below — a fold
    // step's delta, a drop's tombstone keys, a dim correction — comes to
    // the driver in ONE take bounded by cap + 1, and the bookkeeping
    // (affected keys, the empty-window gate, the fold itself) is driver
    // code. A frame past the bound means the window touches more groups
    // than an incremental commit could mask: recompute instead (an
    // overwrite commit needs no mask).
    val cap = TxLogTable.maxDvMaskRows(spark)
    def bounded(df: DataFrame): Option[Seq[Row]] = {
      val rows = df.take(math.min(cap + 1, Int.MaxValue.toLong).toInt)
      if (rows.length > cap) None else Some(rows.toSeq)
    }
    // segments: maximal non-MOR runs fold as one order-free counting
    // delta; each MOR version is a group-drop step at its exact position
    // (a re-insert after the drop survives — the sequence-aware contract)
    sealed trait Step
    final case class Fold(fromV: Int, toV: Int) extends Step // (fromV,toV]
    final case class Drop(v: Int) extends Step
    val steps = Seq.newBuilder[Step]
    var anchor = last
    range.foreach { v =>
      if (opAt(v) == "delete-mor") {
        if (v - 1 > anchor) steps += Fold(anchor, v - 1)
        steps += Drop(v)
        anchor = v
      }
    }
    if (head > anchor) steps += Fold(anchor, head)
    val groupKeyCols = d.groupCols.map(col)
    // the content diffs inside the feed read through each version's own
    // tombstone mask: extend the projection across every version the
    // walk touches (including the anchor `last`, the first diff's base)
    val feedProj = extProj(src, proj, (last to head).filter(present))
    // joined views fold fact deltas against the PINNED dim snapshots —
    // each unchanged since its last pin by the per-dim moved gate, so
    // the enrichment each delta gets is exactly what the recompute would
    // give; `dimSnapsNew` is the all-at-head state (moved dims at their
    // heads, unmoved pins ARE their heads) the corrections target
    // pinned per-dim, old and new in one thunk (a dim's two pins share
    // the memo's table locks); ACROSS dims the pins are independent
    // collects, overlapped on the fold pool (guide §2.6)
    val dimSnapPairs: Seq[(DimSnap, DimSnap)] =
      inParallel(d.dims.indices.map(i => () => {
        val old = dimSnapOf(spark, dimTs(i), d.dims(i).projSchema,
          lastDims(i))
        val nw =
          if (dimHeads(i) == lastDims(i)) old
          else dimSnapOf(spark, dimTs(i), d.dims(i).projSchema,
            dimHeads(i))
        (old, nw)
      }))
    val dimSnapsOld: Seq[DimSnap] = dimSnapPairs.map(_._1)
    val dimSnapsNew: Seq[DimSnap] = dimSnapPairs.map(_._2)
    // a SUM/COUNT view folds LINEARLY: its delta is Σ(added) − Σ(removed)
    // per group whichever rows carry it, so it reads the signed feed
    // (copy-on-write versions un-netted) instead of the content diff
    val linear = d.mins.isEmpty && d.maxs.isEmpty
    def deltaOf(f: Fold): DataFrame = {
      val events =
        if (linear) src.signedChanges(feedProj, f.fromV, f.toV,
          skipRewrites = true)
        else src.changesWithDeletes(feedProj, f.fromV, f.toV,
          skipRewrites = true)
      val feed = prepared(events, d, dimSnapsOld)
      val del = col("_change_type") === "delete"
      val sign = when(del, lit(-1L)).otherwise(lit(1L))
      val aggs = d.sums.map { case (out, s0) =>
          val v = col(s0).cast(SumType)
          sum(when(del, -v).otherwise(v)).as(out)
        } ++
        // FOLDED only on append-only windows (every event is an insert,
        // so the window extremum is exact); on row-changing windows the
        // targeted-recompute branch consumes this delta's KEYS only
        d.mins.map { case (out, s0) => min(col(s0)).as(out) } ++
        d.maxs.map { case (out, s0) => max(col(s0)).as(out) } :+
        sum(sign).as(CountCol)
      // rows a rewrite carried enter the signed feed once per side, so a
      // group only copy-on-write versions touched may have an all-zero
      // delta: a linear view drops such a group when its count, sums and
      // signed non-NULL count per sum all net to zero (its view row
      // cannot change, NULL-ness included). Any other event keeps the
      // group, as in the netted feed.
      val cowVs = (f.fromV + 1 to f.toV).filter(v =>
        present(v) && TxLogTable.CowDiffOps(opAt(v)))
      val nn = if (linear) d.sums.indices.map(i => s"__graft_nn$i") else Nil
      val other = "__graft_other"
      val extra = if (!linear) Nil else
        d.sums.zip(nn).map { case ((_, s0), n) =>
          sum(when(col(s0).isNull, lit(0L)).otherwise(sign)).as(n) } :+
        sum(when(col("_commit_version").isin(cowVs: _*), lit(0L))
          .otherwise(lit(1L))).as(other)
      // the view's column order: the driver fold reads it positionally
      val delta = feed.groupBy(groupKeyCols: _*)
        .agg(aggs.head, aggs.tail ++ extra: _*)
      val kept = Seq(col(other) =!= 0L, col(CountCol) =!= 0L) ++
        nn.map(col(_) =!= 0L) ++
        d.sums.map { case (out, _) => coalesce(col(out) =!= 0, lit(false)) }
      if (!linear) delta
      else delta.filter(kept.reduce(_ || _)).drop(other +: nn: _*)
    }
    // a fold step's driver form: the delta rows (view-shaped), or a
    // drop's tombstone key rows with their schema
    def stepRowsOf(step: Step): Option[GroupFold.Step] = step match {
      case f: Fold => bounded(deltaOf(f)).map(GroupFold.Plus(_))
      case dr: Drop =>
        val tf = src.tombstoneFrameOf(dr.v).getOrElse(
          throw new IllegalStateException(
            s"delete-mor v${dr.v} committed no tombstone"))
        bounded(tf).map(GroupFold.Drop(_, tf.schema, src.morKeysOf(dr.v)))
    }
    // ---- dim delta: changed dim keys → affected groups ---------------
    // The dim window's exact change events name the changed join keys K
    // (O(dim delta) read, broadcast-capped); the fact rows K enriches
    // are ONE broadcast semi-join against the fact snapshot at `head`;
    // each such row's OLD enrichment (pinned old dim, sign −1) and NEW
    // enrichment (dim head, sign +1) aggregate into a changed-groups-
    // sized signed counting delta: view(fact@head, oldDim) + Δ =
    // view(fact@head, newDim), bit-exact, one pass over the affected
    // fact rows, the view's other groups untouched. Group keys drawn
    // FROM the dim migrate correctly — the old group decrements (to 0
    // when emptied, leaving the view), the new group grows — because
    // this is just the counting algorithm's ordinary arithmetic.
    // PER-DIM, in definition order — the TELESCOPING sum: correction i
    // transitions dim i old→new over fact@head with dims BEFORE it
    // already at their new heads and dims AFTER it still at their old
    // pins, so the summed corrections take view(fact@head, all-old) to
    // view(fact@head, all-new) bit-exactly, each correction touching
    // only its own affected groups. DimDelta: the signed counting delta
    // rows (sums-only views); DimTargetKeys: the affected GROUP keys
    // (MIN/MAX views — those groups are re-aggregated by the targeted
    // recompute below, so only all-old/all-new keys matter). Both come
    // to the driver bounded like the fold steps; past the bound the dim
    // votes for the recompute.
    sealed trait DimOut
    case class DimDelta(rows: Seq[Row]) extends DimOut
    case class DimTargetKeys(rows: Seq[Row]) extends DimOut
    case object DimNeedsFull extends DimOut
    def dimOutcome(i: Int): DimOut = {
      val dt = dimTs(i)
      val dm = d.dims(i)
      val dProj = dm.projSchema
      val dimKeys = dm.join.map(_._2)
      val presentD = dt.versions.toSet
      val feedProjD = extProj(dt, dProj,
        (lastDims(i) to dimHeads(i)).filter(presentD))
      val kPlan = dt.changesWithDeletes(feedProjD, lastDims(i),
          dimHeads(i), skipRewrites = true)
        .select(dimKeys.map(col): _*)
        .na.drop("any", dimKeys).distinct()
      // DRIVER-SIDE K (zero Spark jobs): when BOTH of this dim's pins —
      // the consumed version and the head — are already driver-local
      // relations (the common small-dim window; dimSnapOf collected
      // them once via the process-wide memo) AND every projected column
      // has driver-safe equality, the changed-key set is the SNAPSHOT
      // DIFF of the two local row sets: keys whose full projected row
      // multisets differ between the pins. This replaces the
      // change-feed take probe — a ~4-job AQE train per moved dim per
      // refresh — with plain driver code over rows already in memory.
      // Exactness: diffK ⊆ feed-K (content that differs between the
      // pins implies change events — skipped rewrites are content-
      // preserving by contract), and the keys the diff drops are
      // exactly the feed's CONTENT-IDENTICAL rewrites, whose signed
      // corrections are zero (old and new enrichment coincide) — the
      // folded view content is bit-identical, only the redundant
      // identical-row re-upserts (and the unexposed groupsChanged
      // stat) shrink. The all-atomic gate makes boxed equality exact;
      // a richer-typed dim keeps the probe below.
      val localDiffK: Option[IndexedSeq[Row]] =
        if (!dProj.fields.forall(f => sqlEqualsSafe(f.dataType))) None
        // one pinned snapshot serves both pins: nothing to diff
        else if (dimSnapsOld(i) eq dimSnapsNew(i)) Some(IndexedSeq.empty)
        else for {
          (oldRows, oIdx) <- localKeyedRows(dimSnapsOld(i).df, dimKeys)
          (newRows, nIdx) <- localKeyedRows(dimSnapsNew(i).df, dimKeys)
        } yield {
          // a key's row multisets differ between the pins iff one of its
          // full projected rows has a different count: one count map per
          // side, one pass each (the feed's na.drop excludes null keys
          // the same way).
          def counts(rows: Seq[Row], idx: Seq[Int]): Map[Seq[Any], Int] =
            rows.view.filterNot(r => idx.exists(r.isNullAt))
              .groupMapReduce(_.toSeq)(_ => 1)(_ + _)
          val o = counts(oldRows, oIdx)
          val nw = counts(newRows, nIdx)
          def moved(side: Map[Seq[Any], Int], other: Map[Seq[Any], Int],
                    idx: Seq[Int]) =
            side.collect { case (row, n) if !other.get(row).contains(n) =>
              idx.map(row) }
          (moved(o, nw, oIdx) ++ moved(nw, o, nIdx)).toSeq.distinct
            .map(Row.fromSeq).toIndexedSeq
        }
      // without the local diff, small changed-key sets collect in ONE
      // bounded take and live as a driver-local relation: the key frame
      // is reused by three joins plus the IN-pushdown enumeration
      // below, each of which would otherwise re-run the change-feed
      // subtree or rebuild the same broadcast; past the pushdown cap
      // the distributed checkpoint+count path is unchanged.
      // (Measured alternative, r21: lazy checkpoint + count + collect
      // ADDED 2-8 jobs per MV query — AQE coalesces the distinct's
      // output to one partition, so the take probe is already a single
      // job. Kept.)
      val (kDim, kRows, kLocalRows) = localDiffK match {
        case Some(ks) =>
          (spark.createDataFrame(
            java.util.Arrays.asList(ks: _*), kPlan.schema),
            ks.length.toLong, Some(ks: Seq[Row]))
        case None =>
          val probe = kPlan.take(MaxDimDeltaPushdownPoints.toInt + 1)
          if (probe.length <= MaxDimDeltaPushdownPoints)
            (spark.createDataFrame(
              java.util.Arrays.asList(probe.toIndexedSeq: _*),
              kPlan.schema), probe.length.toLong,
              Some(probe.toSeq))
          else {
            // lazy checkpoint + count: one action materializes the
            // frame AND returns the exact cardinality the caps need
            val ck = kPlan.localCheckpoint(false)
            (ck, ck.count(), None)
          }
      }
      val kIsLocal = kLocalRows.isDefined
      // past the broadcast cap the SAME signed arithmetic folds through
      // shuffle joins — cost stays O(delta + affected fact rows), and the
      // untouched groups stay manifest references either way. Only a
      // churn covering most of the dim recomputes: there the affected
      // groups approach the whole view AND the fold pays the old/new
      // enrichment twice, so the one-pass recompute is genuinely the
      // cheaper plan. The dim size is the manifest's exact O(manifest)
      // row count; unknown (live tombstones) keeps the conservative
      // recompute fallback of the capped path.
      val kBcast = kRows <= TxLogTable.maxDimDeltaKeys(spark)
      if (!kBcast && !dt.metaRowCount(Some(dimHeads(i)))
            .exists(kRows * 2 <= _))
        return DimNeedsFull
      // the changed-key set builds its joins broadcast under the delta
      // cap, and through an ordinary shuffle join past it
      val kBuild = if (kBcast) broadcast(kDim) else kDim
      def keysIn(side: DataFrame): DataFrame = side.join(kBuild,
        dimKeys.map(k => side(k) === kDim(k)).reduce(_ && _), "left_semi")
      // new duplicates can only arrive via changed keys — the rest of
      // the dim was checked unique at its last pin. When BOTH the new
      // dim snapshot and the changed-key set are already driver-local
      // (the common small-churn window) the semi-join and the
      // uniqueness probe run as plain driver code — zero Spark actions
      // — with SQL-equal key semantics guaranteed by the atomic-type
      // gate; any other shape keeps the distributed probe.
      val newSide = localKeyedRows(dimSnapsNew(i).df, dimKeys) match {
        case Some((dimRows, dIdx)) if kIsLocal =>
          val kset = kLocalRows.get.iterator
            .map(r => dimKeys.indices.map(r.get(_)).toIndexedSeq).toSet
          val hit = dimRows.filter(r =>
            kset.contains(dIdx.map(r.get(_)).toIndexedSeq))
          val dup = hit.groupBy(r => dIdx.map(r.get(_)).toIndexedSeq)
            .find(_._2.sizeIs > 1)
          require(dup.isEmpty,
            s"dim join keys ${dimKeys.mkString(",")} are not unique in " +
              s"the dimension (e.g. ${dup.map(_._2.head).getOrElse("")})" +
              " — a fact row must enrich to at most one dim row")
          spark.createDataFrame(
            java.util.Arrays.asList(hit: _*), dimSnapsNew(i).df.schema)
        case _ =>
          val ns = keysIn(dimSnapsNew(i).df).localCheckpoint(false)
          checkDimUnique(ns, dimKeys)
          ns
      }
      // the fact READ side: a point-enumerable changed-key set pushes
      // into the scan as an IN predicate on the (first) fact join key,
      // so manifest stats skip every file holding none of the touched
      // keys — on a fact clustered/bucketed by its FK the read is
      // O(touched files), not O(fact). Larger sets (or the pushdown's
      // leftover superset on multi-key joins) refine through the
      // broadcast semi-join below, which is exact either way.
      val factBase =
        if (kRows <= MaxDimDeltaPushdownPoints) {
          val fk = dm.join.head._1
          val pts = kDim.select(col(dm.join.head._2)).collect()
            .map(_.get(0)).toSeq
          src.snapshotWhere(extProj(src, proj, Seq(head)),
            col(fk).isInCollection(pts), Some(head))
        } else src.snapshot(extProj(src, proj, Seq(head)), Some(head))
      val affFacts = factBase.join(kBuild,
        dm.join.map { case (f, k) => factBase(f) === kDim(k) }
          .reduce(_ && _), "left_semi")
      if (dimTargeted) {
        // MIN/MAX view: the signed fold is blocked, but the affected
        // fact rows' groups under the ALL-OLD and ALL-NEW enrichments
        // (old groups that shrink or empty, new groups that grow,
        // filter transitions included) name every group this dim's
        // churn can touch. The targeted recompute re-aggregates exactly
        // those from the head snapshots; emptied groups leave the view.
        val oldKeys = prepared(affFacts, d, dimSnapsOld)
          .select(groupKeyCols: _*)
        val newKeys = prepared(affFacts, d, dimSnapsNew)
          .select(groupKeyCols: _*)
        bounded(oldKeys.unionByName(newKeys).distinct())
          .fold[DimOut](DimNeedsFull)(DimTargetKeys(_))
      } else {
        val sign = "__graft_dim_sign"
        val signedDim = keysIn(dimSnapsOld(i).df).withColumn(sign, lit(-1L))
          .unionByName(newSide.withColumn(sign, lit(1L)))
        var joined = affFacts.join(
          if (kBcast) broadcast(signedDim) else signedDim,
          dm.join.map { case (f, k) => affFacts(f) === signedDim(k) }
            .reduce(_ && _), "inner")
        // the other dims enrich at the telescoping versions: before i →
        // new head, after i → old pin (each inner, both signs see the
        // same other-dim state, so non-i enrichment cancels exactly);
        // each snapshot carries its own size-aware broadcast choice
        d.dims.indices.filterNot(_ == i).foreach { j =>
          val ds = if (j < i) dimSnapsNew(j) else dimSnapsOld(j)
          val cond = d.dims(j).join.map { case (f, k) =>
            joined(f) === ds.df(k) }.reduce(_ && _)
          joined = joined.join(ds.build, cond, "inner")
        }
        val derived = d.derives.foldLeft(joined) { case (acc, (n, t, e)) =>
          acc.withColumn(n, expr(e).cast(
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(t)))
        }
        val rows = filtered(derived, d)
        val sgn = col(sign)
        // mins/maxs empty here (dimDeltaFoldable gate), so the
        // delta's shape is exactly the view's: sums ++ mv_count
        val aggs = d.sums.map { case (out, s0) =>
            val v = col(s0).cast(SumType)
            sum(when(sgn < 0, -v).otherwise(v)).as(out)
          } :+ sum(sgn).as(CountCol)
        bounded(rows.groupBy(groupKeyCols: _*)
            .agg(aggs.head, aggs.tail: _*))
          .fold[DimOut](DimNeedsFull)(DimDelta(_))
      }
    }
    // ONE parallel wave collects every independent frame of this refresh
    // — the fold steps and each moved dim's probe + correction — so
    // their AQE stage trains overlap instead of running back-to-back
    // (guide §2.6). Order is preserved (fold steps first, dims in
    // definition order) and the lowest-index failure propagates; a frame
    // voting for the recompute only wastes its siblings' work on that
    // rare path.
    val wave: Seq[Either[Option[GroupFold.Step], DimOut]] = inParallel(
      steps.result().map(st => () =>
        Left(stepRowsOf(st)): Either[Option[GroupFold.Step], DimOut]) ++
      movedIdx.map(i => () =>
        Right(dimOutcome(i)): Either[Option[GroupFold.Step], DimOut]))
    val stepRows: Seq[Option[GroupFold.Step]] = wave.collect {
      case Left(x) => x }
    val dimOuts: Seq[DimOut] = wave.collect { case Right(x) => x }
    if (stepRows.contains(None) || dimOuts.contains(DimNeedsFull))
      return fullRecompute()
    val foldSteps = stepRows.flatten
    val dimDeltas: Seq[Seq[Row]] = dimOuts.collect { case DimDelta(r) => r }
    val dimTargetKeys: Seq[Seq[Row]] = dimOuts.collect {
      case DimTargetKeys(r) => r }
    val groups = new GroupFold(d, spark)
    // groups a MOR drop empties are CURRENT view groups matching its
    // tombstone keys: one keyed read of the view at the pin names them
    // (a group a drop hits after a fold step created it mid-window is
    // already among that step's keys)
    val dropped: Option[Seq[Row]] = steps.result()
      .collect { case dr: Drop => dr }
      .map { dr =>
        val mvSnap = mv.snapshot(d.mvSchema, Some(mvHead))
        val tf = src.tombstoneFrameOf(dr.v).get
        mvSnap.join(tf, src.morKeysOf(dr.v).map(k => mvSnap(k) <=> tf(k))
          .reduce(_ && _), "left_semi").select(groupKeyCols: _*)
      }.reduceOption(_.unionByName(_)).fold(Option(Seq.empty[Row]))(
        u => bounded(u.distinct()))
    if (dropped.isEmpty) return fullRecompute()
    // affected groups: every key a fold step or dim correction touched,
    // plus every current group a drop empties
    val kAll = (foldSteps.collect { case GroupFold.Plus(rs) => rs } ++
        dimDeltas ++ dimTargetKeys :+ dropped.get)
      .flatten.map(groups.keyOf).distinct
    if (kAll.length > cap) return fullRecompute()
    val groupsChanged = kAll.length.toLong
    if (groupsChanged == 0) {
      // the walked window touched nothing the view sees (events outside
      // the filter, dim churn on keys no fact row joins): the fold just
      // PROVED the content unchanged, so record the consumption with one
      // empty commit — progress meta and vacuum floors advance (and a
      // later [[branchMv]] sees corresponding states), zero rows touched,
      // and the next refresh never re-walks this window
      val empty = spark.createDataFrame(
        new java.util.ArrayList[Row](), d.mvSchema)
      // HEAD-CONDITIONAL like the fold commit below: a racer committing
      // between this refresh's mvHead pin and here would make this empty
      // commit's #mvsrc/#mvdim REGRESS the consumed pointer
      // (lastSourceVersionAt reads the newest), and the next refresh
      // would re-fold the racer's already-absorbed window — refuse and
      // re-anchor instead
      val mvv = mv.commit(empty, overwrite = false, op = "mv-refresh",
        extraMeta = Seq(s"#mvsrc=$head") ++
          d.dims.indices.map(i => s"#${dimMetaKey(i)}=" +
            (if (dimMoved) dimHeads(i) else lastDims(i))),
        expectHead = Some(mvHead))
      src.registerCursor(d.cursorName, head)
      if (dimMoved)
        dimTs.zip(dimHeads).zipWithIndex.foreach { case ((dt, dh), i) =>
          dt.registerCursor(d.dimCursorName(i), dh) }
      return RefreshStats("incremental", last, head, 0, mvv)
    }
    // DV maintenance happens ON the refresh path: when this refresh's
    // mask (≤ one current row per affected group, plus what already
    // accrued) would cross the cap, fold the view's masks NOW — one
    // ordinary compact commit, same transactional guarantees — and
    // re-anchor the whole fold on the compacted head via the retry
    // loop. A streaming-cadence view therefore never pages an operator;
    // conf-off (spark.graft.mv.autoCompact=false) keeps the loud
    // refusal of the commit itself.
    if (TxLogTable.mvAutoCompact(spark) &&
        mv.dvsOf(mvHead).map(_.n).sum + groupsChanged > cap) {
      mv.compact(d.mvSchema)
      throw new TxLogTable.ConcurrentHeadMoved(
        s"auto-compacted MV $mvRoot to fold its delete masks — " +
          "re-anchoring the refresh on the compacted head")
    }
    val kRows = kAll.map(groups.keyRow)
    // GROUP-TARGETED PARTIAL RECOMPUTE for MIN/MAX views: the
    // non-distributive measures cannot fold through a deleting window,
    // so the affected groups — exactly the key set derived above — are
    // re-aggregated from the snapshot at head. Sequence semantics (MOR
    // drops, mid-window re-inserts) are materialized by the snapshot
    // itself, the write stays O(affected groups), and the view's other
    // groups remain untouched manifest references. When dims moved
    // (dimTargeted), enrichment comes from the dims at THEIR heads — the
    // recompute semantics the consumed #mvdim pins record; unmoved
    // snapshots are that same state already. At most one row per key.
    def reaggregated(keys: Seq[Row]): Seq[Row] = {
      val prepped = prepared(src.snapshot(extProj(src, proj, Seq(head)),
        Some(head)), d, dimSnapsNew)
      val kf = spark.createDataFrame(java.util.Arrays.asList(keys: _*),
        StructType(d.mvSchema.fields.take(d.groupCols.length)))
      aggregate(prepped.join(kf, d.groupCols.map(c =>
        prepped(c) <=> kf(c)).reduce(_ && _), "left_semi"), d)
        .collect().toSeq
    }
    val targeted: Option[Seq[Row]] =
      if (!minMaxTargeted) None else Some(reaggregated(kRows))
    betweenFoldAndCommitHook()
    val dimConsumed = dimDeltas.nonEmpty || dimTargetKeys.nonEmpty
    // the view keeps no count of non-NULL inputs per SUM, so a sum that
    // folds to exactly 0 in a window that removed rows may be a group
    // whose remaining inputs are all NULL — NULL in a recompute. Those
    // groups are re-aggregated from head like the MIN/MAX groups above.
    val removes = dimConsumed || range.exists(v => rowChanging(opAt(v)))
    val g = d.groupCols.length
    def zeroSum(r: Row): Boolean = (g until g + d.sums.length).exists(j =>
      !r.isNullAt(j) && r.getDecimal(j).signum == 0)
    // ONE keyed read of the view at the pin brings the affected groups'
    // current rows and their positions; the fold runs on the driver —
    // fact steps first (bringing the state to view(fact@head, all-old)),
    // then the dim corrections in dim order, the SCD cadence: the
    // refresh observes every dim at its head, exactly as a recompute
    // would — and the commit masks those rows and adds the folded groups
    // that still have rows, in one manifest with the progress record
    val stats = mv.foldKeyedAt(d.mvSchema, d.groupCols, kRows, mvHead,
        "mv-refresh", Seq(s"#mvsrc=$head") ++
          d.dims.indices.map(i => s"#${dimMetaKey(i)}=" +
            (if (dimConsumed) dimHeads(i) else lastDims(i)))) { current =>
      targeted.getOrElse {
        val out = groups.fold(current,
          foldSteps ++ dimDeltas.map(GroupFold.Plus(_)))
        val zeroed = if (removes) out.filter(zeroSum) else Nil
        if (zeroed.isEmpty) out
        else {
          val redo = zeroed.map(groups.keyOf).toSet
          out.filterNot(r => redo(groups.keyOf(r))) ++
            reaggregated(zeroed.map(r => Row.fromSeq(r.toSeq.take(g))))
        }
      }
    }
    // the vacuum floor advances ONLY when the refresh actually committed
    // a new #mvsrc: an all-cancelling window (every affected group
    // created and fully deleted inside it) masks and adds nothing, and
    // the cursor must then keep guarding the still-unconsumed feed window
    if (stats.version > mvHead) {
      src.registerCursor(d.cursorName, head)
      if (dimConsumed)
        dimTs.zip(dimHeads).zipWithIndex.foreach { case ((dt, dh), i) =>
          dt.registerCursor(d.dimCursorName(i), dh) }
    }
    RefreshStats("incremental", last, head, groupsChanged, stats.version)
  }

  // ---- branch-aware views: write-audit-publish for DERIVED tables ----

  /** Fork a CONSISTENT branch across the view and EVERYTHING it reads —
    * the (source, view) pair, or for a star view the (fact, dim, view)
    * TRIPLE — named `name`: the fact forks at its head F, the dim (when
    * the view has one) at its head D, and the view — required current
    * (consumed == F and pinned dim == D, so the states correspond) —
    * forks at its head with its recorded consumed/pinned versions
    * renumbered into each branch's own sequence (every branch starts at
    * v0 = its fork point). Audit-cadence writes then land on
    * `source@@branch=name` (and `dim@@branch=name`), [[refresh]] of the
    * view's branch handle folds THOSE branches — including dim deltas
    * on the branch — and [[publishWap]] promotes all of them.
    *
    * @return (fact fork version, view fork version on main numbering)
    */
  def branchMv(spark: SparkSession, mvRoot: String,
               name: String): (Int, Int) = {
    val d = definition(spark, mvRoot)
    require(!d.source.contains(TxLogTable.BranchSep),
      "branchMv needs a main-handle source")
    d.dims.foreach(dm => require(
      !dm.root.contains(TxLogTable.BranchSep),
      "branchMv needs main-handle dims"))
    val mv = TxLogTable(spark, mvRoot)
    require(mv.branchName.isEmpty, "branchMv runs on the MAIN view handle")
    val fact = TxLogTable(spark, d.source)
    val fHead = fact.latestVersion.getOrElse(
      throw new IllegalStateException(s"empty source: ${d.source}"))
    val consumed = lastSourceVersion(mv)
    require(consumed == fHead,
      s"view consumed v$consumed but the source is at v$fHead: refresh " +
        "the view before forking the pair (the forks must correspond)")
    val dimTs = d.dims.map(dm => TxLogTable(spark, dm.root))
    val dHeads = dimTs.zip(d.dims).map { case (dt, dm) =>
      dt.latestVersion.getOrElse(throw new IllegalStateException(
        s"empty dim: ${dm.root}")) }
    d.dims.indices.foreach { i =>
      val pinned = lastDimVersion(mv, i)
      require(pinned == dHeads(i),
        s"view pinned dim ${d.dims(i).root} v$pinned but the dim is at " +
          s"v${dHeads(i)}: refresh the view before forking (the forks " +
          "must correspond)")
    }
    // forks PINNED at the checked heads: a commit racing this call must
    // not slide any fork forward, or the view fork's '#mvsrc=0'/
    // '#mvdim*=0' would claim state it never absorbed (silent undercount)
    val forkF = fact.createBranch(name, Some(fHead))
    val forked = scala.collection.mutable.ArrayBuffer.empty[TxLogTable]
    def unwind(e: Throwable): Nothing = {
      forked.reverseIterator.foreach(_.dropBranch(name))
      fact.dropBranch(name)
      throw e
    }
    dimTs.zip(dHeads).foreach { case (dt, dh) =>
      try { dt.createBranch(name, Some(dh)); forked += dt }
      catch { case e: Throwable => unwind(e) }
    }
    val forkV =
      try mv.createBranch(name, rewrite = annotations =>
        // the fork manifest's consumed/pinned versions translate to the
        // fact/dim BRANCHES' numbering, whose fork points are v0
        annotations.filterNot(l => l.startsWith("#mvsrc=") ||
            l.startsWith("#mvdim")) ++
          Seq("#mvsrc=0") ++
          d.dims.indices.map(i => s"#${dimMetaKey(i)}=0"))
      catch { case e: Throwable => unwind(e) }
    (forkF, forkV)
  }

  /** Write-audit-publish for the derived set: publish branch `name` of
    * the source, the dim (star views), then the view — gated on the
    * branch view having absorbed the branch source's AND branch dim's
    * heads (the audit precondition: you audit exactly what will land).
    * The published view commit records, as consumed/pinned, the MAIN
    * versions the fact/dim publishes just created, so main bookkeeping
    * is seamless (a post-publish refresh is a noop).
    *
    * Publish order is fact → dim → view, and every inter-publish window
    * is SAFE: if a later publish loses (main moved mid-audit), main is
    * merely behind already-published windows — the next ordinary
    * refresh folds them (dim deltas included); nothing double-counts.
    *
    * The audit gate is ENFORCED, not a convention: both branch heads are
    * pinned at the gate check and each publish is head-conditional on
    * them ([[TxLogTable.publishBranch]] `expectHead`) — a writer racing
    * a commit onto either branch between audit and publish gets a loud
    * [[TxLogTable.ConcurrentHeadMoved]] refusal (re-audit, republish)
    * instead of shipping unaudited rows. Iceberg's WAP leaves this as a
    * process contract; the engine's commit protocol closes it.
    *
    * @return (published fact version, published view version)
    */
  def publishWap(spark: SparkSession, mvRoot: String,
                 name: String): (Int, Int) = {
    val d = definition(spark, mvRoot)
    val mv = TxLogTable(spark, mvRoot)
    require(mv.branchName.isEmpty,
      "publishWap runs on the MAIN view handle")
    val fact = TxLogTable(spark, d.source)
    val bf = fact.branchTable(name)
    val bv = mv.branchTable(name)
    val dimTs = d.dims.map(dm => TxLogTable(spark, dm.root))
    val bds = dimTs.map(_.branchTable(name))
    // THE audited set: every check below reads AT these heads, and every
    // publish is conditional on its branch still being at them
    val bfHead = bf.latestVersion.getOrElse(-1)
    val bdHeads = bds.map(_.latestVersion.getOrElse(-1))
    val bvHead = bv.latestVersion.getOrElse(
      throw new IllegalStateException(
        s"branch view '$name' has no committed version"))
    require(lastSourceVersionAt(bv, bvHead) == bfHead,
      s"branch view '$name' has not absorbed the branch source head — " +
        "refresh the view on the branch (and audit it) before publishing")
    d.dims.indices.foreach { i =>
      require(lastDimVersionAt(bv, bvHead, i) == bdHeads(i),
        s"branch view '$name' has not absorbed the branch head of dim " +
          s"${d.dims(i).root} — refresh the view on the branch (and " +
          "audit it) before publishing")
    }
    betweenAuditAndPublishHook()
    // fact → dims → view; every inter-publish window is SAFE: a refusal
    // downstream leaves main merely behind already-published windows,
    // and the next ordinary refresh folds them (dim deltas included)
    val fPub = fact.publishBranch(name, expectHead = Some(bfHead))
    val dPubs = dimTs.zip(bdHeads).map { case (dt, dh) =>
      dt.publishBranch(name, expectHead = Some(dh)) }
    val vPub = mv.publishBranch(name, rewrite = annotations =>
      annotations.filterNot(l => l.startsWith("#mvsrc=") ||
          l.startsWith("#mvdim")) ++
        Seq(s"#mvsrc=$fPub") ++
        dPubs.zipWithIndex.map { case (x, i) => s"#${dimMetaKey(i)}=$x" },
      expectHead = Some(bvHead))
    (fPub, vPub)
  }

  /** Test seam for the WAP publish race: invoked after the audit gate
    * pinned both branch heads and before the fact publish — a test
    * injects a branch commit here to prove the publish refuses loudly
    * instead of shipping unaudited rows. Production value is a no-op. */
  private[graft] var betweenAuditAndPublishHook: () => Unit = () => ()

  // ---- sketch views: COUNT(DISTINCT) and quantile measures -----------
  // Built ENTIRELY on the derive machinery above — the sketch state is
  // ordinary group rows, so the counting fold, the O(changed groups)
  // upsert, exactly-once #mvsrc and the vacuum cursors all apply
  // verbatim. The sketches are the engine's deterministic md5 family
  // (graft.functions.Sketches): exact integer functions of the value
  // multiset, reproducible bit-for-bit by a SQL oracle.

  /** The canonical derive exprs of an HLL distinct view over source
    * column `c`: bucket = first md5 byte (256 cells), rank = leading
    * zeros + 1 of the next 60 hash bits ([[graft.functions.Sketches
    * .hllRegisters]], same integer math). */
  private def hllExprs(c: String): (String, String) = {
    val h = s"md5(CAST(`$c` AS STRING))"
    val v = s"CAST(conv(substring($h, 3, 15), 16, 10) AS BIGINT)"
    (s"CAST(conv(substring($h, 1, 2), 16, 10) AS BIGINT)",
      s"CASE WHEN $v = 0 THEN CAST(61 AS BIGINT) " +
        s"ELSE CAST(61 - length(bin($v)) AS BIGINT) END")
  }

  /** Create an APPROX-DISTINCT view: per `groupCols` group, the HLL
    * register table of `distinctCol` — stored as rows
    * `(groupCols…, <out>_bucket, <out> = max rank, mv_count)`, ≤ 256
    * register rows per logical group. Registers are INSERT-ADDITIVE
    * (new values only raise max ranks), so appends fold incrementally;
    * any row-deleting source window costs one full recompute — the
    * honest sketch contract (a departed value cannot lower a register).
    * Read the per-group estimates with [[distinctEstimates]].
    */
  def createDistinct(spark: SparkSession, mvRoot: String, name: String,
                     source: TxLogTable, srcSchema: StructType,
                     groupCols: Seq[String], out: (String, String),
                     filterExpr: Option[String] = None): Int = {
    val (outCol, srcCol) = out
    val bucket = s"${outCol}_bucket"
    val (bExpr, rExpr) = hllExprs(srcCol)
    val rankDerive = s"${outCol}_rank"
    val filt = (filterExpr.map(f => s"($f)").toSeq :+
      s"`$srcCol` IS NOT NULL").mkString(" AND ")
    createImpl(spark, mvRoot, name, source, srcSchema, Nil,
      groupCols :+ bucket, Nil, Some(filt), Nil,
      maxs = Seq(outCol -> rankDerive),
      derives = Seq(bucket -> bExpr, rankDerive -> rExpr))
  }

  /** Create a POWER-OF-2 HISTOGRAM view: per `groupCols` group, bucket =
    * bit length of floor(`histCol`) with exact row counts — rows
    * `(groupCols…, <bucketOut>, mv_count)`, ~64 buckets per group.
    * Counts are FULLY additive (a delete decrements its bucket, a bucket
    * leaves the view at 0), so the view folds incrementally under EVERY
    * DML shape — this is an exact integer function of the multiset, not
    * an approximation; only the derived quantile read is ±1 power of 2.
    * Read quantiles with [[histQuantiles]].
    */
  def createHist(spark: SparkSession, mvRoot: String, name: String,
                 source: TxLogTable, srcSchema: StructType,
                 groupCols: Seq[String], out: (String, String),
                 filterExpr: Option[String] = None): Int = {
    val (outCol, srcCol) = out
    val filt = (filterExpr.map(f => s"($f)").toSeq :+
      s"`$srcCol` IS NOT NULL AND `$srcCol` >= 0").mkString(" AND ")
    createImpl(spark, mvRoot, name, source, srcSchema, Nil,
      groupCols :+ outCol, Nil, Some(filt), Nil, Nil,
      derives = Seq(outCol ->
        s"CAST(length(bin(CAST(floor(`$srcCol`) AS BIGINT))) AS BIGINT)"))
  }

  /** EXACT incremental COUNT(DISTINCT) — the composition the sketch
    * views deliberately do not attempt: an INNER view grouped by
    * `(groupCols, distinctCol)` carrying only the count (fully additive,
    * so it folds under EVERY DML shape — a (group, value) pair leaves it
    * exactly when its last row does), and an OUTER view over the inner
    * grouped by `groupCols` whose `mv_count` counts the inner's current
    * rows — i.e. the group's distinct values, exactly. The inner's
    * DV-upsert refreshes feed the outer exact delete+insert events (the
    * proven views-compose path), so BOTH levels stay incremental under
    * appends AND deletes; cost per refresh is O(changed (group, value)
    * pairs) then O(changed groups).
    *
    * Use this when exactness matters and per-group value cardinality is
    * storage-acceptable (the inner holds one row per live (group,
    * value)); use [[createDistinct]] (HLL registers, ≤256 rows per
    * group) when it is not. Inner lands at `<mvRoot>_keys`.
    *
    * @return (inner create version, outer create version)
    */
  def createDistinctExact(spark: SparkSession, mvRoot: String,
                          name: String, source: TxLogTable,
                          srcSchema: StructType, groupCols: Seq[String],
                          distinctCol: String,
                          filterExpr: Option[String] = None): (Int, Int) = {
    val keysRoot = mvRoot + "_keys"
    val filt = (filterExpr.map(f => s"($f)").toSeq :+
      s"`$distinctCol` IS NOT NULL").mkString(" AND ")
    val v1 = createImpl(spark, keysRoot, s"$name.keys", source, srcSchema,
      Nil, groupCols :+ distinctCol, Nil, Some(filt), Nil, Nil)
    val innerDef = definition(spark, keysRoot)
    val v2 = createImpl(spark, mvRoot, name,
      TxLogTable(spark, keysRoot), innerDef.mvSchema, Nil, groupCols,
      Nil, None, Nil, Nil)
    (v1, v2)
  }

  /** Refresh an exact-distinct pair in dependency order (inner first, so
    * the outer's window sees the inner's fresh commits). Each level is
    * its own transactional refresh with the usual contracts. */
  def refreshDistinctExact(spark: SparkSession, mvRoot: String,
                           full: Boolean = false)
      : (RefreshStats, RefreshStats) = {
    val outer = definition(spark, mvRoot)
    (refresh(spark, outer.source, full), refresh(spark, mvRoot, full))
  }

  // the derived bucket key and the plain (non-derived) group keys of a
  // sketch view, from its recorded definition
  private def sketchKeys(d: MvDef): (String, Seq[String]) = {
    val dn = d.derives.map(_._1).toSet
    val bucket = d.groupCols.filter(dn.contains) match {
      case Seq(b) => b
      case other => throw new IllegalStateException(
        s"${d.name} is not a sketch view (derived group keys: $other)")
    }
    (bucket, d.groupCols.filterNot(_ == bucket))
  }

  /** Per-group distinct-count estimates of a [[createDistinct]] view —
    * a DISTRIBUTED aggregate over the register rows (≤256 per group, so
    * the shuffle is |groups|-sized): the standard HLL estimator with
    * the small-range linear-counting correction, matching
    * [[graft.functions.Sketches.hllEstimate]] bucket-for-bucket.
    */
  def distinctEstimates(spark: SparkSession, mvRoot: String): DataFrame = {
    val d = definition(spark, mvRoot)
    val (bucket, keys) = sketchKeys(d)
    require(d.maxs.nonEmpty, s"${d.name} is not a distinct view")
    val rank = d.maxs.head._1
    val m = graft.functions.Sketches.HllBuckets
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val snap = TxLogTable(spark, mvRoot).snapshot(d.mvSchema)
    val agg = snap.groupBy(keys.map(col): _*)
      .agg(count(col(bucket)).as("__nb"),
        sum(pow(lit(2.0), -col(rank).cast("double"))).as("__s"))
    val sumT = col("__s") + (lit(m.toDouble) - col("__nb")) // absent = 2^0
    val raw = lit(alpha * m * m) / sumT
    val zeros = lit(m.toDouble) - col("__nb")
    val est = when(raw <= lit(2.5 * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros)).otherwise(raw)
    agg.select(keys.map(col) :+ est.as("distinct_est"): _*)
  }

  /** Per-group `q`-quantile estimates of a [[createHist]] view — a
    * window walk over each group's ~64 bucket rows: the first bucket
    * whose cumulative count reaches ceil(q·total), read at its bucket
    * range's geometric midpoint (within 2× by construction, matching
    * [[graft.functions.Sketches.histQuantile]]).
    */
  def histQuantiles(spark: SparkSession, mvRoot: String,
                    q: Double): DataFrame = {
    require(q >= 0 && q <= 1, s"quantile $q")
    val d = definition(spark, mvRoot)
    val (bucket, keys) = sketchKeys(d)
    val snap = TxLogTable(spark, mvRoot).snapshot(d.mvSchema)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(bucket))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val cum = sum(col(CountCol)).over(wOrd)
    val tot = sum(col(CountCol)).over(wAll)
    val target = greatest(ceil(lit(q) * tot), lit(1L))
    val hit = snap.select(keys.map(col) ++ Seq(col(bucket),
      cum.as("__cum"), target.as("__t")): _*)
      .where(col("__cum") >= col("__t"))
      .groupBy(keys.map(col): _*).agg(min(col(bucket)).as("__b"))
    val lo = when(col("__b") <= 1, lit(0.0))
      .otherwise(pow(lit(2.0), col("__b").cast("double") - 1))
    val hi = pow(lit(2.0), col("__b").cast("double"))
    hit.select(keys.map(col) :+
      ((lo + hi) / 2).as(s"q${(q * 100).round}_est"): _*)
  }
}
