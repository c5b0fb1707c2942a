package graft.sources.v2

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Between, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, NamedExpression, Not, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeleteFromTable, Filter, LocalRelation, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampType}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.unsafe.types.UTF8String

/** Analyzer rule (installed by `graft.GraftExtensions`) that replaces a
  * txlog DataSourceV2 relation with the table's native parquet logical
  * plan — the same replace-at-resolution trick Delta uses so catalog
  * tables read through the ordinary FileSourceScan: vectorized parquet,
  * whole-stage codegen, parquet filter pushdown, and NO InternalRow→Row
  * conversion (what the V1Scan fallback pays).
  *
  * A Filter above the relation — directly, or through the aliases, views
  * and identity projections a catalog read, an aliased query, a DataFrame
  * filter and a view analyze to — is additionally translated (as far as
  * its shape allows — conservative, same contract as the V1 connector's
  * pushdown) into a predicate `Column` for `snapshotWhere`, so MANIFEST
  * pruning (range stats, null counts, partition paths, Blooms) happens for
  * SQL reads too. The original Filter stays on top — untranslated
  * conjuncts narrow nothing at the manifest but still filter rows, so
  * results never change.
  *
  * Top-down transform: the Filter case must see the relation BENEATH it
  * before the bare-relation case rewrites it.
  */
case class TxLogReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // Row-level DML keeps its target as a V2 relation: DeleteFromTable's
    // target IS a child of the command node (unlike the write commands,
    // whose `table` field sits outside `children`), and the V2 strategy
    // must see the relation to route SupportsDelete — splicing the scan
    // plan under it would fail planning.
    case d: DeleteFromTable => d
    case u: UpdateTable => u
    case m: MergeIntoTable => m
    case _ => rewrite(plan)
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = {
    // Relations sitting under a NOT-YET-RESOLVED ungrouped Aggregate are
    // left un-spliced this pass: `count(*)` star-expands only after its
    // child relation resolves (one analyzer pass later for VERSION AS OF
    // relations), and splicing now would destroy the metadata-collapse
    // opportunity before the Aggregate case above ever saw it. Once the
    // Aggregate resolves, either the collapse fires (top-down: the
    // Aggregate is visited first) or the relation is no longer deferred
    // and splices in the same pass — nothing is deferred forever.
    val deferred: Set[LogicalPlan] = plan.collect {
      case agg @ Aggregate(g, _, child, _) if g.isEmpty && !agg.resolved =>
        relUnder(child)
    }.flatten.toSet
    plan.resolveOperatorsDown {
      // Metadata-only aggregates: an ungrouped, unfiltered COUNT(*) /
      // MIN / MAX over a txlog relation is answered from the MANIFEST
      // (exact per-file footer row counts / column extrema) — the whole
      // query collapses to a LocalRelation, no file opened. Sound only
      // when the manifest can answer EXACTLY: no live MOR tombstones, a
      // stats entry on every file (metaRowCount/metaMinMax return None
      // otherwise and the plan is left for the ordinary scan). The
      // top-down traversal visits this Aggregate BEFORE the relation
      // cases below can splice its child away.
      case agg @ Aggregate(groups, aggExprs, child, _)
          if groups.isEmpty && agg.resolved && aggExprs.nonEmpty =>
        val direct = for {
          tbl <- txLogUnder(child)
          values <- metaValues(tbl, aggExprs)
        } yield values
        // Filtered COUNT(*) over PARTITION columns only: a partition
        // value is constant per file, so each file fully satisfies or
        // fully fails the predicate and the manifest still answers
        // exactly (partition segment + per-file footer row counts) —
        // the dashboard query at 100 TB. The predicate must translate
        // COMPLETELY (equality/IN on partition columns under AND):
        // partial translation is fine for pruning but unsound for
        // counting, so any untranslated conjunct declines the collapse
        // and the ordinary spliced scan answers instead.
        val filtered = direct.orElse(for {
          (cond, fchild) <- filterUnder(child)
          tbl <- txLogUnder(fchild)
          preds <- partitionPoints(cond)
          values <- metaCountOnly(tbl, aggExprs, preds)
        } yield values)
        filtered.map(values =>
          LocalRelation(aggExprs.map(_.toAttribute),
            Seq(InternalRow.fromSeq(values)), isStreaming = false))
          .getOrElse(agg)
      // A Filter whose conjuncts translate prunes the read beneath it at
      // the manifest. The read is a relation (spliced here, pruned) or
      // the marker of a read spliced by an earlier analysis — a view
      // body, a `spark.table` frame — re-spliced pruned at the marker's
      // pinned version. A Filter that translates nothing leaves its read
      // to the relation cases below.
      case f @ Filter(cond, child) if f.resolved &&
          toPredicate(cond).isDefined &&
          readUnder(child).exists(r => !deferred.contains(r._1)) =>
        val (read, rebuild) = readUnder(child).get
        prunedRead(read, toPredicate(cond).get)
          .map(p => Filter(cond, rebuild(p))).getOrElse(f)
      // spjEligible relations are left alone: their DSv2 scan reports
      // KeyGroupedPartitioning (storage-partitioned joins — zero-shuffle
      // co-partitioned joins), which the spliced native plan cannot.
      case rel: DataSourceV2Relation
          if rel.table.isInstanceOf[TxLogV2Table] &&
            !rel.table.asInstanceOf[TxLogV2Table].spjEligible &&
            !deferred.contains(rel) =>
        val tbl = rel.table.asInstanceOf[TxLogV2Table]
        // resolve the version ONCE and pin both the spliced file list and
        // the marker to it — two separate latestVersion reads could
        // straddle a concurrent commit and tag the plan with a version
        // newer than the files it scans
        val pin = tbl.asOfVersion.orElse(tbl.table.latestVersion)
        aligned(tbl.table.snapshot(tbl.schema, pin), rel.output)
          .map(markSpliced(_, tbl.table.root, pin)).getOrElse(rel)
      // The V1 `format("txlog")` surface — the discovery path a casual
      // user finds first — gets the same splice: the PrunedFilteredScan
      // fallback pays an InternalRow→Row conversion at the scan top
      // (`TxLogRelation.buildScan`'s `.rdd`), so replace it with the
      // native parquet plan whenever the extension is installed. Filter
      // translation and manifest pruning (the Filter case above) are
      // identical to the V2 case.
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[graft.sources.TxLogRelation] &&
            !lr.isStreaming && !deferred.contains(lr) =>
        val rel = lr.relation.asInstanceOf[graft.sources.TxLogRelation]
        val t = graft.sources.TxLogTable(spark, rel.root)
        val pin = rel.version.orElse(t.latestVersion)
        aligned(t.snapshot(rel.schema, pin), lr.output)
          .map(markSpliced(_, rel.root, pin)).getOrElse(lr)
    }
  }

  // A spliced plan loses its relation node, so metadata collapses above
  // it (an aggregate over a USING-txlog VIEW, whose body splices during
  // the view's own nested analysis before any outer Aggregate is
  // visible) would go blind. The splice therefore TAGS its output with a
  // marker SubqueryAlias encoding the table root and the manifest
  // version the spliced file list was built from — the collapse answers
  // AT THAT VERSION, so a commit landing after the splice can never make
  // the manifest answer diverge from what the spliced scan would read.
  // SubqueryAlias is execution-transparent and preserves output exprIds.
  private def markSpliced(plan: LogicalPlan, root: String,
                          version: Option[Int]): LogicalPlan =
    org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
      "__txlog@" + version.getOrElse(-1) + "@" + root, plan)

  private def isMarker(name: String): Boolean = name.startsWith("__txlog@")

  private def fromMarker(name: String)
      : Option[(graft.sources.TxLogTable, Option[Int])] =
    if (!isMarker(name)) None
    else {
      val rest = name.stripPrefix("__txlog@")
      val at = rest.indexOf('@')
      scala.util.Try(rest.substring(0, at).toInt).toOption.map { v =>
        (graft.sources.TxLogTable(spark, rest.substring(at + 1)),
          if (v < 0) None else Some(v))
      }
    }

  // See through an identity Project (plain attributes or name-preserving
  // aliases, possibly of a cast to the attribute's own type — what View
  // resolution inserts to re-key exprIds). A RENAMING view must NOT see
  // through: the metadata lookups are name-based and a renamed column
  // would bind the wrong stats.
  private def identityChild(pr: Project): Option[LogicalPlan] =
    if (pr.projectList.forall {
      case _: AttributeReference => true
      case Alias(ar: AttributeReference, name) => ar.name == name
      case Alias(c: org.apache.spark.sql.catalyst.expressions.Cast, name) =>
        c.child match {
          case ar: AttributeReference =>
            ar.name == name && ar.dataType == c.dataType
          case _ => false
        }
      case _ => false
    }) Some(pr.child) else None

  // The Filter beneath alias wrappers under an ungrouped Aggregate (the
  // filtered-COUNT metadata collapse looks through `FROM t WHERE ...`).
  private def filterUnder(p: LogicalPlan)
      : Option[(Expression, LogicalPlan)] = p match {
    case org.apache.spark.sql.catalyst.plans.logical
        .SubqueryAlias(_, child) => filterUnder(child)
    case v: org.apache.spark.sql.catalyst.plans.logical.View =>
      filterUnder(v.child)
    case pr: Project if identityChild(pr).isDefined =>
      filterUnder(identityChild(pr).get)
    case Filter(cond, child) => Some((cond, child))
    case _ => None
  }

  // The txlog read beneath a Filter's alias wrappers — a spliceable
  // relation, or a splice marker — with the function that rebuilds the
  // wrappers over a replacement read.
  private def readUnder(p: LogicalPlan)
      : Option[(LogicalPlan, LogicalPlan => LogicalPlan)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, View}
    def under(child: LogicalPlan)(wrap: LogicalPlan => LogicalPlan) =
      readUnder(child).map { case (r, re) => (r, (x: LogicalPlan) =>
        wrap(re(x))) }
    p match {
      case s: SubqueryAlias if isMarker(s.identifier.name) =>
        Some((s, identity))
      case s: SubqueryAlias => under(s.child)(c => s.copy(child = c))
      case v: View => under(v.child)(c => v.copy(child = c))
      case pr: Project if identityChild(pr).isDefined =>
        under(pr.child)(c => pr.copy(child = c))
      case rel: DataSourceV2Relation
          if rel.table.isInstanceOf[TxLogV2Table] &&
            !rel.table.asInstanceOf[TxLogV2Table].spjEligible =>
        Some((rel, identity))
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[graft.sources.TxLogRelation] &&
            !lr.isStreaming =>
        Some((lr, identity))
      case _ => None
    }
  }

  // `read` (from readUnder) re-planned as a manifest-pruned snapshot,
  // output attributes kept. A marker re-splices at its own pinned version
  // and keeps no marker: under its Filter no whole-table metadata answer
  // applies, and a marker-free splice is never pruned twice.
  private def prunedRead(read: LogicalPlan, pred: Column)
      : Option[LogicalPlan] = read match {
    case rel: DataSourceV2Relation =>
      aligned(rel.table.asInstanceOf[TxLogV2Table].snapshotDF(Some(pred)),
        rel.output)
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      aligned(v1SnapshotDF(
        lr.relation.asInstanceOf[graft.sources.TxLogRelation], Some(pred)),
        lr.output)
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      val out = s.child.output.collect { case a: AttributeReference => a }
      fromMarker(s.identifier.name).collect { case (t, Some(v)) =>
        aligned(t.snapshotWhere(org.apache.spark.sql.types.StructType(
          out.map(a => org.apache.spark.sql.types.StructField(a.name,
            a.dataType, a.nullable))), pred, Some(v)), out)
      }.flatten
    case _ => None
  }

  // COMPLETE translation of a predicate into per-partition-column allowed
  // value sets (hive-segment string rendering): equality / IN on an
  // attribute under AND — the shapes a partition value decides exactly.
  // None on ANY untranslated node: unlike pruning, counting cannot
  // tolerate a leftover conjunct. Conflicting equalities intersect to the
  // empty set, which correctly counts zero files.
  private def partitionPoints(e: Expression)
      : Option[Map[String, Set[String]]] = {
    // Render by DATA TYPE, not by the runtime class of the value: a
    // DateType literal carries an epoch-day Int and a TimestampType an
    // epoch-micros Long — rendering those digits would never equal the
    // calendar-formatted hive segment, and the collapse would answer a
    // confident 0 instead of declining. Only integral and string
    // literals render the same way the partition writer spelled them.
    def render(l: Literal): Option[String] = (l.dataType, l.value) match {
      case (ByteType | ShortType | IntegerType | LongType, v)
          if v != null => Some(v.toString)
      case (org.apache.spark.sql.types.StringType, s: UTF8String) =>
        Some(s.toString)
      case _ => None
    }
    e match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        render(l).map(v => Map(a.name -> Set(v)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        render(l).map(v => Map(a.name -> Set(v)))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val rendered = vs.map(v => render(v.asInstanceOf[Literal]))
        if (rendered.forall(_.isDefined))
          Some(Map(a.name -> rendered.flatten.toSet))
        else None
      case And(l, r) =>
        for (a <- partitionPoints(l); b <- partitionPoints(r)) yield
          (a.keySet ++ b.keySet).iterator.map { k =>
            k -> ((a.get(k), b.get(k)) match {
              case (Some(x), Some(y)) => x intersect y
              case (x, y) => x.orElse(y).get
            })
          }.toMap
      case _ => None
    }
  }

  // Aggregates answered from the partition-filtered file subset:
  // COUNT(*) via metaRowCountWhere, MIN/MAX of integral columns via
  // metaMinMaxWhere (footer extrema of qualifying files; the partition
  // column itself reads from the path segment). An empty qualifying
  // subset yields COUNT 0 and MIN/MAX NULL — SQL's zero-row aggregate
  // semantics, still manifest-answered.
  private def metaCountOnly(tbl: (graft.sources.TxLogTable, Option[Int]),
                            aggExprs: Seq[NamedExpression],
                            preds: Map[String, Set[String]])
      : Option[Seq[Any]] = {
    val (t, version) = tbl
    lazy val rowCount = t.metaRowCountWhere(preds, version)
    def narrowed(v: Long, dt: org.apache.spark.sql.types.DataType): Any =
      dt match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType => v.toInt
        case DateType => v.toInt // internal DateType is epoch days
        case _ => v // LongType, and TimestampType's internal micros
      }
    def extremum(a: AttributeReference, lo: Boolean): Option[Any] =
      a.dataType match {
        // temporal columns qualify because footerStats records their
        // extrema EXACTLY in the internal unit (micros/days) — inexact
        // normalizations are never stored
        case ByteType | ShortType | IntegerType | LongType |
             TimestampType | DateType =>
          t.metaMinMaxWhere(a.name, preds, version).map {
            case Some((mn, mx)) =>
              narrowed(if (lo) mn else mx, a.dataType)
            case None => null // empty subset: SQL MIN/MAX of zero rows
          }
        case _ => None
      }
    val vals = aggExprs.map {
      case Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), _, false, None, _), _) if v != null =>
        rowCount
      case Alias(AggregateExpression(
          Min(a: AttributeReference), _, false, None, _), _) =>
        extremum(a, lo = true)
      case Alias(AggregateExpression(
          Max(a: AttributeReference), _, false, None, _), _) =>
        extremum(a, lo = false)
      case _ => None
    }
    if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
  }

  // The txlog RELATION NODE (or splice marker) beneath alias wrappers
  // (for the defer set) — the structural twin of [[txLogUnder]] before
  // types resolve. Descends one Filter too: a read under `WHERE
  // <partition cols>` beneath a not-yet-resolved COUNT(*) must also stay
  // un-spliced (a marker un-pruned) until the Aggregate case has had its
  // chance at the filtered metadata collapse.
  private def relUnder(p: LogicalPlan): Option[LogicalPlan] = p match {
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      if (isMarker(s.identifier.name)) Some(s) else relUnder(s.child)
    case v: org.apache.spark.sql.catalyst.plans.logical.View =>
      relUnder(v.child)
    case Filter(_, child) => relUnder(child)
    case rel: DataSourceV2Relation
        if rel.table.isInstanceOf[TxLogV2Table] => Some(rel)
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
        if lr.relation.isInstanceOf[graft.sources.TxLogRelation] =>
      Some(lr)
    case _ => None
  }

  // The txlog table (with its pinned version) beneath alias wrappers —
  // None as soon as ANY other operator intervenes (a Filter/Project
  // would change the aggregate's input, so the manifest cannot answer).
  private def txLogUnder(p: LogicalPlan)
      : Option[(graft.sources.TxLogTable, Option[Int])] = p match {
    case org.apache.spark.sql.catalyst.plans.logical
        .SubqueryAlias(id, child) =>
      fromMarker(id.name).orElse(txLogUnder(child))
    // SQL temp/persistent views (`CREATE VIEW ... USING txlog`) wrap the
    // relation in a View node — same see-through as an alias
    case v: org.apache.spark.sql.catalyst.plans.logical.View =>
      txLogUnder(v.child)
    case pr: Project if identityChild(pr).isDefined =>
      txLogUnder(identityChild(pr).get)
    case rel: DataSourceV2Relation
        if rel.table.isInstanceOf[TxLogV2Table] =>
      val t = rel.table.asInstanceOf[TxLogV2Table]
      Some((t.table, t.asOfVersion))
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
        if lr.relation.isInstanceOf[graft.sources.TxLogRelation] &&
          !lr.isStreaming =>
      val r = lr.relation.asInstanceOf[graft.sources.TxLogRelation]
      Some((graft.sources.TxLogTable(spark, r.root), r.version))
    case _ => None
  }

  // One manifest-derived value per aggregate expression, or None when any
  // expression is outside the exactly-answerable set {COUNT(*)/COUNT(lit),
  // MIN(intCol), MAX(intCol)} or the manifest lacks the stats.
  private def metaValues(tbl: (graft.sources.TxLogTable, Option[Int]),
                         aggExprs: Seq[NamedExpression])
      : Option[Seq[Any]] = {
    val (t, version) = tbl
    lazy val rowCount = t.metaRowCount(version)
    def minMax(a: AttributeReference): Option[(Long, Long)] =
      a.dataType match {
        // temporal columns qualify: footerStats records their extrema
        // EXACTLY in the internal unit (micros/days)
        case ByteType | ShortType | IntegerType | LongType |
             TimestampType | DateType =>
          t.metaMinMax(a.name, version)
        case _ => None
      }
    def narrowed(v: Long, dt: org.apache.spark.sql.types.DataType): Any =
      dt match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType => v.toInt
        case DateType => v.toInt // internal DateType is epoch days
        case _ => v // LongType, and TimestampType's internal micros
      }
    val vals = aggExprs.map {
      case Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), _, false, None, _), _) if v != null =>
        rowCount
      case Alias(AggregateExpression(
          Min(a: AttributeReference), _, false, None, _), _) =>
        minMax(a).map(mm => narrowed(mm._1, a.dataType))
      case Alias(AggregateExpression(
          Max(a: AttributeReference), _, false, None, _), _) =>
        minMax(a).map(mm => narrowed(mm._2, a.dataType))
      case _ => None
    }
    if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
  }

  // the V1 relation's snapshot as a native-parquet DataFrame (manifest
  // pruning included), mirroring TxLogV2Table.snapshotDF
  private def v1SnapshotDF(rel: graft.sources.TxLogRelation,
                           pred: Option[Column]) = {
    val t = graft.sources.TxLogTable(spark, rel.root)
    pred match {
      case Some(p) => t.snapshotWhere(rel.schema, p, rel.version)
      case None => t.snapshot(rel.schema, rel.version)
    }
  }

  // Re-key the replacement plan's output to the V2 relation's attribute
  // ids, so references in parent operators stay valid. None when the
  // spliced plan cannot cover the relation's columns (schema drift
  // between table load and rule run) — the caller keeps the V2 relation,
  // which still reads correctly through the V1Scan fallback.
  private def aligned(df: org.apache.spark.sql.DataFrame,
                      output: Seq[AttributeReference])
      : Option[LogicalPlan] = {
    val inner = df.queryExecution.analyzed
    val byName = inner.output.map(a => a.name -> a).toMap
    if (!output.forall(o => byName.contains(o.name))) None
    else Some(Project(output.map { o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId) }, inner))
  }

  // Conservative catalyst→Column translation for manifest pruning: only
  // shapes PredicateRanges understands; anything else contributes nothing
  // (the Filter on top re-applies the full predicate regardless).
  // quote: a legal column name containing a dot must not parse as
  // struct access when the pruning predicate is re-built as a Column
  private def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  // A literal as a pruning Column, for the types whose Column literal
  // means the same value: integral and string. (A DATE or TIMESTAMP
  // literal holds epoch days / micros internally, which as a plain
  // number would compare against the column as something else.)
  private def litVal(l: Literal): Option[Column] = (l.dataType, l.value) match {
    case (ByteType | ShortType | IntegerType | LongType, v) if v != null =>
      Some(lit(v))
    case (org.apache.spark.sql.types.StringType, s: UTF8String) =>
      Some(lit(s.toString))
    case _ => None
  }

  // A constant operand, folded: the analyzer leaves its type-coercion
  // casts around literals (`bigintCol >= 10` is `>= CAST(10 AS BIGINT)`)
  // and constant folding runs only in the optimizer.
  private object Const {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable && e.deterministic =>
        scala.util.Try(Literal.create(e.eval(), e.dataType)).toOption
      case _ => None
    }
  }

  private def toPredicate(e: Expression): Option[Column] = e match {
    case EqualTo(a: AttributeReference, Const(l)) =>
      litVal(l).map(qcol(a.name) === _)
    case EqualTo(Const(l), a: AttributeReference) =>
      litVal(l).map(qcol(a.name) === _)
    case GreaterThan(a: AttributeReference, Const(l)) =>
      litVal(l).map(qcol(a.name) > _)
    case GreaterThan(Const(l), a: AttributeReference) =>
      litVal(l).map(qcol(a.name) < _)
    case GreaterThanOrEqual(a: AttributeReference, Const(l)) =>
      litVal(l).map(qcol(a.name) >= _)
    case GreaterThanOrEqual(Const(l), a: AttributeReference) =>
      litVal(l).map(qcol(a.name) <= _)
    case LessThan(a: AttributeReference, Const(l)) =>
      litVal(l).map(qcol(a.name) < _)
    case LessThan(Const(l), a: AttributeReference) =>
      litVal(l).map(qcol(a.name) > _)
    case LessThanOrEqual(a: AttributeReference, Const(l)) =>
      litVal(l).map(qcol(a.name) <= _)
    case LessThanOrEqual(Const(l), a: AttributeReference) =>
      litVal(l).map(qcol(a.name) >= _)
    case b: Between =>
      toPredicate(And(GreaterThanOrEqual(b.input, b.lower),
        LessThanOrEqual(b.input, b.upper)))
    case In(a: AttributeReference, vs) if vs.nonEmpty =>
      val raw = vs.map {
        case Const(l) => litVal(l)
        case _ => None
      }
      if (raw.forall(_.isDefined)) Some(qcol(a.name).isin(raw.flatten: _*))
      else None
    case IsNull(a: AttributeReference) => Some(qcol(a.name).isNull)
    case IsNotNull(a: AttributeReference) => Some(qcol(a.name).isNotNull)
    case Not(IsNull(a: AttributeReference)) => Some(qcol(a.name).isNotNull)
    case And(l, r) =>
      (toPredicate(l), toPredicate(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b) // one conjunct still prunes soundly
      }
    case Or(l, r) =>
      for (a <- toPredicate(l); b <- toPredicate(r)) yield a || b
    case _ => None
  }
}
