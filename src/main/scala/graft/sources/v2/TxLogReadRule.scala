package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, In, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeleteFromTable, Filter, LocalRelation, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampType}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.unsafe.types.UTF8String

/** Analyzer rule (installed by `graft.GraftExtensions`) that replaces a
  * txlog DataSourceV2 relation with the table's native parquet logical
  * plan — the same replace-at-resolution trick Delta uses so catalog
  * tables read through the ordinary FileSourceScan: vectorized parquet,
  * whole-stage codegen, parquet filter pushdown, and NO InternalRow→Row
  * conversion (what the V1Scan fallback pays).
  *
  * Filters are not handled here: the spliced read is a parquet relation
  * over the table's manifest file index, whose `listFiles` runs the
  * MANIFEST pruning (range stats, null counts, partition paths, Blooms)
  * on the filters the optimizer pushes to the scan — through aliases,
  * views, identity projections and joins alike.
  *
  * Top-down transform: the metadata-only Aggregate case must see the
  * relation BENEATH it before the relation cases rewrite it.
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
        val direct = txLogUnder(child).flatMap { case (t, v) =>
          metaValues(aggExprs, t.metaRowCount(v),
            t.metaMinMax(_, v).map(Some(_)))
        }
        // Filtered COUNT(*) over PARTITION columns only: a partition
        // value is constant per file, so each file fully satisfies or
        // fully fails the predicate and the manifest still answers
        // exactly (partition segment + per-file footer row counts) —
        // the dashboard query at 100 TB. The predicate must translate
        // COMPLETELY (equality/IN on partition columns under AND):
        // partial translation is fine for pruning but unsound for
        // counting, so any untranslated conjunct declines the collapse
        // and the ordinary spliced scan answers instead.
        // MIN/MAX read the qualifying files' footer extrema (a partition
        // column's from its path segment).
        val filtered = direct.orElse(for {
          (cond, fchild) <- filterUnder(child)
          (t, v) <- txLogUnder(fchild)
          preds <- partitionPoints(cond)
          values <- metaValues(aggExprs, t.metaRowCountWhere(preds, v),
            t.metaMinMaxWhere(_, preds, v))
        } yield values)
        filtered.map(values =>
          LocalRelation(aggExprs.map(_.toAttribute),
            Seq(InternalRow.fromSeq(values)), isStreaming = false))
          .getOrElse(agg)
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
      // native parquet plan whenever the extension is installed. Manifest
      // pruning is identical to the V2 case.
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

  // The txlog RELATION NODE (or splice marker) beneath alias wrappers
  // (for the defer set) — the structural twin of [[txLogUnder]] before
  // types resolve. Descends one Filter too: a read under `WHERE
  // <partition cols>` beneath a not-yet-resolved COUNT(*) must also stay
  // un-spliced until the Aggregate case has had its
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
  // MIN/MAX of an integral or temporal column} or the manifest lacks the
  // stats. `minMax` answers Some(None) for an empty file set: SQL MIN/MAX
  // over zero rows is NULL, still manifest-answered. Temporal columns
  // qualify because footerStats records their extrema EXACTLY in the
  // internal unit (micros/days) — inexact normalizations are never stored.
  private def metaValues(aggExprs: Seq[NamedExpression],
                         count: => Option[Long],
                         minMax: String => Option[Option[(Long, Long)]])
      : Option[Seq[Any]] = {
    lazy val rowCount = count
    def extremum(a: AttributeReference, lo: Boolean): Option[Any] =
      a.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             TimestampType | DateType =>
          minMax(a.name).map {
            case Some((mn, mx)) =>
              val v = if (lo) mn else mx
              a.dataType match {
                case ByteType => v.toByte
                case ShortType => v.toShort
                case IntegerType => v.toInt
                case DateType => v.toInt // internal DateType is epoch days
                case _ => v // LongType, and TimestampType's internal micros
              }
            case None => null
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
}
