package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Between, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.{ColumnNode, Literal => NodeLit, UnresolvedAttribute => NodeAttr, UnresolvedFunction => NodeFn}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Conservative per-column bounds extracted from a predicate `Column` —
  * the analysis that lets `TxLogTable.snapshotWhere` skip files for
  * ARBITRARY conjunctive range predicates instead of the explicit
  * (column, lo, hi) form. Mirrors what Catalyst's data-source filter
  * pushdown derives for parquet row groups, applied one level up at the
  * manifest.
  *
  * Spark 4's `Column` is a tree of `ColumnNode`s (the pre-analysis form
  * shared with Connect), and both the node types and `Column.node` are
  * `private[sql]` — hence this object lives in the
  * `org.apache.spark.sql` namespace, the established shim pattern for
  * extension libraries that need analyzer-level access.
  *
  * Soundness rule: an extracted bound may be WIDER than the true
  * constraint, never narrower — a file is only skipped when the bound
  * proves no row can match. Anything not understood (OR trees, NOT, IN,
  * non-literal comparisons, functions over the column) contributes no
  * bound, so those predicates simply don't prune; the caller always
  * re-applies the full predicate to the surviving rows.
  */
object PredicateRanges {

  final case class Bound(lo: Long, hi: Long) {
    def intersect(o: Bound): Bound =
      Bound(math.max(lo, o.lo), math.min(hi, o.hi))
    // sound for OR: a row satisfying either branch lies in the hull of the
    // two ranges (wider than the true disjoint union — never narrower)
    def union(o: Bound): Bound =
      Bound(math.min(lo, o.lo), math.max(hi, o.hi))
  }

  /** Nullness constraints implied by `pred`: columns every matching row
    * must have NULL, and columns it must have NON-NULL. Complements the
    * range bounds — a file whose footer null count says "no nulls" cannot
    * match `c IS NULL`, and an all-null file cannot match `c IS NOT NULL`
    * or any null-rejecting comparison on c.
    */
  final case class Nullness(mustBeNull: Set[String],
                            mustBeNonNull: Set[String])

  /** Extract [[Nullness]] from `pred`, by the same soundness rule as
    * [[extract]]: a constraint is recorded only when EVERY row satisfying
    * the predicate provably has it. AND unions both sides' constraints; OR
    * keeps only constraints common to both branches; `isnull`/`isnotnull`
    * constrain their direct column argument; null-rejecting comparisons
    * (`= != < <= > >=`, `in`) mark their direct column arguments
    * non-null (SQL comparison against NULL is never TRUE). `<=>`
    * (null-safe equality) is deliberately NOT null-rejecting, and a column
    * under any function (`coalesce(c, 0) > 5`) contributes nothing — only
    * bare attribute arguments count.
    */
  def extractNullness(pred: Column): Nullness =
    walkNull(pred.node, neg = false)

  private val NullRejecting = Set(">", ">=", "<", "<=", "=", "==", "!=")

  // `neg` tracks NOT polarity (De Morgan: ¬(a∧b) swaps the AND/OR
  // combination rules, ¬(c IS NULL) ⇒ c IS NOT NULL). Comparisons imply
  // non-null REGARDLESS of polarity: `NOT (x = 3)` is TRUE only when
  // `x = 3` is FALSE — NOT(NULL) is NULL, not TRUE — so x is non-null
  // either way (this is why `=!=`, which desugars to NOT(=), prunes).
  // The Column DSL emits camelCase names (`isNull`) where the SQL
  // registry uses lowercase (`isnull`) — normalize so both prune.
  private def walkNull(n: ColumnNode, neg: Boolean): Nullness = n match {
    case f: NodeFn => (f.functionName.toLowerCase(java.util.Locale.ROOT),
        f.arguments) match {
      case ("not" | "!", Seq(c)) => walkNull(c, !neg)
      case ("and", Seq(l, r)) =>
        val a = walkNull(l, neg); val b = walkNull(r, neg)
        if (!neg) Nullness(a.mustBeNull ++ b.mustBeNull,
          a.mustBeNonNull ++ b.mustBeNonNull)
        else Nullness(a.mustBeNull & b.mustBeNull, // ¬(a∧b) = ¬a ∨ ¬b
          a.mustBeNonNull & b.mustBeNonNull)
      case ("or", Seq(l, r)) =>
        val a = walkNull(l, neg); val b = walkNull(r, neg)
        if (!neg) Nullness(a.mustBeNull & b.mustBeNull,
          a.mustBeNonNull & b.mustBeNonNull)
        else Nullness(a.mustBeNull ++ b.mustBeNull, // ¬(a∨b) = ¬a ∧ ¬b
          a.mustBeNonNull ++ b.mustBeNonNull)
      case ("isnull", Seq(c)) =>
        if (!neg) Nullness(colName(c).toSet, Set.empty)
        else Nullness(Set.empty, colName(c).toSet)
      case ("isnotnull", Seq(c)) =>
        if (!neg) Nullness(Set.empty, colName(c).toSet)
        else Nullness(colName(c).toSet, Set.empty)
      case (op, args) if NullRejecting(op) =>
        Nullness(Set.empty, args.flatMap(colName).toSet)
      case ("in", c +: rest) if rest.nonEmpty =>
        Nullness(Set.empty, colName(c).toSet)
      case _ => Nullness(Set.empty, Set.empty)
    }
    case _ => Nullness(Set.empty, Set.empty)
  }

  /** One equality-point literal: its canonical string rendering plus
    * whether it was a STRING literal — the probe side of the manifest
    * Bloom filters. The kind matters for soundness under SQL type
    * coercion: `stringCol = 5` matches rows like `"05"` (both sides are
    * coerced numeric), so an integral point may NOT be probed verbatim
    * against a string column's bloom, and a string point may only probe an
    * integral column's bloom after exact Long normalization ("05" → "5").
    * The consumer ([[graft.sources.TxLogTable]]) applies those rules
    * against the bloom's recorded column type; anything that doesn't
    * normalize voids the whole point set (no pruning, still correct).
    */
  final case class Point(isString: Boolean, canon: String)

  /** Exact point sets implied by `pred`: column → the set of literal
    * values at least one of which EVERY matching row must equal. Same
    * soundness rule as [[extract]] — `=` and all-literal `IN` contribute,
    * AND intersects per-column sets (an empty intersection proves no row
    * can match: prune everything), OR unions and keeps only columns
    * constrained in BOTH branches, anything else contributes nothing.
    */
  def extractPoints(pred: Column): Map[String, Set[Point]] =
    walkPoints(pred.node)

  private def litCanon(n: ColumnNode): Option[Point] = n match {
    case l: NodeLit => l.value match {
      case v: Int => Some(Point(isString = false, v.toString))
      case v: Long => Some(Point(isString = false, v.toString))
      case v: Short => Some(Point(isString = false, v.toString))
      case v: Byte => Some(Point(isString = false, v.toString))
      case v: String => Some(Point(isString = true, v))
      case _ => None // doubles/decimals/etc: rendering-ambiguous, no point
    }
    case _ => None
  }

  /** Coercion-canonical identity of a point: two literals that could
    * describe the SAME row under SQL type coercion must map to the same
    * key, or AND-intersection would wrongly conclude "no row can match".
    * An integral literal and any string literal parsing to the same
    * numeric value are coercion-equal: `c = 3 AND c = '3'` is satisfied
    * by the row c = 3 when c is integral (the string side coerces), and
    * by the row c = "3" when c is a string column (the integral side
    * compares through a double cast) — likewise `'03'`/`'3.0'`/`' 3'`,
    * which Spark's cast all take to 3. Scala `BigDecimal` equality is
    * value-based (BigDecimal("3") == BigDecimal("3.0") == BigDecimal("03")),
    * exactly the equivalence needed. A string that parses as NO number is
    * exact: it casts to NULL against a numeric column (a comparison that
    * is never TRUE) and string-vs-string equality is uncoerced — so
    * distinct keys really cannot co-describe a row of any type the bloom
    * probe handles (filters exist only for string and integral columns).
    */
  private def pointKey(p: Point): Either[String, BigDecimal] =
    if (!p.isString) Right(BigDecimal(p.canon))
    else scala.util.Try(BigDecimal(p.canon.trim)).toOption.toRight(p.canon)

  private def walkPoints(n: ColumnNode): Map[String, Set[Point]] = n match {
    case f: NodeFn => (f.functionName.toLowerCase(java.util.Locale.ROOT),
        f.arguments) match {
      case ("and", Seq(l, r)) =>
        val a = walkPoints(l); val b = walkPoints(r)
        (a.keySet ++ b.keySet).iterator.map { k =>
          k -> ((a.get(k), b.get(k)) match {
            case (Some(x), Some(y)) =>
              // intersect by coercion-canonical key, NOT structural
              // equality — `c = 3 AND c = '3'` keeps the point, while
              // `c = 3 AND c = 4` goes empty (prune ALL files). Both
              // sides' renderings of a surviving key are kept, so the
              // probe-time type normalization sees the richest form.
              val shared = x.map(pointKey) & y.map(pointKey)
              (x ++ y).filter(p => shared(pointKey(p)))
            case (Some(x), None) => x
            case (None, Some(y)) => y
            case _ => Set.empty[Point]
          })
        }.toMap
      case ("or", Seq(l, r)) =>
        val a = walkPoints(l); val b = walkPoints(r)
        (a.keySet & b.keySet).iterator
          .map(k => k -> (a(k) ++ b(k))).toMap
      case ("=" | "==" | "<=>", Seq(a, b)) =>
        (for (nm <- colName(a); v <- litCanon(b)) yield Map(nm -> Set(v)))
          .orElse(
            for (nm <- colName(b); v <- litCanon(a)) yield Map(nm -> Set(v)))
          .getOrElse(Map.empty)
      case ("in", c +: rest) if rest.nonEmpty =>
        val vs = rest.map(litCanon)
        colName(c) match {
          case Some(nm) if vs.forall(_.isDefined) =>
            Map(nm -> vs.flatten.toSet)
          case _ => Map.empty
        }
      case _ => Map.empty
    }
    case _ => Map.empty
  }

  /** Inclusive STRING bounds implied by `pred` per column — the range
    * complement to [[Point]]s (which only serve equality/bloom probes).
    * Strict comparisons are WIDENED to inclusive (sound: wider, never
    * narrower); either side may be absent (unbounded). Consumed against
    * the `:spre:`-keyed manifest stats via the order-preserving prefix
    * embedding in `graft.sources.TxLogTable`.
    */
  /** UTF-8 byte order (= code-point order) — the collation of the footer
    * stats, the prefix embedding, and Spark's UTF8String comparisons.
    * Java's natural String order is UTF-16 code-UNIT order, which
    * disagrees for supplementary-plane characters (a surrogate pair
    * 0xD800.. sorts below U+E000 in UTF-16 but above it in UTF-8): every
    * min/max that feeds a pruning bound must use THIS ordering or a
    * hull can exclude keys it must cover.
    */
  val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      var r = 0
      while (i < n && r == 0) {
        r = (x(i) & 0xff) - (y(i) & 0xff)
        i += 1
      }
      if (r != 0) r else x.length - y.length
    }
  }

  final case class StrBound(lo: Option[String], hi: Option[String]) {
    def intersect(o: StrBound): StrBound = StrBound(
      (lo ++ o.lo).reduceOption(Utf8Ordering.max(_, _)),
      (hi ++ o.hi).reduceOption(Utf8Ordering.min(_, _)))
    // OR hull: a side stays bounded only when BOTH branches bound it
    def union(o: StrBound): StrBound = StrBound(
      for (a <- lo; b <- o.lo) yield Utf8Ordering.min(a, b),
      for (a <- hi; b <- o.hi) yield Utf8Ordering.max(a, b))
  }

  def extractStr(pred: Column): Map[String, StrBound] = walkStr(pred.node)

  private def litStr(n: ColumnNode): Option[String] = n match {
    case l: NodeLit => l.value match {
      case s: String => Some(s)
      case _ => None
    }
    case _ => None
  }

  private def cmpStr(a: ColumnNode, b: ColumnNode)
                    (fwd: String => StrBound)(rev: String => StrBound)
      : Map[String, StrBound] = {
    val f = for (n <- colName(a); v <- litStr(b)) yield Map(n -> fwd(v))
    val r = for (n <- colName(b); v <- litStr(a)) yield Map(n -> rev(v))
    f.orElse(r).getOrElse(Map.empty)
  }

  private def walkStr(n: ColumnNode): Map[String, StrBound] = n match {
    case f: NodeFn => (f.functionName, f.arguments) match {
      case ("and", Seq(l, r)) =>
        val a = walkStr(l); val b = walkStr(r)
        (a.keySet ++ b.keySet).iterator.map { k =>
          k -> ((a.get(k), b.get(k)) match {
            case (Some(x), Some(y)) => x.intersect(y)
            case (Some(x), None) => x
            case (None, Some(y)) => y
            case _ => StrBound(None, None)
          })
        }.toMap
      case ("or", Seq(l, r)) =>
        val x = walkStr(l); val y = walkStr(r)
        (x.keySet & y.keySet).iterator
          .map(k => k -> x(k).union(y(k))).toMap
      // strict bounds widen to inclusive — the prefix embedding cannot
      // represent "just above v" exactly, and wider is always sound
      case (">" | ">=", Seq(a, b)) =>
        cmpStr(a, b)(v => StrBound(Some(v), None))(
          v => StrBound(None, Some(v)))
      case ("<" | "<=", Seq(a, b)) =>
        cmpStr(a, b)(v => StrBound(None, Some(v)))(
          v => StrBound(Some(v), None))
      case ("=" | "==" | "<=>", Seq(a, b)) =>
        cmpStr(a, b)(v => StrBound(Some(v), Some(v)))(
          v => StrBound(Some(v), Some(v)))
      case ("in", c +: rest) if rest.nonEmpty =>
        val vs = rest.map(litStr)
        colName(c) match {
          case Some(nm) if vs.forall(_.isDefined) =>
            val ss = vs.flatten
            Map(nm -> StrBound(Some(ss.min(Utf8Ordering)),
              Some(ss.max(Utf8Ordering))))
          case _ => Map.empty
        }
      case _ => Map.empty
    }
    case _ => Map.empty
  }

  /** Bounds implied by `pred` per referenced column. AND-trees of binary
    * comparisons against integral literals intersect; OR-trees contribute
    * the UNION of both branches' bounds (and only for columns bounded in
    * BOTH branches — a column unconstrained on either side of an OR is
    * unconstrained, full stop); `isin` contributes min..max of its literal
    * list. `between` needs no case: the Column DSL desugars it to
    * `>= AND <=` before it reaches the node tree.
    */
  def extract(pred: Column): Map[String, Bound] = walk(pred.node)

  /** The predicate as a COMPLETE conjunction of per-column bounds — or
    * None. [[extract]] returns NECESSARY bounds (sound for may-match
    * pruning: dropping a conjunct only widens); this is the EXACT
    * characterization the file-DROP fast path needs for sufficiency: a
    * non-NULL-valued row matches `pred` iff every bounded column's
    * value lies in its bound, so a file whose stats sit wholly inside
    * the bounds (and that holds no NULLs in the bounded columns)
    * contains ONLY matching rows. Any node outside
    * {AND, <, <=, >, >=, = against an integral/temporal literal}
    * yields None — `<=>` stays out (its NULL behavior differs) and so
    * do OR / IN / NOT / function wrappers.
    */
  def exactBounds(pred: Column): Option[Map[String, Bound]] =
    exactWalk(pred.node)

  private def exactWalk(n: ColumnNode): Option[Map[String, Bound]] =
    n match {
      case f: NodeFn => (f.functionName, f.arguments) match {
        case ("and", Seq(l, r)) =>
          for (a <- exactWalk(l); b <- exactWalk(r)) yield
            (a.keySet ++ b.keySet).iterator.map { k =>
              k -> ((a.get(k), b.get(k)) match {
                case (Some(x), Some(y)) => x.intersect(y)
                case (Some(x), None) => x
                case (None, Some(y)) => y
                case _ => Bound(Long.MinValue, Long.MaxValue)
              })
            }.toMap
        case (op @ (">" | ">=" | "<" | "<=" | "=" | "=="), Seq(a, b)) =>
          // the leaf translations ARE exact when they translate at all:
          // reuse walk's cmp cases; an empty result means the literal
          // (or shape) was untranslatable → the whole pred is inexact.
          // EXCEPT a strict comparison whose literal sits at the Long
          // saturation boundary: incr/decr clamp there, so walk's bound
          // is wider than the (empty) truth — sound for may-match, but a
          // lie to the file-DROP path. Decline; the rewrite path handles
          // it.
          val clamped = (op == ">" || op == "<") && {
            val fwd = for (_ <- colName(a); v <- litLong(b)) yield v
            val rev = for (_ <- colName(b); v <- litLong(a)) yield v
            fwd.exists(v => if (op == ">") v == Long.MaxValue
                            else v == Long.MinValue) ||
            rev.exists(v => if (op == ">") v == Long.MinValue
                            else v == Long.MaxValue)
          }
          val m = walk(n)
          if (m.nonEmpty && !clamped) Some(m) else None
        case _ => None
      }
      case _ => None
    }

  private def colName(n: ColumnNode): Option[String] = n match {
    case a: NodeAttr => Some(a.nameParts.mkString("."))
    case _ => None
  }

  private def litLong(n: ColumnNode): Option[Long] = n match {
    case l: NodeLit => l.value match {
      case v: Int => Some(v.toLong)
      case v: Long => Some(v)
      case v: Short => Some(v.toLong)
      case v: Byte => Some(v.toLong)
      // temporal literals bound in the SAME integer domain parquet
      // footers record them: timestamps as epoch MICROS (INT64), dates
      // as epoch DAYS (INT32) — the analyzer has already coerced the
      // comparison, so a temporal literal only ever faces a column of
      // its own type and the units can never cross
      // overflow (timestamps past ~year 294k, Instant.MAX) degrades to
      // "no bound" — never an exception, never a silently wrapped bound
      case v: java.sql.Timestamp =>
        scala.util.Try(Math.addExact(Math.multiplyExact(
          Math.floorDiv(v.getTime, 1000L), 1000000L),
          v.getNanos / 1000L)).toOption
      case v: java.time.Instant =>
        scala.util.Try(Math.addExact(Math.multiplyExact(
          v.getEpochSecond, 1000000L), v.getNano / 1000L)).toOption
      case v: java.sql.Date => Some(v.toLocalDate.toEpochDay)
      case v: java.time.LocalDate => Some(v.toEpochDay)
      case _ => None // doubles/strings: no bound, never a rounded one
    }
    case _ => None
  }

  // saturating arithmetic at the Long extremes keeps strict bounds sound
  private def incr(v: Long) = if (v == Long.MaxValue) v else v + 1
  private def decr(v: Long) = if (v == Long.MinValue) v else v - 1

  // `col OP lit` contributes fwd(lit); `lit OP col` contributes rev(lit);
  // anything else nothing. At most one orientation can match.
  private def cmp(a: ColumnNode, b: ColumnNode)
                 (fwd: Long => Bound)(rev: Long => Bound)
      : Map[String, Bound] = {
    val f = for (n <- colName(a); v <- litLong(b)) yield Map(n -> fwd(v))
    val r = for (n <- colName(b); v <- litLong(a)) yield Map(n -> rev(v))
    f.orElse(r).getOrElse(Map.empty)
  }

  private def walk(n: ColumnNode): Map[String, Bound] = n match {
    case f: NodeFn => (f.functionName, f.arguments) match {
      case ("and", Seq(l, r)) =>
        val a = walk(l); val b = walk(r)
        (a.keySet ++ b.keySet).iterator.map { k =>
          k -> ((a.get(k), b.get(k)) match {
            case (Some(x), Some(y)) => x.intersect(y)
            case (Some(x), None) => x
            case (None, Some(y)) => y
            case _ => Bound(Long.MinValue, Long.MaxValue)
          })
        }.toMap
      case (">", Seq(a, b)) =>
        cmp(a, b)(v => Bound(incr(v), Long.MaxValue))(
          v => Bound(Long.MinValue, decr(v)))
      case (">=", Seq(a, b)) =>
        cmp(a, b)(v => Bound(v, Long.MaxValue))(
          v => Bound(Long.MinValue, v))
      case ("<", Seq(a, b)) =>
        cmp(a, b)(v => Bound(Long.MinValue, decr(v)))(
          v => Bound(incr(v), Long.MaxValue))
      case ("<=", Seq(a, b)) =>
        cmp(a, b)(v => Bound(Long.MinValue, v))(
          v => Bound(v, Long.MaxValue))
      // `<=>` is sound here because litLong only matches NON-NULL
      // literals, where null-safe equality coincides with `=` (Spark's
      // static partition overwrite pushes partition specs as `<=>`)
      case ("=" | "==" | "<=>", Seq(a, b)) =>
        cmp(a, b)(v => Bound(v, v))(v => Bound(v, v))
      case ("or", Seq(l, r)) =>
        // per-column bound union, kept ONLY where both branches bound the
        // column: `a < 5 OR a > 90` prunes the middle files' complement
        // soundly via the hull; `a < 5 OR b > 3` bounds neither (a row may
        // satisfy the other branch with any value of a)
        val x = walk(l); val y = walk(r)
        (x.keySet & y.keySet).iterator
          .map(k => k -> x(k).union(y(k))).toMap
      case ("in", col +: rest) if rest.nonEmpty =>
        // k IN (v1..vn) → min..max of the literal list; any non-integral
        // element voids the bound (it could match anything after coercion)
        val vs = rest.map(litLong)
        colName(col) match {
          case Some(n) if vs.forall(_.isDefined) =>
            val longs = vs.flatten
            Map(n -> Bound(longs.min, longs.max))
          case _ => Map.empty
        }
      case _ => Map.empty // not / udf / non-literal cmp: no pruning, still correct
    }
    case _ => Map.empty
  }

  /** A resolved Catalyst predicate as a pruning `Column`, as far as its
    * shape allows: comparisons, BETWEEN, IN/INSET, IS [NOT] NULL of an
    * attribute against integral or string constants, under AND (where
    * one translated conjunct still prunes soundly) and OR (where both
    * sides must translate). Anything else contributes nothing; the
    * caller re-applies the full predicate to the rows it reads.
    */
  def fromCatalyst(e: Expression): Option[Column] = e match {
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
      fromCatalyst(And(GreaterThanOrEqual(b.input, b.lower),
        LessThanOrEqual(b.input, b.upper)))
    case In(a: AttributeReference, vs) if vs.nonEmpty =>
      val raw = vs.map {
        case Const(l) => litVal(l)
        case _ => None
      }
      if (raw.forall(_.isDefined)) Some(qcol(a.name).isin(raw.flatten: _*))
      else None
    // the optimizer's form of a long IN list
    case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
      val raw = vs.toSeq.map(v => litVal(Literal(v, a.dataType)))
      if (raw.forall(_.isDefined)) Some(qcol(a.name).isin(raw.flatten: _*))
      else None
    case IsNull(a: AttributeReference) => Some(qcol(a.name).isNull)
    case IsNotNull(a: AttributeReference) => Some(qcol(a.name).isNotNull)
    case Not(IsNull(a: AttributeReference)) => Some(qcol(a.name).isNotNull)
    case And(l, r) =>
      (fromCatalyst(l), fromCatalyst(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b) // one conjunct still prunes soundly
      }
    case Or(l, r) =>
      for (a <- fromCatalyst(l); b <- fromCatalyst(r)) yield a || b
    case _ => None
  }

  // quoted: a legal column name containing a dot must not parse as
  // struct access when the predicate is re-built as a Column
  private def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  // A literal as a pruning Column of the same type: integral and string
  // values as they are, a DATE's epoch days and a TIMESTAMP's epoch
  // micros as the java.time values they encode (a bare number would
  // compare against the column as something else).
  private def litVal(l: Literal): Option[Column] = (l.dataType, l.value) match {
    case (ByteType | ShortType | IntegerType | LongType, v) if v != null =>
      Some(lit(v))
    case (StringType, s: UTF8String) => Some(lit(s.toString))
    case (DateType, d: Int) => Some(lit(java.time.LocalDate.ofEpochDay(d)))
    case (TimestampType, us: Long) =>
      Some(lit(DateTimeUtils.microsToInstant(us)))
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
}
