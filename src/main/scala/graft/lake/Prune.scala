package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import LakeTable.{ColStat, FileEntry, PTransform}

/** Every decision a data file's manifest stats make — per-column
  * [lo, hi] ranges and exact null counts — in one place, Iceberg's
  * shape: a predicate becomes one small tree ([[parse]]) that two
  * evaluators read, an inclusive one ([[may]]: a row of the file may
  * match) and a strict one ([[must]]: every row matches); a set of
  * equality-delete keys becomes per-column [[KeyBound]]s that one
  * `mayHold` test reads. All of them compare values in one domain
  * ([[value]], [[cmpStat]]) and answer conservatively wherever the
  * stats cannot decide: a missing stat, an unparsed predicate or an
  * incomparable value never prunes and never proves. */
private[graft] object Prune {

  // ---- the stats value domain ----------------------------------------

  /** A value in the [[ColStat]] domain: integral types widen to Long
    * (dates arrive as epoch days, timestamps as micros), floating
    * types to Double, strings to String; Booleans stay. None for null,
    * NaN and every other type (decimals, external date objects, ...):
    * such a value never bounds a file. The footer decoder writes
    * stats in this same domain. */
  def value(v: Any): Option[Any] = v match {
    case x: Byte => Some(x.toLong)
    case x: Short => Some(x.toLong)
    case x: Int => Some(x.toLong)
    case x: Long => Some(x)
    case x: Float => if (x.isNaN) None else Some(x.toDouble)
    case x: Double => if (x.isNaN) None else Some(x)
    case x: Boolean => Some(x)
    case x: String => Some(x)
    case x: UTF8String => Some(x.toString)
    case _ => None
  }

  /** Order of two stats-domain values; None when they do not compare
    * (cross-type), which every caller treats as "cannot decide". */
  def cmpStat(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long)       => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Double)     => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Long)     => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: Double, y: Double)   => Some(java.lang.Double.compare(x, y))
    // UNSIGNED UTF-8 BYTE order, matching how parquet computes binary
    // min/max (and how Spark orders strings): UTF-16 compareTo would
    // disagree around supplementary characters — chars >= U+E000 sort
    // BELOW surrogate-pair code points in UTF-16 units but above them
    // in UTF-8 bytes — and an equality prune bound-checked with the
    // wrong order can drop files holding matching rows
    case (x: String, y: String)   => Some(java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  // ---- the predicate tree --------------------------------------------

  /** A literal leaf: its stats-domain [[value]] and its raw catalyst
    * value and type (what a partition transform maps). */
  final case class Lit(raw: Any, dataType: DataType) {
    val value: Option[Any] = Prune.value(raw)
  }
  sealed trait Pred
  /** `col OP literal`, op one of `=`, `<`, `<=`, `>`, `>=`. */
  final case class Cmp(col: String, op: String, lit: Lit) extends Pred
  final case class InList(col: String, lits: Seq[Lit]) extends Pred
  final case class NullTest(col: String, isNull: Boolean) extends Pred
  final case class AndP(l: Pred, r: Pred) extends Pred
  final case class OrP(l: Pred, r: Pred) extends Pred
  case object Unknown extends Pred

  def parse(c: Column): Pred =
    parse(org.apache.spark.sql.graft.ColumnBridge.catalystExpression(c))

  /** Comparisons arrive unresolved (`UnresolvedFunction("<", …)`) from
    * the Column AST, or resolved (`LessThan`) from catalyst-built
    * trees; both parse to the same tree. `<=>` with a non-null literal
    * is `=` for stats (a null literal has no [[value]], so it prunes
    * and proves nothing). */
  def parse(e: Expression): Pred = {
    def attr(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="
      case ">" => "<"; case ">=" => "<="; case o => o
    }
    def cmp(op: String, l: Expression, r: Expression): Pred =
      (attr(l), l, r) match {
        case (Some(n), _, Literal(v, t)) => Cmp(n, op, Lit(v, t))
        case (Some(_), _, _) => Unknown
        case (None, Literal(v, t), a) =>
          attr(a).map(Cmp(_, flip(op), Lit(v, t))).getOrElse(Unknown)
        case _ => Unknown
      }
    def in(a: Expression, vs: Seq[Expression]): Pred = attr(a) match {
      case Some(n) if vs.forall(_.isInstanceOf[Literal]) =>
        InList(n, vs.map { case Literal(v, t) => Lit(v, t) })
      case _ => Unknown
    }
    e match {
      case And(l, r) => AndP(parse(l), parse(r))
      case Or(l, r) => OrP(parse(l), parse(r))
      case LessThan(l, r)           => cmp("<", l, r)
      case LessThanOrEqual(l, r)    => cmp("<=", l, r)
      case GreaterThan(l, r)        => cmp(">", l, r)
      case GreaterThanOrEqual(l, r) => cmp(">=", l, r)
      case EqualTo(l, r)            => cmp("=", l, r)
      case EqualNullSafe(l, r)      => cmp("=", l, r)
      case In(a, vs) => in(a, vs)
      case IsNull(a) =>
        attr(a).map(NullTest(_, isNull = true)).getOrElse(Unknown)
      case IsNotNull(a) =>
        attr(a).map(NullTest(_, isNull = false)).getOrElse(Unknown)
      case f: UnresolvedFunction if f.nameParts.size == 1 =>
        (f.nameParts.head, f.arguments) match {
          case ("and", Seq(l, r)) => AndP(parse(l), parse(r))
          case ("or", Seq(l, r)) => OrP(parse(l), parse(r))
          case (op @ ("<" | "<=" | ">" | ">="), Seq(l, r)) => cmp(op, l, r)
          case ("=" | "==" | "<=>", Seq(l, r)) => cmp("=", l, r)
          case ("in", a +: vs) => in(a, vs)
          case (name, Seq(a)) if name.equalsIgnoreCase("isnull") ||
              name.equalsIgnoreCase("isnotnull") =>
            attr(a).map(NullTest(_, name.equalsIgnoreCase("isnull")))
              .getOrElse(Unknown)
          case _ => Unknown
        }
      case _ => Unknown
    }
  }

  // ---- the two evaluators --------------------------------------------

  /** Can a file with range `st` hold a row where `col OP v`? A
    * comparison the domain cannot decide answers true. */
  private def possible(op: String, v: Any, st: ColStat): Boolean = op match {
    case "=" => cmpStat(v, st.lo).forall(_ >= 0) &&
      cmpStat(v, st.hi).forall(_ <= 0)
    case ">"  => cmpStat(st.hi, v).forall(_ > 0)
    case ">=" => cmpStat(st.hi, v).forall(_ >= 0)
    case "<"  => cmpStat(st.lo, v).forall(_ < 0)
    case "<=" => cmpStat(st.lo, v).forall(_ <= 0)
  }

  /** Does every row of a file with range `st` satisfy `col OP v`
    * (nulls aside)? A comparison the domain cannot decide answers
    * false. */
  private def certain(op: String, v: Any, st: ColStat): Boolean = op match {
    case "=" => cmpStat(st.lo, v).contains(0) && cmpStat(st.hi, v).contains(0)
    case ">"  => cmpStat(st.lo, v).exists(_ > 0)
    case ">=" => cmpStat(st.lo, v).exists(_ >= 0)
    case "<"  => cmpStat(st.hi, v).exists(_ < 0)
    case "<=" => cmpStat(st.hi, v).exists(_ <= 0)
  }

  /** The may-match test of `p` over snapshot files with hidden-partition
    * `transforms`: false only when the file's stats PROVE no row
    * matches. Reads only the top-level conjuncts: an OR, a function or
    * a column without stats prunes nothing (the caller's residual
    * filter always runs in full). IS [NOT] NULL prunes by exact null
    * counts, and any value comparison also excludes files whose column
    * is entirely null (three-valued logic: a comparison is never true
    * on NULL). */
  def may(p: Pred, transforms: Seq[PTransform]): FileEntry => Boolean = {
    def conjuncts(p: Pred): Seq[Pred] = p match {
      case AndP(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def someNonNull(n: String, f: FileEntry): Boolean =
      f.nullCounts.get(n).forall(_ < f.rows)
    def rawCheck(c: Pred): Option[FileEntry => Boolean] = c match {
      case InList(n, lits) if lits.forall(_.value.isDefined) =>
        val vs = lits.flatMap(_.value)
        Some(f => someNonNull(n, f) &&
          f.stats.get(n).forall(st => vs.exists(possible("=", _, st))))
      case NullTest(n, wantNull) =>
        Some(f => f.nullCounts.get(n).forall(nn =>
          if (wantNull) nn > 0 else nn < f.rows))
      case Cmp(n, op, lit) => lit.value.map(v => (f: FileEntry) =>
        someNonNull(n, f) && f.stats.get(n).forall(possible(op, v, _)))
      case _ => None
    }
    // hidden partitioning: a raw-column conjunct maps onto each
    // transform's derived partition column, whose [v, v] stats prune
    // whole directories. Every transform is monotone non-decreasing,
    // so strict bounds relax to inclusive ones (src < v => T(src) <=
    // T(v)). Spec evolution: every epoch's transform runs; a check
    // binds only on files carrying its derived column's stats.
    def transformChecks(c: Pred): Seq[FileEntry => Boolean] = c match {
      case InList(n, lits) if lits.forall(_.raw != null) =>
        transforms.filter(_.src == n).flatMap { t =>
          val mapped = lits.flatMap(l => t.mapValue(l.raw, l.dataType))
          // only prune when EVERY listed value mapped
          if (mapped.size != lits.size) None
          else Some((f: FileEntry) => f.stats.get(t.phys).forall(st =>
            mapped.exists(possible("=", _, st))))
        }
      case Cmp(n, op, lit) if lit.raw != null =>
        val relaxed = op match {
          case "<" => "<="; case ">" => ">="; case o => o
        }
        transforms.filter(t => t.src == n && (op == "=" || t.rangeSafe))
          .flatMap(t => t.mapValue(lit.raw, lit.dataType).map(tv =>
            (f: FileEntry) => f.stats.get(t.phys).forall(
              possible(relaxed, tv, _))))
      case _ => Nil
    }
    val checks = conjuncts(p).flatMap(c => rawCheck(c) ++ transformChecks(c))
    f => checks.forall(_(f))
  }

  /** The must-match test of `p`: true only when the file's exact
    * metadata PROVES every row satisfies `p` (an empty file trivially
    * does). A comparison holds for all rows iff the column has zero
    * nulls and its [lo, hi] range lies inside the predicate's region;
    * an IN list iff the file is single-valued on a listed value; an OR
    * iff either side proves. Anything unparsed proves nothing. */
  def must(p: Pred): FileEntry => Boolean = {
    def noNulls(f: FileEntry, n: String): Boolean =
      f.nullCounts.get(n).contains(0L)
    def holds(p: Pred, f: FileEntry): Boolean = p match {
      case AndP(l, r) => holds(l, f) && holds(r, f)
      case OrP(l, r) => holds(l, f) || holds(r, f)
      case InList(n, lits) => lits.forall(_.value.isDefined) &&
        noNulls(f, n) && f.stats.get(n).exists(st =>
          cmpStat(st.lo, st.hi).contains(0) &&
            lits.exists(l => cmpStat(st.lo, l.value.get).contains(0)))
      case NullTest(n, true) => f.nullCounts.get(n).contains(f.rows)
      case NullTest(n, false) => noNulls(f, n)
      case Cmp(n, op, lit) => lit.value.exists(v => noNulls(f, n) &&
        f.stats.get(n).exists(certain(op, v, _)))
      case Unknown => false
    }
    f => f.rows == 0L || holds(p, f)
  }

  // ---- equality-key bounds -------------------------------------------

  /** What a set of equality-delete keys says about one key column:
    * [lo, hi] over its values, whether any key is null, and whether any
    * non-null key has no stats-domain [[value]] (then the column never
    * prunes: "no bound" is only safe to act on when it means "every
    * key is null"). */
  final case class KeyBound(col: String, lo: Option[Any], hi: Option[Any],
                            hasNull: Boolean, unorderable: Boolean) {
    /** Can a file hold a row whose `col` equals one of the keys? Null
      * keys keep every file not proven null-free. */
    def mayHold(f: FileEntry): Boolean =
      unorderable ||
        (hasNull && !f.nullCounts.get(col).contains(0L)) ||
        (lo.isDefined && f.stats.get(col).forall(st =>
          cmpStat(st.lo, hi.get).forall(_ <= 0) &&
            cmpStat(lo.get, st.hi).forall(_ <= 0)))

    /** The bound of both key sets. */
    def union(o: KeyBound): KeyBound = KeyBound(col,
      if (lo.isEmpty || o.lo.exists(l => cmpStat(l, lo.get).forall(_ < 0))) o.lo
      else lo,
      if (hi.isEmpty || o.hi.exists(h => cmpStat(h, hi.get).forall(_ > 0))) o.hi
      else hi,
      hasNull || o.hasNull, unorderable || o.unorderable)
  }

  object KeyBound {
    /** The bound of keys whose column minimum is `min`, maximum `max`
      * (raw values; null when every key is null). A floating zero
      * widens to the {-0.0, +0.0} class: SQL equality does not order
      * the zeros, `Double.compare` does. */
    def of(col: String, min: Any, max: Any, hasNull: Boolean): KeyBound = {
      def zeroWide(v: Any, low: Boolean): Any = v match {
        case d: Double if d == 0.0d => if (low) -0.0d else 0.0d
        case o => o
      }
      val lo = value(min).map(zeroWide(_, low = true))
      val hi = value(max).map(zeroWide(_, low = false))
      KeyBound(col, lo, hi, hasNull,
        (min != null && lo.isEmpty) || (max != null && hi.isEmpty))
    }

    /** The bound of one key value. */
    def point(col: String, v: Any): KeyBound = of(col, v, v, v == null)
  }
}
