package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/**
 * Recognized interval-overlap join condition:
 * equi-keys + (leftStart <= rightEnd AND leftEnd >= rightStart)
 * over closed (end-inclusive) intervals, plus whatever conjuncts were left
 * over (`residual`, applied as a post-join filter).
 *
 * Spark-side equivalent of the reference's range-filter parser
 * (reference: sequila/sequila-core/src/physical_planner/intervals.rs:30-138):
 * it accepts all 8 orderings of `{<, <=, >, >=}` comparisons between the
 * two sides and normalizes strict ops to inclusive ones by shifting the
 * bound by 1 (`x < y` ⇒ `x <= y - 1`, `x > y` ⇒ `x - 1 >= y`; reference
 * `minus_one`, intervals.rs:67-69). Side resolution uses Catalyst
 * attribute sets instead of the reference's filter-schema index juggling
 * (intervals.rs:39-65).
 */
case class IntervalCondition(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    residual: Option[Expression],
    /** True when either recognized range predicate compared a LongType
      * or timestamp operand — a coordinate domain that may be far wider
      * than genome positions. [[AutoBinIntervalJoin]] reads it: the
      * default binSize is calibrated to Int coordinates. Computed from the
      * ORIGINAL operand types, before the strict-op `minusOne` rewrite
      * widens everything to Long (the shift does not change coordinate
      * MAGNITUDE). */
    hasLongBounds: Boolean = false)

/** Exact epoch-micros reinterpretation of a TIMESTAMP_NTZ operand. NTZ's
  * physical representation IS a Long of microseconds since the epoch of
  * its wall-clock fields, so this is a zero-cost identity at runtime —
  * and timezone-FREE, unlike `Cast(ntz, TimestampType)` which consults
  * the session zone (only order-exact under fixed-offset zones; a DST
  * fold would collapse distinct wall-clock values). Spark has no builtin
  * for this (`unix_micros` rejects NTZ), hence the 10-line expression. */
case class NtzMicros(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == TimestampNTZType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"NtzMicros requires TIMESTAMP_NTZ, got ${child.dataType.sql}")
    }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(newChild: Expression)
      : NtzMicros = copy(child = newChild)
}

object IntervalCondition extends PredicateHelper {

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** Temporal bounds normalize to their exact physical integer —
    * timestamps to epoch MICROS (their internal resolution), dates to
    * epoch days. Comparisons are order-isomorphic, and the strict-op
    * shift below becomes exact: −1 micro / −1 day. This is what lets a
    * raw `a.ts <= b.ts_end` predicate plan onto the indexed join without
    * the user hand-converting to epoch integers. TIMESTAMP_NTZ extracts
    * its internal micros directly ([[NtzMicros]]) — comparing NTZ against
    * NTZ is wall-clock-ordered either way, so the normalization is exact. */
  private def norm(e: Expression): Expression = e.dataType match {
    case TimestampType => UnixMicros(e)
    case TimestampNTZType => NtzMicros(e)
    case DateType => UnixDate(e)
    case _ => e
  }

  /** `e - 1`, widened to Long first so a bound at the narrow type's min
    * value cannot wrap (non-ANSI) or throw (ANSI). The join kernel casts
    * every bound to Long anyway. */
  private def minusOne(e: Expression): Expression =
    Subtract(Cast(e, LongType), Literal(1L))

  /** Try to recognize `cond` (the full Inner-join condition) as an
    * interval overlap between `left` and `right`. */
  def extract(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[IntervalCondition] = {
    val conjuncts = splitConjunctivePredicates(cond)

    def fromLeft(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def fromRight(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(right.outputSet)

    // Canonical range form: (l, r, strict, dir) meaning
    //   dir = LE: l <= r (after strictness shift)    [l = a start, r = a end]
    //   dir = GE: l >= r (after strictness shift)    [l = an end, r = a start]
    sealed trait Dir; case object LE extends Dir; case object GE extends Dir
    case class Range(l: Expression, r: Expression, dir: Dir, wide: Boolean)

    def isWide(a: Expression, b: Expression): Boolean =
      Seq(a, b).exists(e => e.dataType == LongType ||
        e.dataType == TimestampType || e.dataType == TimestampNTZType)

    def asRange(c: Expression): Option[Range] = c match {
      case LessThanOrEqual(a, b) if fromLeft(a) && fromRight(b) &&
          integral(a) && integral(b) =>
        Some(Range(norm(a), norm(b), LE, isWide(a, b)))
      case LessThanOrEqual(a, b) if fromRight(a) && fromLeft(b) &&
          integral(a) && integral(b) =>
        Some(Range(norm(b), norm(a), GE, isWide(a, b)))
      case GreaterThanOrEqual(a, b) if fromLeft(a) && fromRight(b) &&
          integral(a) && integral(b) =>
        Some(Range(norm(a), norm(b), GE, isWide(a, b)))
      case GreaterThanOrEqual(a, b) if fromRight(a) && fromLeft(b) &&
          integral(a) && integral(b) =>
        Some(Range(norm(b), norm(a), LE, isWide(a, b)))
      // strict ops: x < y  ⇒  x <= y-1 ;  x > y  ⇒  x-1 >= y
      case LessThan(a, b) if fromLeft(a) && fromRight(b) &&
          integral(a) && integral(b) =>
        Some(Range(norm(a), minusOne(norm(b)), LE, isWide(a, b)))
      // `rs < le` ⇔ `le > rs` ⇔ `le - 1 >= rs` (shift the LEFT operand;
      // reference intervals.rs:99-129 applies minus_one to the gt side)
      case LessThan(a, b) if fromRight(a) && fromLeft(b) &&
          integral(a) && integral(b) =>
        Some(Range(minusOne(norm(b)), norm(a), GE, isWide(a, b)))
      case GreaterThan(a, b) if fromLeft(a) && fromRight(b) &&
          integral(a) && integral(b) =>
        Some(Range(minusOne(norm(a)), norm(b), GE, isWide(a, b)))
      // `re > ls` ⇔ `ls < re` ⇔ `ls <= re - 1` (shift the RIGHT operand)
      case GreaterThan(a, b) if fromRight(a) && fromLeft(b) &&
          integral(a) && integral(b) =>
        Some(Range(norm(b), minusOne(norm(a)), LE, isWide(a, b)))
      case _ => None
    }

    var leftKeys = Vector.empty[Expression]
    var rightKeys = Vector.empty[Expression]
    var les = Vector.empty[Range]
    var ges = Vector.empty[Range]
    var residual = Vector.empty[Expression]

    conjuncts.foreach {
      case EqualTo(a, b) if fromLeft(a) && fromRight(b) =>
        leftKeys :+= a; rightKeys :+= b
      case EqualTo(a, b) if fromRight(a) && fromLeft(b) =>
        leftKeys :+= b; rightKeys :+= a
      case c => asRange(c) match {
        case Some(r) if r.dir == LE && les.isEmpty => les :+= r
        case Some(r) if r.dir == GE && ges.isEmpty => ges :+= r
        case _ => residual :+= c
      }
    }

    if (les.isEmpty || ges.isEmpty) None
    else {
      val le = les.head // leftStart <= rightEnd
      val ge = ges.head // leftEnd   >= rightStart
      Some(IntervalCondition(
        leftKeys, rightKeys,
        leftStart = le.l, leftEnd = ge.l,
        rightStart = ge.r, rightEnd = le.r,
        residual = residual.reduceOption(And),
        hasLongBounds = le.wide || ge.wide))
    }
  }
}
