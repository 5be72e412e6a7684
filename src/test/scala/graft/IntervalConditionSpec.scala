package graft

import graft.plans.IntervalCondition

import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Unit tests of the overlap-condition recognizer — ports the reference's
 * parser tests (reference: sequila-core/src/physical_planner/intervals.rs:258-512):
 * all 8 orderings of {<, <=, >, >=} comparisons, strict→inclusive
 * normalization, equi-key extraction, and rejection of non-range shapes.
 */
class IntervalConditionSpec extends AnyFunSuite {

  private val lContig = AttributeReference("l_contig", StringType)()
  private val ls = AttributeReference("ls", IntegerType)()
  private val le = AttributeReference("le", IntegerType)()
  private val rContig = AttributeReference("r_contig", StringType)()
  private val rs = AttributeReference("rs", IntegerType)()
  private val re = AttributeReference("re", IntegerType)()

  private val left = LocalRelation(lContig, ls, le)
  private val right = LocalRelation(rContig, rs, re)

  private def extract(cond: Expression) =
    IntervalCondition.extract(cond, left, right)

  /** Evaluate a bound expression (over ls/le/rs/re literals) to Long. */
  private def evalBound(e: Expression, vals: Map[Attribute, Int]): Long = {
    val substituted = e.transform {
      case a: AttributeReference if vals.contains(a) => Literal(vals(a))
    }
    Cast(substituted, LongType).eval(null).asInstanceOf[Long]
  }

  private val sample =
    Map[Attribute, Int](ls -> 100, le -> 200, rs -> 150, re -> 250)

  /** Assert the recognized condition is semantically
    * leftStart <= rightEnd && leftEnd >= rightStart with the expected
    * effective bound values on the sample row. */
  private def assertBounds(cond: Expression,
      expLs: Long, expLe: Long, expRs: Long, expRe: Long): Unit = {
    val ic = extract(cond).getOrElse(fail(s"not recognized: $cond"))
    assert(evalBound(ic.leftStart, sample) == expLs, "leftStart")
    assert(evalBound(ic.leftEnd, sample) == expLe, "leftEnd")
    assert(evalBound(ic.rightStart, sample) == expRs, "rightStart")
    assert(evalBound(ic.rightEnd, sample) == expRe, "rightEnd")
  }

  // -- all 4 inclusive orderings (reference intervals.rs:258-358) ---------
  test("ls <= re AND le >= rs") {
    assertBounds(And(LessThanOrEqual(ls, re), GreaterThanOrEqual(le, rs)),
      100, 200, 150, 250)
  }
  test("re >= ls AND rs <= le (flipped operands)") {
    assertBounds(And(GreaterThanOrEqual(re, ls), LessThanOrEqual(rs, le)),
      100, 200, 150, 250)
  }
  test("le >= rs AND ls <= re (swapped conjunct order)") {
    assertBounds(And(GreaterThanOrEqual(le, rs), LessThanOrEqual(ls, re)),
      100, 200, 150, 250)
  }
  test("rs <= le AND re >= ls") {
    assertBounds(And(LessThanOrEqual(rs, le), GreaterThanOrEqual(re, ls)),
      100, 200, 150, 250)
  }

  // -- strict orderings: x < y ⇒ x <= y-1, x > y ⇒ x-1 >= y ---------------
  // (reference minus_one, intervals.rs:67-69; advisor-flagged operand bugs)
  test("ls < re AND le > rs (strict, left operands first)") {
    // ls <= re-1 ; le-1 >= rs
    assertBounds(And(LessThan(ls, re), GreaterThan(le, rs)),
      100, 199, 150, 249)
  }
  test("re > ls AND rs < le (strict, right operands first)") {
    // ls <= re-1 ; le-1 >= rs  — same semantics from the flipped side
    assertBounds(And(GreaterThan(re, ls), LessThan(rs, le)),
      100, 199, 150, 249)
  }
  test("mixed strict/inclusive: ls < re AND le >= rs") {
    assertBounds(And(LessThan(ls, re), GreaterThanOrEqual(le, rs)),
      100, 200, 150, 249)
  }
  test("mixed strict/inclusive: ls <= re AND le > rs") {
    assertBounds(And(LessThanOrEqual(ls, re), GreaterThan(le, rs)),
      100, 199, 150, 250)
  }

  // -- equi-keys + residual ----------------------------------------------
  test("equi-key extracted, extra predicate becomes residual") {
    val cond = And(And(EqualTo(lContig, rContig),
      And(LessThanOrEqual(ls, re), GreaterThanOrEqual(le, rs))),
      GreaterThan(ls, Literal(5)))
    val ic = extract(cond).get
    assert(ic.leftKeys == Seq(lContig))
    assert(ic.rightKeys == Seq(rContig))
    assert(ic.residual.isDefined)
  }
  test("flipped equi-key (r = l) is normalized to (l, r)") {
    val cond = And(EqualTo(rContig, lContig),
      And(LessThanOrEqual(ls, re), GreaterThanOrEqual(le, rs)))
    val ic = extract(cond).get
    assert(ic.leftKeys == Seq(lContig) && ic.rightKeys == Seq(rContig))
  }

  test("hasLongBounds: the strict-op shift to Long does not set it") {
    // auto-bin keys its binSize guard off the ORIGINAL operand types
    assert(!extract((ls < re) && (le >= rs)).get.hasLongBounds)
  }

  // -- rejection ----------------------------------------------------------
  test("only one range predicate → not recognized") {
    assert(extract(LessThanOrEqual(ls, re)).isEmpty)
  }
  test("both operands from one side → not recognized") {
    assert(extract(And(LessThanOrEqual(ls, le),
      GreaterThanOrEqual(le, ls))).isEmpty)
  }
  test("non-integral bounds → not recognized") {
    val lf = AttributeReference("lf", DoubleType)()
    val rf = AttributeReference("rf", DoubleType)()
    val l2 = LocalRelation(lf)
    val r2 = LocalRelation(rf)
    assert(IntervalCondition.extract(
      And(LessThanOrEqual(lf, rf), GreaterThanOrEqual(lf, rf)), l2, r2).isEmpty)
  }
  test("same-direction pair (two LE) → second kept as residual, no overlap") {
    // ls <= re AND rs <= le is an overlap (one LE, one GE after flip) — but
    // ls <= re AND le <= rs parses as LE + residual: no GE ⇒ rejected
    assert(extract(And(LessThanOrEqual(ls, re),
      LessThanOrEqual(le, rs))).isEmpty)
  }
}
