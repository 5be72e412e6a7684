package graft

import graft.rangejoin.{IntervalIndex, LongIntervalIndex, LongSuperIntervalsIndex}

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/**
 * Randomized equivalence tests: each real index must agree with the O(n)
 * naive scan on random interval sets (strictly stronger than the
 * reference's fixed fixtures, SURVEY §5 port plan). Seeded → deterministic.
 */
class IntervalIndexSpec extends AnyFunSuite {

  private def randomIntervals(rnd: Random, n: Int): Array[(Int, Int)] =
    Array.fill(n) {
      val s = rnd.nextInt(1100) - 50
      (s, s + rnd.nextInt(121))
    }

  private def results(idx: LongIntervalIndex, s: Long, e: Long): Seq[Int] = {
    val buf = ArrayBuffer[Int]()
    idx.query(s, e)(buf += _)
    buf.sorted.toSeq
  }

  /** Int intervals through the widening overload. */
  private def build(name: String, iv: Array[(Int, Int)]): LongIntervalIndex =
    IntervalIndex.build(name, iv.map(_._1), iv.map(_._2),
      Array.range(0, iv.length))

  for (alg <- Seq("superintervals", "ailist", "lapper", "intervaltree")) {
    test(s"$alg ≡ naive on 200 random interval sets") {
      val rnd = new Random(42)
      for (trial <- 0 until 200) {
        val iv = randomIntervals(rnd, rnd.nextInt(200))
        val naive = build("naive", iv)
        val real = build(alg, iv)
        for (_ <- 0 until 20) {
          val s = rnd.nextInt(1300) - 100
          val e = s + rnd.nextInt(151)
          assert(results(real, s, e) == results(naive, s, e),
            s"trial=$trial probe=[$s,$e]")
        }
      }
    }
  }

  test("count matches query emission count") {
    val rnd = new Random(1)
    val iv = randomIntervals(rnd, 500)
    val idx = build("superintervals", iv)
    for (_ <- 0 until 100) {
      val s = rnd.nextInt(1300) - 100
      val e = s + rnd.nextInt(151)
      assert(idx.count(s, e) == results(idx, s, e).size)
    }
  }

  for (alg <- Seq("superintervals", "ailist", "lapper", "intervaltree")) {
    test(s"Long $alg ≡ linear scan at epoch-micro magnitudes (beyond Int32)") {
      val rnd = new Random(7)
      val base = 1704067200000000L // well beyond Int32
      for (trial <- 0 until 100) {
        val n = rnd.nextInt(300)
        val starts = new Array[Long](n)
        val ends = new Array[Long](n)
        for (i <- 0 until n) {
          starts(i) = base + rnd.nextLong(86400000000L)
          ends(i) = starts(i) + rnd.nextLong(60000000L)
        }
        val idx = LongIntervalIndex.build(alg, starts, ends,
          Array.range(0, n))
        for (_ <- 0 until 20) {
          val s = base + rnd.nextLong(86400000000L)
          val e = s + rnd.nextLong(120000000L)
          val got = { val b = ArrayBuffer[Int](); idx.query(s, e)(b += _); b.sorted.toSeq }
          val exp = (0 until n).filter(i => starts(i) <= e && ends(i) >= s)
          assert(got == exp, s"trial=$trial probe=[$s,$e]")
          assert(idx.count(s, e) == exp.size)
        }
      }
    }
  }

  test("Long lapper survives a full-domain sentinel interval (no maxLen wrap)") {
    val starts = Array(Long.MinValue, 100L, 5000L)
    val ends = Array(Long.MaxValue, 200L, 6000L)
    val idx = LongIntervalIndex.build("lapper", starts, ends, Array(0, 1, 2))
    val got = { val b = ArrayBuffer[Int](); idx.query(150L, 160L)(b += _); b.sorted.toSeq }
    assert(got == Seq(0, 1)) // sentinel matches everything; [100,200] overlaps
    assert(idx.count(1000000L, 1000001L) == 1) // only the sentinel
  }

  test("Long nearest with operands in opposite halves (no gap wrap)") {
    val s = 3L * (1L << 61) // 1.5 * 2^62
    val farNeg = -(1L << 62)
    val starts = Array(farNeg, s + 5)
    val ends = Array(farNeg, s + 6)
    val idx = LongSuperIntervalsIndex.build(starts, ends, Array(0, 1))
    // true gaps: to far-left interval ≈ 5*2^61 (overflows raw Long math),
    // to the right interval = 5 — the right one must win
    assert(idx.nearest(s, s) == 1)
  }

  test("Long nearest: saturated gap at the domain edge still returns " +
      "the only candidate") {
    // single build interval at Long.MaxValue, probe at Long.MinValue:
    // there is NO left candidate and the right candidate's saturated gap
    // equals the Long.MaxValue sentinel bestDist starts at — it must
    // still win (a key WITH build rows must never NULL-pad)
    val idx = LongSuperIntervalsIndex.build(
      Array(Long.MaxValue), Array(Long.MaxValue), Array(7))
    assert(idx.nearest(Long.MinValue, Long.MinValue) == 7)
  }

  test("Long index nearest ≡ linear argmin at epoch-micro magnitudes") {
    val rnd = new Random(9)
    val base = 1704067200000000L
    for (trial <- 0 until 100) {
      val n = 1 + rnd.nextInt(120)
      val starts = new Array[Long](n)
      val ends = new Array[Long](n)
      for (i <- 0 until n) {
        starts(i) = base + rnd.nextLong(10000000L)
        ends(i) = starts(i) + rnd.nextLong(300000L)
      }
      val idx = LongSuperIntervalsIndex.build(starts, ends, Array.range(0, n))
      for (_ <- 0 until 20) {
        val s = base + rnd.nextLong(12000000L) - 1000000L
        val e = s + rnd.nextLong(400000L)
        val got = idx.nearest(s, e)
        // linear oracle: overlap with min (start, end), else min gap with
        // (start, end) tie-break — mirrors the Int nearest semantics
        val overlaps = (0 until n).filter(i => starts(i) <= e && ends(i) >= s)
        val exp =
          if (overlaps.nonEmpty) overlaps.minBy(i => (starts(i), ends(i)))
          else (0 until n).minBy { i =>
            val gap = if (ends(i) < s) s - ends(i) else starts(i) - e
            (gap, starts(i), ends(i))
          }
        assert(got == exp, s"trial=$trial probe=[$s,$e]")
      }
    }
  }

  test("nearest: overlap argmin-(start,end), else min distance, " +
       "deterministic ties") {
    val rnd = new Random(9)
    for (trial <- 0 until 300) {
      val iv = randomIntervals(rnd, 1 + rnd.nextInt(120))
      val idx = build("superintervals", iv).asInstanceOf[LongSuperIntervalsIndex]
      for (_ <- 0 until 10) {
        val s = rnd.nextInt(1300) - 100
        val e = s + rnd.nextInt(151)
        val got = idx.nearest(s, e)
        val overl = iv.zipWithIndex.filter { case ((a, b), _) => a <= e && b >= s }
        val expected =
          if (overl.nonEmpty) overl.minBy { case ((a, b), _) => (a, b) }._2
          else iv.zipWithIndex.minBy { case ((a, b), _) =>
            val d = if (a > e) a.toLong - e else s.toLong - b
            (d, a.toLong, b.toLong)
          }._2
        // duplicate (start,end) intervals are interchangeable
        assert(iv(got) == iv(expected),
          s"trial=$trial nearest($s,$e): got ${iv(got)} exp ${iv(expected)}")
      }
    }
  }

  test("point intervals and touching endpoints") {
    val iv = Array((5, 10), (10, 10), (11, 11), (0, 4))
    for (alg <- Seq("superintervals", "ailist", "lapper", "intervaltree",
                    "naive")) {
      val idx = build(alg, iv)
      assert(results(idx, 10, 10) == Seq(0, 1))
      assert(results(idx, 11, 11) == Seq(2))
      assert(results(idx, 4, 5) == Seq(0, 3))
      assert(results(idx, 12, 100).isEmpty)
    }
  }

  test("empty index") {
    val idx = build("superintervals", Array.empty)
    assert(results(idx, 0, 100).isEmpty)
    assert(idx.asInstanceOf[LongSuperIntervalsIndex].nearest(0, 100) == -1)
  }

  test("unknown algorithm rejected") {
    intercept[IllegalArgumentException] {
      IntervalIndex.build("nope", Array(1), Array(2), Array(0))
    }
  }

  test("lapper giant-interval backoff and inverted intervals") {
    // one huge interval inflates Lapper's maxLen cutoff — correctness must
    // hold even when the cutoff scan window covers everything; inverted
    // (end < start) intervals must simply never match
    val iv = Array((0, 1000000), (500, 510), (600, 550), (700, 701))
    for (alg <- Seq("lapper", "intervaltree", "superintervals", "ailist")) {
      val idx = build(alg, iv)
      assert(results(idx, 505, 505) == Seq(0, 1), alg)
      assert(results(idx, 560, 590) == Seq(0), alg)
      assert(results(idx, 700, 700) == Seq(0, 3), alg)
    }
  }

  test("ailist handles adversarial containment sets") {
    // many long intervals containing short ones — the shape AIList's
    // decomposition exists for (Feng et al. 2019)
    val iv = Array.tabulate(2000) { i =>
      if (i % 10 == 0) (0, 100000) else (i * 37 % 5000, i * 37 % 5000 + 10)
    }
    val naive = build("naive", iv)
    val ail = build("ailist", iv)
    for ((s, e) <- Seq((0, 0), (4999, 5010), (100000, 100001), (-5, 120000)))
      assert(results(ail, s, e) == results(naive, s, e))
  }
}
