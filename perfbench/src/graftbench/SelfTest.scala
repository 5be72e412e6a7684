package graftbench

import scala.collection.mutable

/** The benchmark's own checks, without Spark: generation is a function
  * of the seed, each answer check accepts the independent answer and
  * rejects answers one pair or one group off it. Prints the metric
  * catalogue as its last line for the caller to hold against
  * BENCHMARK.json; exits non-zero if any check failed. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val failures = Workload.all.flatMap { w =>
      val a = w.fingerprint(w.generate(7))
      val b = w.fingerprint(w.generate(7))
      val c = w.fingerprint(w.generate(8))
      val exp = w.expected(w.generate(7))
      val offs = w.offByOne(exp)
      Seq(
        (a == b) -> s"${w.name}: the same seed gave different inputs",
        (a != c) -> s"${w.name}: different seeds gave the same inputs",
        w.check(exp, exp, exp) -> s"${w.name}: the check rejects the expected answer",
        offs.nonEmpty -> s"${w.name}: no off-by-one answers to try") ++
        offs.map(o => !w.check(exp, exp, o) -> s"${w.name}: the check accepts an answer one off")
    }.collect { case (false, msg) => msg }
    failures.foreach(m => System.err.println(s"FAIL $m"))
    println(Json(Map(
      "end_to_end" -> mutable.LinkedHashMap(Metrics.endToEnd: _*),
      "per_layer" -> mutable.LinkedHashMap(Metrics.perLayer: _*))))
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
