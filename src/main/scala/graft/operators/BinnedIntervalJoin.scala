package graft.operators

import graft.plans.{AutoBinIntervalJoin, IntervalCondition}

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.Join

/**
 * Skew-proof partitioned overlap join via genomic binning — the 100-TB
 * answer to hot equi-keys (a genome has ~25 chromosomes and chr1 alone is
 * ~8 % of it, so hash-clustering on the key caps parallelism at the key
 * count; reference data per SURVEY §4 "contig skew").
 *
 * Both sides explode each interval to every `binSize`-wide bin it spans
 * and the join clusters on `(keys..., bin)` — one hot key becomes
 * `range/binSize` independent partitions. A pair overlapping in several
 * shared bins would be emitted once per bin, so the join keeps only the
 * bin containing `max(leftStart, rightStart)` (the leftmost bin where both
 * intervals are present) — a per-pair predicate, no dedup shuffle.
 *
 * The plain overlap join goes through the planner rule's own rewrite
 * ([[graft.plans.AutoBinIntervalJoin]]), so the two binned forms are one:
 * the same bins, owner predicate and span guard (an interval spanning more
 * than 1 M bins fails with a `[GRAFT_INTERVAL_JOIN]` error instead of
 * exploding), and `__graft_bin` keys the rule never bins a second time.
 * The exploded join is an ordinary Inner join with `(keys, bin)`
 * equi-keys + the overlap pair + a residual — exactly the shape
 * [[graft.plans.IntervalJoinStrategy]] claims, so it executes as a
 * partitioned `IntervalJoinExec` with per-(key, bin) indexes.
 */
object BinnedIntervalJoin {

  /** Overlap-join `left` and `right` with binned partitioning.
    *
    * @param keys    equal-named equi-key columns present on both sides
    *                (may be empty: pure range join, binning then provides
    *                the partitioning a keyless join otherwise lacks)
    * @param binSize genomic bin width (tune so a bin's build rows fit an
    *                executor; e.g. 1e6 for genome coordinates)
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String,
      binSize: Int): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    val overlap = left(leftStart) <= right(rightEnd) &&
      left(leftEnd) >= right(rightStart)
    val plain = left.join(right,
      (keys.map(k => left(k) === right(k)) :+ overlap).reduce(_ && _))
    val binned = plain.queryExecution.analyzed match {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        IntervalCondition.extract(cond, l, r)
          .map(AutoBinIntervalJoin.rewrite(j, _, binSize))
      case _ => None
    }
    GraftSqlShim.ofRows(left.sparkSession, binned.getOrElse(
      throw new IllegalArgumentException("binned join needs bare interval " +
        s"bounds: $leftStart, $leftEnd, $rightStart, $rightEnd")))
  }
}
