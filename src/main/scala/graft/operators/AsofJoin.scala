package graft.operators

import graft.plans.{AsofCondition, AsofIntervalJoin}

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}

/**
 * AS-OF join (pandas `merge_asof` / DuckDB `ASOF JOIN` semantics; beyond
 * the reference): for each right (probe) row, emit exactly one output row
 * joined with the left (build) row whose time is the greatest at-or-before
 * the probe's time — or NULL-padded when the key has no qualifying build
 * row. The inequality's direction picks the variant:
 *
 * {{{
 * // latest build.t <= probe.t (classic backward as-of):
 * AsofJoin(quotes, trades,
 *   quotes("sym") === trades("sym") && quotes("t") <= trades("t"))
 * // earliest build.t >= probe.t (forward):      quotes("t") >= trades("t")
 * // strictly-before / strictly-after:           <  and  >
 * }}}
 *
 * Times are any integral, TIMESTAMP or DATE columns (temporal bounds
 * normalize to epoch micros/days; every time indexes as a Long).
 * The FIRST side-crossing inequality in the condition defines the time
 * axis and direction; any further conjuncts are residual filters applied
 * to the picked pair — a failing residual NULL-pads like a miss. That is
 * pandas merge_asof's `tolerance`:
 *
 * {{{
 * // backward, within one hour:
 * AsofJoin(quotes, trades,
 *   quotes("sym") === trades("sym") &&
 *   quotes("t") <= trades("t") && quotes("t") >= trades("t") - 3600L)
 * }}}
 *
 * Executes as the interval join's one-binary-search-per-probe asof mode
 * in either distribution mode — broadcast under the threshold,
 * hash-partitioned on the equi-keys above it — so it scales exactly like
 * the overlap join. Equal build times within a key are broken by the
 * index's deterministic sort only when times are unique per key; prefer
 * unique (key, time) build sides (enforce upstream with a groupBy if
 * needed).
 */
object AsofJoin {

  def apply(left: DataFrame, right: DataFrame, condition: Column): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    val cond = GraftSqlShim.expression(spark, condition)
    val df = GraftSqlShim.ofRows(spark, AsofIntervalJoin(lPlan, rPlan, cond))
    df.queryExecution.analyzed match {
      case AsofIntervalJoin(l, r, resolved) =>
        if (AsofCondition.extract(resolved, l, r).isEmpty)
          throw new IllegalArgumentException(
            "AsofJoin condition must be: optional equi-keys AND one " +
              "time-axis inequality between two bare integral/temporal " +
              "columns, plus optional tolerance bounds referencing both " +
              "sides (single-side filters belong on the input DataFrames); " +
              s"got: ${resolved.sql}")
      case _ => () // analyzer rewrote the node shape — planner will validate
    }
    df
  }
}
