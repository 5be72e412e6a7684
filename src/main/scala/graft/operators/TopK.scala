package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-key top-k ranking, the local-top-k-then-merge scheme behind
  * [[Similarity.knnJoin]] and [[TextStats.bm25Retrieve]]. */
private[graft] object TopK {

  /** Default live-entry ceiling of one task's heaps: each entry is one
    * boxed row, so 1 M entries is tens of MB per task. */
  val DefaultBudget: Long = 1L << 20

  /** One kept row with its Catalyst-side sort keys. */
  private final class Entry(val score: Any, val id: Any, val row: Row)

  /** `ord` with NULL below every value (ascending NULLS FIRST). */
  private def nullsFirst(ord: Ordering[Any], a: Any, b: Any): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1 else ord.compare(a, b)

  /** The `k` best rows of `df` per `key`, ranked by `score` desc, then
    * `id` asc (the window defaults: NULL scores last, NULL ids first),
    * with an int `rank` column appended (1 = best). Rows tied on both
    * keep an arbitrary one of them, as `row_number` does.
    *
    * Each partition first keeps only its `k` best rows per key in a
    * bounded heap: one O(n log k) streaming pass in the stage that
    * produced the rows, so only those survivors reach the
    * `row_number() <= k` window's exchange and sort. The heaps compare
    * with Spark's own ordering on the Catalyst values, the ordering the
    * window sorts by, so the cut keeps exactly the rows the window
    * would rank ≤ k for every orderable id type. The heap map cannot
    * spill: once its live entries pass `budget`, the pass flushes every
    * heap downstream and starts fresh. The flushed rows are supersets
    * of each key's partition top k and the window re-cuts them, so a
    * flush costs extra survivor rows, never wrong ones. The result is
    * lazy. */
  def topKPerKey(df: DataFrame, key: String, score: String, id: String,
      k: Int, budget: Long = DefaultBudget): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    require(budget > 0, s"budget must be positive (got $budget)")
    val schema = df.schema
    val (ki, si, ii) =
      (schema.fieldIndex(key), schema.fieldIndex(score), schema.fieldIndex(id))
    val (scoreType, idType) = (schema(si).dataType, schema(ii).dataType)
    val pruned = df.mapPartitions { rows =>
      val toScore = CatalystTypeConverters.createToCatalystConverter(scoreType)
      val toId = CatalystTypeConverters.createToCatalystConverter(idType)
      val scoreOrd = GraftSqlShim.interpretedOrdering(scoreType)
      val idOrd = GraftSqlShim.interpretedOrdering(idType)
      // rank order: a heap's max is its WORST kept row, evicted first
      val rankOrder = new Ordering[Entry] {
        def compare(a: Entry, b: Entry): Int = {
          val c = nullsFirst(scoreOrd, b.score, a.score)
          if (c != 0) c else nullsFirst(idOrd, a.id, b.id)
        }
      }
      val heaps = mutable.HashMap.empty[Any, mutable.PriorityQueue[Entry]]
      var live = 0L
      def offer(r: Row): Unit = {
        val e = new Entry(toScore(r.get(si)), toId(r.get(ii)), r)
        val h = heaps.getOrElseUpdate(r.get(ki),
          mutable.PriorityQueue.empty(rankOrder))
        if (h.size < k) { h.enqueue(e); live += 1 }
        else if (rankOrder.lt(e, h.head)) { h.dequeue(); h.enqueue(e) }
      }
      // one chunk per flush: fill the heaps until the budget or the
      // partition runs out, then emit every survivor and start fresh
      Iterator.continually {
        while (live <= budget && rows.hasNext) offer(rows.next())
        val kept = heaps.values.toArray
        heaps.clear(); live = 0L
        kept.iterator.flatMap(_.iterator.map(_.row))
      }.takeWhile(_.hasNext).flatten
    }(Encoders.row(schema))
    val w = Window.partitionBy(key).orderBy(col(score).desc, col(id).asc)
    pruned.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
