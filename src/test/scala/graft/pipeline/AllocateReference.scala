package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import Model.{AllocatedLine, DemandLine}

/** The greedy allocation scan as a typed `mapPartitions` over the
  * Dataset API: the reference the allocation specs hold the Catalyst
  * operator (`Allocate`, GreedyAllocationExec) equal to. */
object AllocateReference {

  /** `reloadDaily` — B2 config: start every calendar day from the
    * product's original opening stock instead of carrying depletion
    * over (the reference parses the flag at src/main.py:84-86; in the
    * golden run it is off and stock always carries over). */
  def apply(demand: Dataset[DemandLine], reloadDaily: Boolean = false): Dataset[AllocatedLine] = {
    import demand.sparkSession.implicits._
    demand
      .repartition(col("product_id"))
      .sortWithinPartitions(col("product_id"), col("day"), col("seq"), col("pos"))
      .mapPartitions { it =>
        var pid = Long.MinValue
        var first = true
        var remaining = 0L
        var opening = 0L
        var curDay = Int.MinValue
        it.map { d =>
          // Reset key is d.day — the same sequence-key day the sort above and
          // GreedyAllocationExec use. Using the timestamp's date here would
          // diverge from the exec when a transaction's datetime-date differs
          // from its source-file day (cross-midnight rows), and datetime-day
          // groups aren't even contiguous under the (day, seq, pos) sort.
          if (first || d.product_id != pid) {
            pid = d.product_id; first = false
            remaining = d.opening_stock; opening = d.opening_stock; curDay = d.day
          } else if (reloadDaily && d.day != curDay) {
            remaining = opening; curDay = d.day
          } else {
            curDay = d.day
          }
          val filled = if (remaining >= d.qty) { remaining -= d.qty; d.qty } else 0L
          AllocatedLine(
            d.order_id, d.customer_id, d.order_datetime, d.product_id,
            filled, d.unit_price, (d.unit_price * BigDecimal(filled)).setScale(2))
        }
      }
  }
}
