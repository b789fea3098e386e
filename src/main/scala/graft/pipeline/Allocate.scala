package graft.pipeline

import org.apache.spark.sql.Dataset
import Model.{AllocatedLine, DemandLine}

/** A1/B1 — greedy sequential inventory allocation
  * (reference: src/data_processor.py:264-355, driver-side Python loop
  * over collect()ed rows; batch fold src/data_processor.py:357-388).
  *
  * Spark-first re-expression: allocation is independent per product —
  * a product's outcome depends only on its own opening stock and its
  * own demand sequence in timestamp order. And because carried-over
  * inventory never resets between days, the reference's whole
  * chronological day-by-day fold collapses into a SINGLE pass:
  * hash-partition by product, external-sort each partition by
  * (product, timestamp), stream the iterator with O(1) state. No
  * collect(), no per-day lineage growth, one shuffle total. Daily
  * summaries fall out of a later group-by on the order date.
  *
  * Scale: partitions spill via Spark's external sorter, state is two
  * longs, and no group is ever materialized in memory — a single hot
  * product with 10^9 demand lines streams through. Skew across
  * products is handled by AQE; allocation itself cannot be salted
  * (the scan is inherently sequential per product), but the per-key
  * work is a trivial O(1) update so the sequential section is the
  * sort's merge phase, which spills fine.
  */
object Allocate {

  /** Plans A1 through the custom Catalyst operator
    * (plans.GreedyAllocationNode / GreedyAllocationExec), letting
    * Catalyst insert and co-plan the exchange + sort from the
    * operator's declared requirements; demand must carry the
    * DemandLine column shape. */
  def viaPlan(demand: org.apache.spark.sql.DataFrame, reloadDaily: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val spark = demand.sparkSession
    graft.plans.GreedyAllocationPlan.ensureRegistered(spark)
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      graft.plans.GreedyAllocationNode(reloadDaily, demand.queryExecution.analyzed))
  }

  /** `reloadDaily` — B2 config: start every calendar day from the
    * product's original opening stock instead of carrying depletion
    * over (the reference parses the flag at src/main.py:84-86; in the
    * golden run it is off and stock always carries over). The typed
    * view of [[viaPlan]]: one scan, one operator. */
  def apply(demand: Dataset[DemandLine], reloadDaily: Boolean = false): Dataset[AllocatedLine] = {
    import demand.sparkSession.implicits._
    viaPlan(demand.toDF(), reloadDaily).as[AllocatedLine]
  }
}
