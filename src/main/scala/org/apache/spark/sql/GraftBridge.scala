package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` API: the Dataset constructor, so the
  * engine can materialize DataFrames from its own logical nodes
  * (GreedyAllocationNode), and the Column/Expression conversions its
  * kernels are built with. Spark offers no public API for either; the
  * in-package object is the standard library-extension technique. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over a Catalyst expression: how the engine's kernels
    * (graft.plans.GraftFunctions) reach the DataFrame API without a
    * function registry. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column, for a kernel's children. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Constraint-free lazy local checkpoint — the engine's one staging
    * primitive: every frame that is re-used across several joins of
    * one query, or across the rounds of an iterative loop, is staged
    * here.
    *
    * `Dataset.localCheckpoint` stamps the resulting LogicalRDD with
    * the optimized plan's `originConstraints`, expressed on the
    * ORIGINAL exprIds. When the staged frame's lineage shares source
    * attributes with another frame in the same final query (the
    * normal case: both sides of an incremental-dedup read the same
    * table), InferFiltersFromConstraints re-applies those constraints
    * to ANY operator outputting those exprIds — measured concretely:
    * a checkpointed batch frame's `vec_id >= cut OR vec_id <=> id`
    * union constraint was injected into the CORPUS-side scan of the
    * same dominance query, turning it into an always-false filter and
    * silently emptying the corpus join (IncrementalDedupSpec caught
    * it). This helper wraps the checkpointed RDD in a bare LogicalRDD
    * with NO origin stats/constraints, so nothing can leak; the cost
    * is only that downstream loses inherited partitioning/ordering
    * info, which the staged-frame call sites reshuffle anyway. Its
    * blocks are freed at the [[releaseStaged]] boundary; a frame that
    * must outlive a query is written to a table instead. */
  def stageLocal(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    staged.synchronized(staged.put(rdd, qe))
    ofRows(df.sparkSession, org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, rdd)(ds.sparkSession))
  }

  /** Each RDD checkpointed by [[stageLocal]] since the last release,
    * mapped to the QueryExecution it was cut from; keys are WEAK — the
    * explicit-cleanup half of the staging contract. The checkpoint job
    * is deferred to the frame's first consumer, and its tasks report to
    * the plan's SQL-metric accumulators, which Spark registers weakly:
    * keyed on the RDD, the plan stays reachable exactly as long as the
    * staged RDD, so no metric update is lost to a collected plan.
    * Weak keys matter for library callers that never reach a
    * [[releaseStaged]] boundary (Dedup.semDedup, Similarity et al. in
    * a user's long-lived session): the returned LogicalRDD is the only
    * strong reference, so once the caller drops the frame the
    * ContextCleaner reclaims the checkpoint blocks as usual, and the
    * entry goes with them. A strong registry here would pin every
    * staged block for the JVM lifetime and defeat that fallback. */
  private val staged = new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_],
    org.apache.spark.sql.execution.QueryExecution]()

  /** Unpersist every staged checkpoint block still reachable. Call at
    * a CONSUME boundary — after the frames built on staged lineage
    * have been materialized (Bench, Verify and perfbench's
    * QuerySample, each between queries): a released frame
    * re-materialized later fails loudly (checkpoint block gone), it
    * never silently recomputes. Without a
    * call, reclamation falls to the ContextCleaner once the RDDs go
    * unreferenced (the registry is weak, so it never blocks that).
    *
    * CONTRACT: this is a process-global boundary — it assumes ONE
    * in-flight query stream per JVM (the Bench/Verify/QuerySample
    * harness shape). With concurrent queries on a shared session,
    * thread B's boundary would unpersist thread A's still-in-flight
    * staged blocks and fail A's query; concurrent callers should skip
    * the hook and rely on the weak-registry + ContextCleaner path. */
  def releaseStaged(): Unit = staged.synchronized {
    staged.keySet.forEach(_.unpersist(blocking = false))
    staged.clear()
  }
}
