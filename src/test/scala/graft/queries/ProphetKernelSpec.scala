package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ProphetLike whole-row solve kernel's bit-equality contract:
  * [[graft.plans.ProphetSolveKernel]] evaluates the IDENTICAL double DAG
  * the shared SQL level text (ProphetRel.levels + predictLevels)
  * spells out, so the kernel query path and the staged level-fold
  * path must agree to the BIT on live data — not to a tolerance.
  * This is what keeps the Spark output hash-exact against the DuckDB
  * CTE replay of the same text. */
class ProphetKernelSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("one-step forecast: kernel path ≡ staged level fold, bit-exact") {
    val kernel = Events.fcProphetSales(spark, sf)
      .select("forecast_date", "forecast_micro").collect()
    val staged = Events.predictFold(
        Events.prophetSolvedStaged(spark, sf), "n_days", withIcpt = true)
      .select(date_add(col("last_day"), 1).as("forecast_date"),
        col("forecast_micro"))
      .collect()
    assert(kernel.length == 1 && staged.length == 1)
    assert(kernel(0) == staged(0),
      s"kernel ${kernel(0)} != staged ${staged(0)}")
  }

  test("7-step horizon: kernel path ≡ staged level fold, bit-exact") {
    val kernel = Events.fcProphetMulti(spark, sf)
      .orderBy("step").collect()
    val spine = spark.range(1, Events.prophetHorizon + 1L)
      .select(col("id").as("j"))
    val staged = Events.predictFold(
        Events.prophetSolvedStaged(spark, sf).crossJoin(broadcast(spine)),
        "(n_days + j - 1)", withIcpt = true)
      .select(date_add(col("last_day"), col("j").cast("int"))
          .as("forecast_date"),
        col("j").as("step"), col("forecast_micro"))
      .orderBy("step").collect()
    assert(kernel.length == Events.prophetHorizon)
    assert(kernel.toSeq == staged.toSeq,
      s"kernel ${kernel.toSeq} != staged ${staged.toSeq}")
  }

  test("a mistyped Gram-sum field fails analysis, never reinterprets bits") {
    import graft.plans.ProphetSolveKernel
    // right field COUNT, wrong type in one slot: solve() reads by
    // ordinal with getLong, so a double here would silently yield
    // garbage coefficients if analysis let it through
    val fields = ProphetSolveKernel.inputCols.zipWithIndex.map {
      case (n, 0) => lit(1.5d).as(n) // cnt_0 must be a long
      case (n, i) if i == ProphetSolveKernel.nInputs - 2 => lit(1.0d).as(n)
      case (n, _) => lit(1L).as(n)
    }
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1)
        .select(graft.plans.GraftFunctions.prophetSolve(struct(fields: _*)))
        .collect()
    }
    assert(err.getMessage.contains("cnt_0"),
      s"the failure must name the mistyped field: ${err.getMessage}")
  }

  test("solved coefficients are finite and the plan has no barriers") {
    // the kernel path is ONE plan: no LogicalRDD below the final
    // projection beyond the two staged Gram-sum halves — i.e. no
    // per-level checkpoint barriers (the r17 regression's shape)
    val df = Events.fcProphetSales(spark, sf)
    val rdds = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(rdds.size <= 2,
      s"expected at most the 2 staged sum halves, got ${rdds.size} LogicalRDDs")
    val row = df.collect()(0)
    assert(row.getLong(1) != 0L)
  }
}
