package graft.plans

import graft.SparkSpec
import graft.pipeline.{Allocate, AllocateReference, Model}

/** The custom Catalyst operator must agree exactly with the Dataset
  * allocator kept as reference (AllocateReference), and its declared
  * requirements must make Catalyst plan exactly one exchange + sort
  * beneath it. */
class GreedyAllocationPlanSpec extends SparkSpec {

  private def demand(n: Int, seed: Int) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val stocks = Array.fill(5)(rng.nextLong(40))
    (0 until n).map { i =>
      val pidIdx = rng.nextInt(5)
      val day = 1 + rng.nextInt(3)
      Model.DemandLine(i.toLong, 1L, f"2024-02-0$day%dT08:00:00.$i%06d",
        100L + pidIdx, 1L + rng.nextLong(8), BigDecimal("3.25"), stocks(pidIdx),
        20240200 + day, i.toLong, 0)
    }.toDS()
  }

  test("custom plan node matches the Dataset allocator on both modes") {
    for (mode <- Seq(false, true); seed <- Seq(1, 2, 3)) {
      val d = demand(200, seed)
      val expected = AllocateReference(d, mode).collect()
        .map(l => (l.order_id, l.product_id) -> (l.quantity, l.line_total)).toMap
      val got = Allocate.viaPlan(d.toDF(), mode).collect()
        .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(4), BigDecimal(r.getDecimal(6))))
        .toMap
      assert(got == expected, s"mode=$mode seed=$seed")
    }
  }

  test("Catalyst plans one exchange + sort from the operator's requirements") {
    val df = Allocate.viaPlan(demand(50, 7).toDF())
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("GreedyAllocation"), s"plan:\n$p")
    def cnt(sub: String) = p.sliding(sub.length).count(_ == sub)
    // final + initial AQE plan are both printed → ≤2 textual hits,
    // but at least one exchange and one sort must be present
    assert(cnt("Exchange hashpartitioning(product_id") >= 1, s"plan:\n$p")
    assert(p.contains("Sort [product_id"), s"plan:\n$p")
  }

  test("schema of the planned operator matches the Dataset form") {
    val d = demand(10, 11)
    val a = AllocateReference(d).toDF().schema.map(f => (f.name, f.dataType.simpleString))
    val b = Allocate.viaPlan(d.toDF()).schema.map(f => (f.name, f.dataType.simpleString))
    assert(a == b, s"$a vs $b")
  }
}
