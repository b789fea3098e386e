package graft.functions

import graft.{SparkEntry, SparkSpec}

/** The typed aggregators print their content in a plan: the optimized
  * plans of the queries that carry one hold no
  * `Aggregators$…@<identity hash>` text, so two JVMs print them alike
  * (what a plan golden compares). */
class AggregatorPlanTextSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val carriers = Seq("ds_bm25", "ds_group_sample", "ds_kmv_distinct",
    "ds_source_cap", "q29_weighted_avg", "q37_topk_agg")

  test("optimized plans name the typed aggregators by content, not identity") {
    val identity = "Aggregators\\$[A-Za-z]+\\$?@[0-9a-f]+".r
    carriers.foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString
      assert(identity.findFirstIn(plan).isEmpty, s"$q prints an identity:\n$plan")
      assert(plan.contains("TopKByValue(") || plan.contains("WeightedMeanCents"),
        s"$q carries no typed aggregator:\n$plan")
    }
  }
}
