package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator inventory (SURVEY.md §2.11 Q1–Q12 + window /
  * semi / anti extensions). Each query is a declarative DataFrame plan —
  * Catalyst handles pushdown, pruning and join selection; we add
  * `broadcast` hints where the dimension side is known-small relative
  * to the fact table so the plan stays a BroadcastHashJoin at any
  * scale factor (at 100 TB the fact side never shuffles for these).
  *
  * Every aggregate/computed column is aliased identically to the
  * oracle SQL (driver compares columns by name).
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables(s, d, "customer")

  /** Q1 — scan + filter + project; predicate and projection both push
    * into the parquet scan (PushedFilters / ReadSchema). */
  def q1FilterProject(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_quantity") > 25)
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")

  /** Q2 — inner equi-join orders ⋈ customer (dimension broadcast). */
  def q2Join(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name", "o_totalprice")

  /** Q3 — left outer join with null-producing side: orders per
    * customer including zero. count(o_orderkey) skips nulls exactly
    * like SQL COUNT(col). */
  def q3LeftJoinCount(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("order_cnt"))

  /** Q4 — star join: fact ⋈ two broadcast dims, grouped agg. */
  def q4StarJoin(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .join(broadcast(Tables(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand", "s_name")
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
           count(lit(1)).as("line_cnt"))

  /** Q5 — TPC-H Q1 shape: multi-aggregate group-by (partial agg
    * map-side, final agg after a 2-key shuffle). */
  def q5PricingSummary(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Q6 — exact count-distinct per group (Catalyst Expand + 2-phase agg). */
  def q6CountDistinct(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("distinct_custs"))

  /** Q7 — global aggregate to a single row. */
  def q7GlobalAgg(s: SparkSession, d: String): DataFrame =
    ord(s, d).agg(
      round(sum(col("o_totalprice")), 2).as("total_price"),
      count(lit(1)).as("order_cnt"))

  /** Q8 — per-row derived arithmetic + round, re-aggregated per key.
    * Rounded to integer cents before the sum: the aggregate is then
    * exact in Long (no float-association drift at any data order or
    * parallelism — matters when partial aggs combine in arbitrary
    * order across 1000 executors). */
  def q8DerivedRound(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0).cast("long"))
      .groupBy("l_orderkey")
      .agg((sum(col("cents")) / 100.0).as("revenue"))

  /** Q9 — date bucketing: orders per calendar day. */
  def q9DateBucket(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(count(lit(1)).as("order_cnt"),
           round(sum(col("o_totalprice")), 2).as("day_sales"))

  /** Q10 — union-all accumulation: per-partition aggregates of Q5
    * unioned back together must equal Q5 (U1 semantics). */
  def q10Union(s: SparkSession, d: String): DataFrame = {
    def branch(pred: org.apache.spark.sql.Column): DataFrame =
      li(s, d).filter(pred)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             count(lit(1)).as("count_order"))
    branch(col("l_linestatus") === "F").unionByName(branch(col("l_linestatus") =!= "F"))
  }

  /** Q11 — full multi-column sort (range-partitioned exchange). */
  def q11Sort(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q12 — explode parity: tokenize documents and count tokens
    * (built-in Generator; no UDTF). */
  def q12Explode(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))

  /** Q13 — JSON field extraction from the events props column. */
  def q13Json(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select(col("event_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k_val"))

  /** Q14 — running total per customer (window, no row collapse). */
  def q14WindowRunning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ord(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
  }

  /** Q15 — top-3 orders per customer by price (rank keeps ties → the
    * qualifying row set is deterministic). */
  def q15WindowRank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord(s, d)
      .withColumn("rk", rank().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
  }

  /** Q16 — left-semi: customers that have at least one order. */
  def q16Semi(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** Q17 — left-anti: customers with no orders. */
  def q17Anti(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Q18 — rollup with grand total (grouping-set capability). */
  def q18Rollup(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
           count(lit(1)).as("cnt"))

  /** Q19 — salted skew join: same result set as the plain join (the
    * oracle IS the plain join), shuffle re-shaped for hot keys only —
    * cold keys (all of them, in this unskewed data) pay zero
    * replication, so the query costs a plain join plus the detection
    * pass. */
  def q19SaltedJoin(s: SparkSession, d: String): DataFrame =
    graft.operators.SkewedJoin
      .saltedInnerHot(li(s, d), ord(s, d).withColumnRenamed("o_orderkey", "l_orderkey")
        .select("l_orderkey", "o_orderpriority"), "l_orderkey", 8, hotThreshold = 1000L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"),
           round(sum(col("l_extendedprice")), 2).as("sum_price"))

  /** Q28 — GROUPING SETS beyond rollup/cube: an explicit lattice of
    * aggregation levels in one pass over the fact table (Spark plans
    * a single Expand + aggregate, not |sets| scans). */
  def q28GroupingSets(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("cnt"))

  /** Q29 — typed UDAF (functions.Aggregators.WeightedMeanCents):
    * quantity-weighted mean price per return flag. The aggregator's
    * exact-integer buffer makes the result independent of partial-
    * aggregation order — the property any custom aggregate needs
    * before it's safe on a cluster. */
  def q29WeightedAvg(s: SparkSession, d: String): DataFrame = {
    val wm = udaf(graft.functions.Aggregators.WeightedMeanCents)
    li(s, d)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        col("l_quantity").cast("long").as("w"))
      .groupBy("l_returnflag")
      .agg(round(wm(col("cents"), col("w")), 6).as("w_avg_price"))
  }

  /** Q30 — the SQL surface itself: a correlated-EXISTS query (TPC-H
    * Q4 shape) submitted as SQL text over registered views. Catalyst
    * rewrites the EXISTS into a left-semi join — same plan class the
    * DataFrame API's q16_semi produces. */
  def q30Exists(s: SparkSession, d: String): DataFrame = {
    li(s, d).createOrReplaceTempView("lineitem")
    ord(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority""")
  }

  /** Q31 — FULL OUTER join: customers vs per-customer order counts,
    * null-completing both sides (the join type q3's left join doesn't
    * cover). */
  def q31FullOuter(s: SparkSession, d: String): DataFrame = {
    val cust = Tables(s, d, "customer").select(col("c_custkey"), col("c_name"))
    val og = ord(s, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    cust.join(og, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"))
  }

  /** Q32 — INTERSECT / EXCEPT set semantics (dedup'd, null-safe),
    * labeled into one result so a single oracle pins both. */
  def q32SetOps(s: SparkSession, d: String): DataFrame = {
    val a = li(s, d).filter(col("l_returnflag") === "A").select(col("l_partkey"))
    val r = li(s, d).filter(col("l_returnflag") === "R").select(col("l_partkey"))
    a.intersect(r).withColumn("op", lit("intersect"))
      .union(a.except(r).withColumn("op", lit("except")))
      .select(col("op"), col("l_partkey"))
  }

  /** Q33 — the remaining ranking-window family in one pass: ntile
    * buckets, cumulative distribution, percent rank (all share one
    * sort per partition — Catalyst collapses same-window functions
    * into a single Window operator). */
  def q33WindowFamily(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag")
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    li(s, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_partkey"),
        col("l_linenumber"))
      .withColumn("nt", ntile(4).over(w).cast("long"))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .withColumn("pr", round(percent_rank().over(w), 6))
  }

  /** Q34 — quantile sketch (percentile_approx / KLL-style summaries):
    * the scale path when q25's exact interpolation is too expensive.
    * The sketch VALUE is engine-specific, so the driver-visible
    * contract is the exact-twin tolerance check computed in-plan:
    * each approximate percentile must land inside the exact
    * [p−0.01, p+0.01] rank bracket (accuracy 10000 guarantees 1e-4
    * rank error — 100× headroom), emitted as hashable 1/0 columns
    * beside the exact per-group row count. The oracle asserts the
    * brackets hold (constant 1s) — a sketch regression flips a bit
    * and the row goes red in CORRECTNESS, not just in ProfileSpec. */
  def q34ApproxPercentile(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("__p50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("__p95"),
        expr("percentile(l_extendedprice, array(0.49D, 0.51D, 0.94D, 0.96D))").as("__ex"))
      .select(col("l_returnflag"), col("n_rows"),
        (col("__p50") >= col("__ex")(0) && col("__p50") <= col("__ex")(1))
          .cast("long").as("p50_in_bracket"),
        (col("__p95") >= col("__ex")(2) && col("__p95") <= col("__ex")(3))
          .cast("long").as("p95_in_bracket"))

  /** Q35 — unpivot/melt (the inverse reshape of ev_pivot): wide
    * per-flag aggregates to long (flag, metric, value) form. */
  def q35Unpivot(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy("l_returnflag")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "metric", "value")

  /** Q36 — bloom-pruned big-big join: the dim side (high-value
    * orders) is selective but, at 100 TB, too large to broadcast as a
    * hash relation; a ~1 MB bloom of its keys prunes the fact scan
    * BEFORE the shuffle. No false negatives → the oracle is the
    * PLAIN join: the pruned plan must return identical rows. */
  def q36BloomPrune(s: SparkSession, d: String): DataFrame = {
    val dim = ord(s, d).filter(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_orderpriority")
    graft.operators.BloomSemiJoin.prunedJoin(li(s, d), dim, "l_orderkey", "o_orderkey")
      .withColumn("cents", round(col("l_extendedprice") * 100, 0).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("cents")) / 100.0).as("revenue"))
  }

  /** Q37 — top-k per key via the bounded-buffer aggregate
    * (Aggregators.TopKByValue): row_number-exact top-3 orders per
    * customer WITHOUT a window's full per-key sort — per-key state is
    * O(k) and map-side combine collapses each task's rows to k before
    * the exchange. The scale twin of q15's window form. */
  def q37TopKAgg(s0: SparkSession, d: String): DataFrame = {
    // bounded-buffer opt-in: the raised ObjectHashAggregate fallback
    // threshold is scoped to this plan's child session (GraftSession)
    val s = graft.GraftSession.boundedAggSession(s0)
    val topk = udaf(new graft.functions.Aggregators.TopKByValue(3))
    ord(s, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(topk(col("cents"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rk"),
        (col("col._1") / 100.0).as("totalprice"), col("col._2").as("o_orderkey"))
  }

  /** Q20 — sketch-based distinct (HLL++): scale path for G2-style
    * distinct counts when exactness is waived. The estimate itself is
    * engine-specific, so the driver-visible contract is the exact-twin
    * tolerance check computed in-plan: |HLL − exact| ≤ 6%·exact
    * (3× the requested 2% rsd) as a hashable 1/0 column beside the
    * exact count. The oracle asserts the bound holds (constant 1) —
    * a sketch regression goes red in CORRECTNESS, not just in the
    * accuracy spec. */
  def q20ApproxDistinct(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("exact_custs"),
        approx_count_distinct(col("o_custkey"), 0.02).as("__approx"))
      .select(col("o_orderpriority"), col("exact_custs"),
        (abs(col("__approx") - col("exact_custs"))
          <= col("exact_custs").cast("double") * 0.06)
          .cast("long").as("approx_ok"))

  /** Q21 — statistical aggregates (population forms are closed-form
    * and engine-portable; rounded for float-path stability). */
  def q21Stats(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_pop(col("l_quantity")), 6).as("sd_qty"),
        round(var_pop(col("l_discount")), 6).as("var_disc"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"))

  /** Q22 — lead/lag navigation: per-customer gap in days between
    * consecutive orders (pure integer arithmetic — exact). */
  def q22LeadLag(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ord(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).as("days_since_prev"),
      lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
  }

  /** Q23 — range-frame window: trailing-7-day spend per customer
    * (RANGE on an integer day index). */
  def q23RangeFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("day_idx"))
      .rangeBetween(-6, Window.currentRow)
    ord(s, d)
      .withColumn("day_idx", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("day_idx"),
        round(sum(col("o_totalprice")).over(w), 2).as("trailing_7d_spend"))
  }

  /** Q24 — cube: all grouping-set combinations with grand totals. */
  def q24Cube(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))

  /** Q25 — exact interpolated percentiles per group. */
  def q25Percentile(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50_price"),
        round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90_price"))

  /** Q26 — TPC-H Q3 shape (shipping priority): segment filter on the
    * customer dim, date split across orders/lineitem, revenue agg in
    * exact cents, tie-broken top-10. */
  def q26ShippingPriority(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_shipdate") > lit("1996-06-30"))
      .join(ord(s, d).filter(col("o_orderdate") < lit("1996-07-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust(s, d).filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0).cast("long"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg((sum(col("cents")) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** Q27 — TPC-H Q10 shape (returned-item reporting): revenue lost to
    * returns per customer, top-20. */
  def q27ReturnedItems(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_returnflag") === "R")
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0).cast("long"))
      .groupBy("c_custkey", "c_name", "c_mktsegment")
      .agg((sum(col("cents")) / 100.0).as("revenue"), count(lit(1)).as("return_lines"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q26_shipping_priority", q26ShippingPriority, Sql(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0
                  AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           AND c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")),
    QueryDef("q27_returned_items", q27ReturnedItems, Sql(
      """SELECT c_custkey, c_name, c_mktsegment,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0
                  AS revenue,
                count(*) AS return_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_mktsegment
         ORDER BY revenue DESC, c_custkey LIMIT 20""")),
    QueryDef("q19_salted_join", q19SaltedJoin, Sql(
      """SELECT o_orderpriority, count(*) AS line_cnt,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""")),
    // the HLL estimate is engine-specific; the contract is the
    // in-plan exact-twin bound, which the oracle asserts always holds
    QueryDef("q20_approx_distinct", q20ApproxDistinct, Sql(
      """SELECT o_orderpriority,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
                CAST(1 AS BIGINT) AS approx_ok
         FROM orders GROUP BY o_orderpriority""")),
    // same contract for the quantile sketch: both rank brackets hold
    QueryDef("q34_approx_percentile", q34ApproxPercentile, Sql(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(1 AS BIGINT) AS p50_in_bracket,
                CAST(1 AS BIGINT) AS p95_in_bracket
         FROM lineitem GROUP BY l_returnflag""")),
    QueryDef("q25_percentile", q25Percentile, Sql(
      """SELECT o_orderpriority,
                round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4)
                  AS p50_price,
                round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4)
                  AS p90_price
         FROM orders GROUP BY o_orderpriority""")),
    QueryDef("q21_stats", q21Stats, Sql(
      """SELECT l_returnflag, round(stddev_pop(l_quantity), 6) AS sd_qty,
                round(var_pop(l_discount), 6) AS var_disc,
                round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
         FROM lineitem GROUP BY l_returnflag""")),
    QueryDef("q22_lead_lag", q22LeadLag, Sql(
      """SELECT o_custkey, o_orderkey,
                date_diff('day', lag(CAST(o_orderdate AS DATE)) OVER w,
                          CAST(o_orderdate AS DATE)) AS days_since_prev,
                lead(o_orderkey) OVER w AS next_orderkey
         FROM orders WINDOW w AS (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)""")),
    QueryDef("q23_range_frame", q23RangeFrame, Sql(
      """SELECT o_custkey, o_orderkey,
                date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
                round(sum(o_totalprice) OVER (
                  PARTITION BY o_custkey
                  ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS trailing_7d_spend
         FROM orders""")),
    QueryDef("q24_cube", q24Cube, Sql(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),
    QueryDef("q1_filter_project", q1FilterProject, Sql(
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
         FROM lineitem WHERE l_quantity > 25""")),
    QueryDef("q2_join", q2Join, Sql(
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey""")),
    QueryDef("q3_left_join_count", q3LeftJoinCount, Sql(
      """SELECT c_custkey, count(o_orderkey) AS order_cnt
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""")),
    QueryDef("q4_star_join", q4StarJoin, Sql(
      """SELECT p_brand, s_name, round(sum(l_extendedprice), 2) AS sum_price,
                count(*) AS line_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY p_brand, s_name""")),
    QueryDef("q5_pricing_summary", q5PricingSummary, Sql(
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(avg(l_discount), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""")),
    QueryDef("q6_count_distinct", q6CountDistinct, Sql(
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS distinct_custs
         FROM orders GROUP BY o_orderpriority""")),
    QueryDef("q7_global_agg", q7GlobalAgg, Sql(
      """SELECT round(sum(o_totalprice), 2) AS total_price, count(*) AS order_cnt
         FROM orders""")),
    QueryDef("q8_derived_round", q8DerivedRound, Sql(
      """SELECT l_orderkey,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0
                  AS revenue
         FROM lineitem GROUP BY l_orderkey""")),
    QueryDef("q9_date_bucket", q9DateBucket, Sql(
      """SELECT CAST(o_orderdate AS DATE) AS order_day, count(*) AS order_cnt,
                round(sum(o_totalprice), 2) AS day_sales
         FROM orders GROUP BY CAST(o_orderdate AS DATE)""")),
    QueryDef("q10_union", q10Union, Sql(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS count_order
         FROM lineitem WHERE l_linestatus = 'F'
         GROUP BY l_returnflag, l_linestatus
         UNION ALL
         SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS count_order
         FROM lineitem WHERE l_linestatus <> 'F'
         GROUP BY l_returnflag, l_linestatus""")),
    QueryDef("q11_sort", q11Sort, Sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")),
    QueryDef("q12_explode", q12Explode, Sql(
      """SELECT t.token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
         GROUP BY t.token""")),
    QueryDef("q13_json", q13Json, Sql(
      """SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_val FROM events""")),
    QueryDef("q14_window_running", q14WindowRunning, Sql(
      """SELECT o_custkey, o_orderkey,
                round(sum(o_totalprice) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)
                AS running_spend
         FROM orders""")),
    QueryDef("q15_window_rank", q15WindowRank, Sql(
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  rank() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3""")),
    QueryDef("q16_semi", q16Semi, Sql(
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),
    QueryDef("q17_anti", q17Anti, Sql(
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),
    QueryDef("q18_rollup", q18Rollup, Sql(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),
    QueryDef("q28_grouping_sets", q28GroupingSets, Sql(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS cnt
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), (l_linestatus))""")),
    QueryDef("q29_weighted_avg", q29WeightedAvg, Sql(
      """SELECT l_returnflag,
                round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          * CAST(l_quantity AS BIGINT))
                      / (100.0 * sum(CAST(l_quantity AS BIGINT))), 6) AS w_avg_price
         FROM lineitem GROUP BY l_returnflag""")),
    QueryDef("q30_exists", q30Exists, Sql(
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority""")),
    QueryDef("q31_full_outer", q31FullOuter, Sql(
      """SELECT coalesce(c.c_custkey, og.o_custkey) AS custkey, c.c_name, og.n_orders
         FROM customer c FULL OUTER JOIN
              (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) og
           ON c.c_custkey = og.o_custkey""")),
    QueryDef("q32_setops", q32SetOps, Sql(
      """SELECT 'intersect' AS op, l_partkey FROM
           (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
            INTERSECT
            SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
         UNION ALL
         SELECT 'except', l_partkey FROM
           (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
            EXCEPT
            SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')""")),
    QueryDef("q33_window_family", q33WindowFamily, Sql(
      """SELECT l_returnflag, l_orderkey, l_partkey, l_linenumber,
                CAST(ntile(4) OVER w AS BIGINT) AS nt,
                round(cume_dist() OVER w, 6) AS cd,
                round(percent_rank() OVER w, 6) AS pr
         FROM lineitem
         WINDOW w AS (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_partkey, l_linenumber)""")),
    QueryDef("q35_unpivot", q35Unpivot, Sql(
      """WITH w AS (SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                           round(sum(l_extendedprice), 2) AS sum_price
                    FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM w""")),
    // the bloom prune is row-invisible (no false negatives; false
    // positives die in the join) — the oracle is the plain join
    QueryDef("q36_bloom_prune", q36BloomPrune, Sql(
      """SELECT o_orderpriority, count(*) AS n_lines,
                sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 400000
         GROUP BY o_orderpriority""")),
    // the bounded-buffer aggregate is row_number-exact by construction
    // ((cents DESC, o_orderkey ASC), deterministic ties)
    QueryDef("q37_topk_agg", q37TopKAgg, Sql(
      """WITH r AS (SELECT o_custkey, o_orderkey,
                           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
                           row_number() OVER (PARTITION BY o_custkey
                             ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC,
                                      o_orderkey) AS rk
                    FROM orders)
         SELECT o_custkey, rk, cents / 100.0 AS totalprice, o_orderkey
         FROM r WHERE rk <= 3""")))
}
