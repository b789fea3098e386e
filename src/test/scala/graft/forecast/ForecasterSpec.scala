package graft.forecast

import graft.SparkSpec

/** Deterministic forecaster behavior: exact recovery of linear
  * series, seasonal-naive repetition, in-sample metrics, the MLlib
  * variant agreeing with the closed-form OLS on trend data, and the
  * prophet-like driver solve agreeing with MLlib's normal solver. */
class ForecasterSpec extends SparkSpec {

  private val linear = Array.tabulate(14)(t => 10.0 + 2.5 * t)

  test("linear trend recovers an exact linear series and extrapolates it") {
    val m = new LinearTrendForecaster().fit(linear)
    val pred = m.predict(2)
    assert(math.abs(pred(0) - (10.0 + 2.5 * 14)) < 1e-9)
    assert(math.abs(pred(1) - (10.0 + 2.5 * 15)) < 1e-9)
    val (mae, mse) = m.metrics(linear)
    assert(mae < 1e-9 && mse < 1e-12)
  }

  test("seasonal naive repeats the last period") {
    val season = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0)
    val m = new SeasonalNaiveForecaster(7).fit(season)
    assert(m.predict(3).toSeq == Seq(11.0, 12.0, 13.0))
  }

  test("single-point series forecasts flat") {
    assert(new LinearTrendForecaster().fit(Array(42.0)).predict(2).toSeq == Seq(42.0, 42.0))
  }

  test("fc_anomaly_days == a direct trailing-z reference (exact integers)") {
    import org.apache.spark.sql.functions._
    import graft.queries.Events.{anomalyWindowDays => n, anomalySigma => k}
    val sfDir = "/root/testdata/sf0.001"
    val daily = graft.Tables(spark, sfDir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("sr"))
      .select(col("day").cast("string"),
        expr("cast(round(sr * 100) as bigint) div 100").as("y"))
      .orderBy("day").collect().map(r => (r.getString(0), r.getLong(1)))
    val want = daily.indices.map { i =>
      val base = daily.slice(math.max(0, i - n), i).map(_._2)
      val flag = base.length == n && {
        val s = base.sum; val q = base.map(v => v * v).sum
        val d = n * daily(i)._2 - s
        d * d > k.toLong * k * (n * q - s * s)
      }
      daily(i)._1 -> flag
    }.toMap
    val got = graft.queries.Events.fcAnomalyDays(spark, sfDir)
      .select(col("day").cast("string"), col("is_anomaly"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == want)
    assert(got.values.count(identity) > 0, "the fixture must flag some days")
  }

  test("fc_seasonal_sales (relational) == SeasonalNaiveForecaster.predict(1)") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val series = graft.Tables(spark, sfDir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("y"))
      .orderBy("day").collect().map(_.getDouble(1))
    val want = new SeasonalNaiveForecaster(graft.queries.Events.seasonalPeriod)
      .fit(series).predict(1)(0)
    val got = graft.queries.Events.fcSeasonalSales(spark, sfDir)
      .collect()(0).getDouble(1)
    assert(got == math.rint(want * 100) / 100,
      s"relational seasonal forecast $got != forecaster ${want}")
  }

  test("fc_prophetlike_sales (relational solve) == ProphetLikeForecaster.predict(1)") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    // the same exact-cents daily series the plan aggregates
    val series = graft.Tables(spark, sfDir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("sum_raw"))
      .selectExpr("day", "cast(round(sum_raw * 100) as bigint) as y")
      .orderBy("day").collect().map(_.getLong(1).toDouble)
    val n = series.length
    val sCp = (2L * n) / 5 // the oracle row's ⌊0.4n⌋ quantization
    val want = new ProphetLikeForecaster(spark,
        seasonPeriod = 7, harmonics = 3, maxChangepoints = 1, ridge = 0.01,
        changepointOverride = Some(Array(sCp.toDouble)))
      .fit(series).predict(1)(0) // cents
    val got = graft.queries.Events.fcProphetSales(spark, sfDir)
      .collect()(0).getLong(1) / 10000.0 // micro-dollars → cents
    // MLlib solves the standardized system by Cholesky; the relational
    // twin runs the shared-text elimination on the centered system —
    // same normal equations (incl. the λ·n/σ_y diagonal convention),
    // different but exact-arithmetic-free paths: agree to float noise
    assert(math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want)),
      s"relational prophet forecast $got cents != forecaster $want cents")
  }

  test("fc_prophetlike_multi (stepped spine) == ProphetLikeForecaster.predict(h)") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val series = graft.Tables(spark, sfDir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("sum_raw"))
      .selectExpr("day", "cast(round(sum_raw * 100) as bigint) as y")
      .orderBy("day").collect().map(_.getLong(1).toDouble)
    val n = series.length
    val sCp = (2L * n) / 5
    val h = graft.queries.Events.prophetHorizon
    val want = new ProphetLikeForecaster(spark,
        seasonPeriod = 7, harmonics = 3, maxChangepoints = 1, ridge = 0.01,
        changepointOverride = Some(Array(sCp.toDouble)))
      .fit(series).predict(h) // cents, steps 1..h
    val rows = graft.queries.Events.fcProphetMulti(spark, sfDir)
      .orderBy("step").collect()
    assert(rows.length == h, s"expected $h steps, got ${rows.length}")
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(1) == i + 1L)
      val got = r.getLong(2) / 10000.0
      assert(math.abs(got - want(i)) <= 1e-6 * math.max(1.0, math.abs(want(i))),
        s"step ${i + 1}: relational $got cents != forecaster ${want(i)} cents")
    }
    // the spine's forecast dates advance one calendar day per step
    val dates = rows.map(_.getDate(0).toLocalDate)
    dates.sliding(2).foreach { case Array(a, b) =>
      assert(b == a.plusDays(1), s"date spine hole: $a -> $b")
    }
    // step 1 agrees with the one-step flagship row
    val one = graft.queries.Events.fcProphetSales(spark, sfDir).collect()(0)
    assert(rows(0).getLong(2) == one.getLong(1) &&
      rows(0).getDate(0) == one.getDate(0),
      "multi step 1 must equal the one-step row")
  }

  test("MLlib normal-solver regression matches closed-form OLS on a trend") {
    val m = new MllibForecaster(spark).fit(linear)
    val pred = m.predict(1)
    assert(math.abs(pred(0) - (10.0 + 2.5 * 14)) < 1e-6,
      s"got ${pred(0)}, want ${10.0 + 2.5 * 14}")
    val (mae, _) = m.metrics(linear)
    assert(mae < 1e-6)
  }

  test("prophet-like driver solve == MLlib normal-solver LinearRegression, 1-400 points") {
    import org.apache.spark.ml.linalg.Vectors
    import org.apache.spark.ml.regression.LinearRegression
    import spark.implicits._
    val rng = new scala.util.Random(20240301)
    def noisy(n: Int, spike: Boolean): Array[Double] = Array.tabulate(n) { t =>
      val y = 800.0 + 2.5 * t + 60.0 * math.sin(2 * math.Pi * t / 7) + 30.0 * rng.nextGaussian()
      if (spike && t == n / 2) y + 9000.0 else y
    }
    val series: Seq[(String, Array[Double])] =
      (for {
        n <- (1 to 40) ++ Seq(60, 90, 180, 365, 400)
        spike <- Seq(false, true)
      } yield s"n=$n spike=$spike" -> noisy(n, spike)) :+
        ("flat n=30" -> Array.fill(30)(123.45))
    series.foreach { case (label, y) =>
      val m = new ProphetLikeForecaster(spark)
      m.fit(y)
      val x = Array.tabulate(y.length + 3)(t => Vectors.dense(m.features(t)))
      val ref = new LinearRegression()
        .setSolver("normal").setRegParam(0.01).setStandardization(false)
        .fit(y.indices.map(t => (y(t), x(t))).toDF("label", "features"))
      val want = x.map(ref.predict)
      val got = m.fitted ++ m.predict(3)
      got.zip(want).zipWithIndex.foreach { case ((g, w), t) =>
        assert(math.abs(g - w) <= 1e-6 * math.max(1.0, math.abs(w)),
          s"$label, t=$t: driver solve $g != MLlib $w")
      }
    }
  }

  test("prophet-like model captures a trend break + weekly season the line can't") {
    // slope 3 for 4 weeks, then slope -1, plus a strong weekly cycle
    val y = Array.tabulate(56) { t =>
      val trend = if (t < 28) 100.0 + 3.0 * t else 100.0 + 3.0 * 28 - 1.0 * (t - 28)
      trend + 12.0 * math.sin(2 * math.Pi * t / 7.0) + 5.0 * math.cos(4 * math.Pi * t / 7.0)
    }
    val prophet = new ProphetLikeForecaster(spark)
    prophet.fit(y)
    val line = new LinearTrendForecaster().fit(y)
    val (pMae, _) = prophet.metrics(y)
    val (lMae, _) = line.metrics(y)
    assert(pMae < lMae / 2, s"prophet-like MAE $pMae vs linear $lMae")

    // extrapolation follows the POST-break slope, not the global fit
    val next = prophet.predict(7)
    val trueNext = Array.tabulate(7) { k =>
      val t = 56 + k
      100.0 + 3.0 * 28 - 1.0 * (t - 28) +
        12.0 * math.sin(2 * math.Pi * t / 7.0) + 5.0 * math.cos(4 * math.Pi * t / 7.0)
    }
    val fMae = next.zip(trueNext).map { case (a, b) => math.abs(a - b) }.sum / 7
    assert(fMae < 6.0, s"7-day-ahead MAE $fMae")

    // uncertainty triple brackets the point forecast symmetrically
    prophet.predictInterval(3).zip(prophet.predict(3)).foreach { case ((lo, p, hi), p2) =>
      assert(p == p2 && lo < p && p < hi)
      assert(math.abs((hi - p) - (p - lo)) < 1e-9)
    }
  }

  test("prophet-like model degrades gracefully on short series") {
    val short = Array(5.0, 7.0, 9.0)
    val m = new ProphetLikeForecaster(spark).fit(short)
    val p = m.predict(2)
    assert(p.length == 2 && p.forall(v => !v.isNaN && !v.isInfinite))
  }
}
