package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time analytics over the `events` table plus the forecasting
  * query. The same window logic runs unchanged under Structured
  * Streaming (`readStream` + watermark) — see
  * graft.streaming.EventStream; these batch forms are the
  * driver-checkable equivalents.
  */
object Events {

  private def ev(s: SparkSession, d: String) = Tables.eventsNanos(s, d)

  /** Nanos → micros (integer division — ns epochs exceed 2^53, so
    * double math would drop microseconds). */
  private def tsUs = expr("ts div 1000")
  private def tsMicros = timestamp_micros(tsUs)

  /** Tumbling 5-minute windows per event type: the canonical
    * streaming aggregation, batch form. */
  def evWindowAgg(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(
        window(tsMicros, "5 minutes").getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))

  val sessionGapUs: Long = 30L * 60 * 1000000L // 30 min (microseconds —
  // DuckDB reads the nanos parquet at microsecond precision, so both
  // engines sessionize on the same µs values)

  /** Gap-based sessionization per user (lag + cumulative-sum window —
    * all-integer nanosecond math, exact in any engine). */
  def evSessions(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    ev(s, d)
      .withColumn("tsu", tsUs)
      .withColumn("new_sess",
        when(col("tsu") - lag(col("tsu"), 1).over(byUser) > sessionGapUs
          || lag(col("tsu"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           min(col("tsu")).as("start_us"),
           max(col("tsu")).as("end_us"))
  }

  /** F2-shaped forecast as a pure aggregate: OLS linear trend over
    * daily sales, one-step-ahead prediction. Exactly the engine's
    * LinearTrendForecaster math, expressed relationally so the DuckDB
    * regr_* oracle can check it. */
  def fcLinearSales(s: SparkSession, d: String): DataFrame = {
    val daily = Tables(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("y"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01")).cast("double"))
    daily.agg(
        covar_pop(col("x"), col("y")).as("cxy"),
        var_pop(col("x")).as("vx"),
        avg(col("x")).as("ax"), avg(col("y")).as("ay"),
        max(col("x")).as("mx"), max(col("day")).as("last_day"))
      .select(
        date_add(col("last_day"), 1).as("forecast_date"),
        round(
          (col("ay") - (col("cxy") / col("vx")) * col("ax"))
            + (col("cxy") / col("vx")) * (col("mx") + 1), 2).as("forecasted_sales"))
  }

  /** F2's second model, driver-checkable: seasonal-naive one-step
    * forecast over the same deterministic daily series — exactly
    * SeasonalNaiveForecaster.predict(1) (the value one period before
    * the series end, last observation when the series is shorter than
    * a period), expressed relationally so DuckDB replays it. The
    * global window rides a DAILY aggregate — one row per calendar
    * day, bounded by the date range, never by the fact table — so the
    * single-partition rank is over a calendar-sized frame. */
  val seasonalPeriod = 7

  def fcSeasonalSales(s: SparkSession, d: String): DataFrame = {
    val daily = Tables(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("y"))
    val byDayDesc = Window.orderBy(col("day").desc)
    daily.withColumn("rn", row_number().over(byDayDesc))
      .agg(
        date_add(max(when(col("rn") === 1, col("day"))), 1).as("forecast_date"),
        round(coalesce(
          max(when(col("rn") === seasonalPeriod, col("y"))),
          max(when(col("rn") === 1, col("y")))), 2).as("forecasted_sales"))
  }

  /** Trailing-window anomaly days over the daily sales series — the
    * monitoring sibling of the F-family: flag day d when its sales
    * sit more than `anomalySigma` trailing standard deviations from
    * the previous `anomalyWindowDays` days' mean. ALL-INTEGER so the
    * σ verdict is exact in both engines — no float σ, no rounding
    * boundary to flip: z² > k² ⇔ (n·y − S)² > k²·(n·Q − S²) with
    * S/Q the trailing sum / sum of squares. The unit is FLOOR
    * dollars of exact cents (`round(sum·100) div 100`): daily sums
    * of 2-decimal prices are exact cent multiples, so rounding at
    * the cent never sits on a half — where rounding float dollars
    * could land within an ulp of .50 and flip between engines.
    * Exactness bound: n·Q must fit a long (≈$3B/day weekly volume —
    * beyond that, promote to DECIMAL). The window is strictly
    * PRECEDING rows (an outlier must not shade its own baseline),
    * flagged only when the full baseline exists; it rides the DAILY
    * aggregate — one row per calendar day, the same calendar-bounded
    * frame as fc_seasonal_sales. */
  val anomalyWindowDays = 7
  val anomalySigma = 3

  def fcAnomalyDays(s: SparkSession, d: String): DataFrame = {
    val n = anomalyWindowDays
    val k2 = anomalySigma * anomalySigma
    val daily = Tables(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("sum_raw"))
      .select(col("day"),
        expr("cast(round(sum_raw * 100) as bigint) div 100").as("y"))
    val win = Window.orderBy("day").rowsBetween(-n, -1)
    daily
      .withColumn("n_baseline", count(col("y")).over(win))
      .withColumn("s", sum(col("y")).over(win))
      .withColumn("q", sum(col("y") * col("y")).over(win))
      .select(col("day"), col("y"), col("n_baseline"),
        (col("n_baseline") === n &&
          (lit(n) * col("y") - col("s")) * (lit(n) * col("y") - col("s"))
            > lit(k2) * (lit(n) * col("q") - col("s") * col("s")))
          .as("is_anomaly"))
  }

  /** The ProphetLike model's normal-equation solve as SHARED SQL text
    * — one generator emits the aggregate exprs and staged formula
    * levels that BOTH engines run verbatim (Spark `selectExpr`, DuckDB
    * CTE chain), so the solve is the same IEEE operation sequence on
    * both sides and the 6dp micro-unit pin cannot sit on a rounding
    * boundary.
    *
    * Model (forecast/ProphetLikeForecaster.scala, oracle config):
    * y ≈ β₀ + β₁t + γ·max(0,t−s) + Σ_{k≤3} aₖsin(2πkt/7)+bₖcos(2πkt/7),
    * ridge-fit exactly as MLlib's normal solver does with
    * standardization=false: center features and label, solve
    * (Zᵀ Z + (λ·n/σ_y)·I) β = Zᵀ ỹ, intercept = ȳ − βᵀx̄. The λ·n/σ_y
    * diagonal is MLlib's scaled-space L2 weight λ/σ_y/σ_j² carried
    * back to raw features; ProphetLikeForecaster's driver solve
    * follows the same convention, ForecasterSpec pins that solve
    * against MLlib and this plan against the solve. Oracle
    * quantizations, both documented and mirrored in the spec law:
    * ONE changepoint at s = ⌊0.4n⌋ (integer,
    * so the hinge stays in exact integer arithmetic; Prophet's
    * default uniform placement, floored) and Fourier features read
    * from 7 shared residue literals (period 7 divides integer t, so
    * sin(2πkt/7) has exactly 7 values — both engines consume the SAME
    * double constants instead of each calling libm).
    *
    * Determinism ladder: (1) every Gram sum is an exact integer
    * (or exact DECIMAL for Σy²) aggregated per residue class —
    * association-free; (2) residue sums combine with the shared
    * literals in fixed textual order; (3) the 8×8 elimination +
    * back-substitution formulas are the same text both sides. Long
    * bounds (the fc_anomaly discipline): Σt·y_cents must fit int64 —
    * ≈ $40B/day over a 30-year daily series; Σy² rides DECIMAL(38).
    *
    * Scale shape: the distributed plan ends at the daily aggregate
    * (calendar-bounded, the F1 boundary); everything after is a
    * one-row frame of scalars. */
  private[queries] object ProphetRel {
    // ONE source of truth for the model constants: the whole-row
    // solve kernel ([[graft.plans.ProphetSolveKernel]]) owns them and
    // this object builds the shared SQL level text FROM them, so the
    // compiled solve and the oracle text can never drift apart.
    val harmonics: Int = graft.plans.ProphetSolveKernel.harmonics
    val period: Int = graft.plans.ProphetSolveKernel.period
    val ridge: Double = graft.plans.ProphetSolveKernel.ridge
    private val P = graft.plans.ProphetSolveKernel.P

    private def lit(d: Double): String = {
      val s = java.lang.Double.toString(d)
      if (s.startsWith("-")) s"($s)" else s
    }

    /** Feature f (2..P-1) at residue r — the shared constants. */
    private def fval(f: Int, r: Int): Double =
      graft.plans.ProphetSolveKernel.fval(f, r)

    private def residues: Range = 0 until period

    /** Fixed-order combine of per-residue integer columns with the
      * shared literals: Σ_r coef(r)·col_r. */
    private def dot(col: String, coef: Int => Double): String =
      residues.map(r => s"${lit(coef(r))} * $col$r").mkString("(", " + ", ")")

    private def tot(col: String): String =
      residues.map(r => s"$col$r").mkString("cast(", " + ", " as double)")

    /** Aggregate exprs over (t, h, r, y, n_days, s_cp, last_day):
      * per-residue exact-integer sums + the DECIMAL Σy². */
    val sumExprs: Seq[String] = {
      def per(name: String, e: String) = residues.map(r =>
        s"cast(sum(case when r = $r then $e else 0 end) as bigint) as $name$r")
      per("cnt_", "1") ++ per("st_", "t") ++ per("st2_", "t * t") ++
        per("sh_", "h") ++ per("sh2_", "h * h") ++ per("sth_", "t * h") ++
        per("sy_", "y") ++ per("sty_", "t * y") ++ per("shy_", "h * y") ++
        Seq("cast(sum(cast(y as decimal(19,0)) * cast(y as decimal(19,0)))" +
              " as double) as sy2",
          "max(n_days) as n_days", "max(s_cp) as s_cp",
          "max(last_day) as last_day")
    }

    private def an(i: Int, j: Int, k: Int): String =
      if (k == 0) s"a${i}_$j" else s"a${i}_${j}_$k"
    private def bn(i: Int, k: Int): String =
      if (k == 0) s"b$i" else s"b${i}_$k"

    /** The staged formula levels: each level's exprs reference only
      * earlier levels' names, so both engines evaluate the identical
      * DAG (Spark: one selectExpr per level — CollapseProject keeps
      * multiply-referenced non-cheap aliases staged; DuckDB: one CTE
      * per level). */
    val levels: Seq[Seq[(String, String)]] = {
      def sx(i: Int) = i match {
        case 0 => "cast(" + residues.map(r => s"st_$r").mkString(" + ") + " as double)"
        case 1 => "cast(" + residues.map(r => s"sh_$r").mkString(" + ") + " as double)"
        case f => dot("cnt_", fval(f, _))
      }
      def sxx(i: Int, j: Int) = (i, j) match {
        case (0, 0) => tot("st2_")
        case (0, 1) => tot("sth_")
        case (1, 1) => tot("sh2_")
        case (0, f) => dot("st_", fval(f, _))
        case (1, f) => dot("sh_", fval(f, _))
        case (f, g) => dot("cnt_", r => fval(f, r) * fval(g, r))
      }
      def sxy(i: Int) = i match {
        case 0 => tot("sty_")
        case 1 => tot("shy_")
        case f => dot("sy_", fval(f, _))
      }
      val moments: Seq[(String, String)] =
        Seq("nn" -> "cast(n_days as double)",
          "sy_tot" -> tot("sy_")) ++
          (0 until P).map(i => s"sx$i" -> sx(i)) ++
          (for { i <- 0 until P; j <- i until P } yield s"sxx${i}_$j" -> sxx(i, j)) ++
          (0 until P).map(i => s"sxy$i" -> sxy(i))
      // clamped twice (shared text, both engines): float cancellation
      // can push the variance operand epsilon-negative (sqrt → NaN),
      // and a CONSTANT daily series has true variance 0 — the inner
      // greatest stops the NaN, the outer keeps the ridge diagonal's
      // `ridge·nn/ystd` finite (a near-zero ystd makes the ridge term
      // dominate, driving every coefficient to ~0 and the forecast to
      // the series mean — the sane degenerate answer)
      val spread: Seq[(String, String)] = Seq(
        "ystd" -> ("greatest(sqrt(greatest(" +
          "sy2 / nn - (sy_tot / nn) * (sy_tot / nn), 0.0)), 1e-9)"))
      val centered: Seq[(String, String)] =
        (for { i <- 0 until P; j <- i until P } yield
          an(i, j, 0) -> (s"sxx${i}_$j - sx$i * sx$j / nn" +
            (if (i == j) s" + $ridge * nn / ystd" else ""))) ++
          (0 until P).map(i => bn(i, 0) -> s"sxy$i - sx$i * sy_tot / nn")
      val elim: Seq[Seq[(String, String)]] = (0 until P - 1).flatMap { k =>
        val ratios = ((k + 1) until P).map(i =>
          s"l_${k}_$i" -> s"${an(k, i, k)} / ${an(k, k, k)}")
        val updates =
          (for { i <- (k + 1) until P; j <- i until P } yield
            an(i, j, k + 1) -> s"${an(i, j, k)} - l_${k}_$i * ${an(k, j, k)}") ++
            ((k + 1) until P).map(i =>
              bn(i, k + 1) -> s"${bn(i, k)} - l_${k}_$i * ${bn(k, k)}")
        Seq(ratios, updates)
      }
      val backsub: Seq[Seq[(String, String)]] = (P - 1 to 0 by -1).map { i =>
        val tail = ((i + 1) until P).map(j => s" - ${an(i, j, i)} * x$j").mkString
        Seq(s"x$i" -> s"(${bn(i, i)}$tail) / ${an(i, i, i)}")
      }
      Seq(moments, spread, centered) ++ elim ++ backsub
    }

    /** The prediction levels over the solved frame, parameterized on
      * the integer FUTURE-INDEX expression `ti` (0-based series
      * index): `n_days` is one step ahead; a stepped spine passes
      * `(n_days + j - 1)` for step j. Same formula text both engines,
      * any horizon. */
    def predictLevels(ti: String): Seq[Seq[(String, String)]] = Seq(
      Seq("icpt" -> ("(sy_tot - (" +
        (0 until P).map(i => s"x$i * sx$i").mkString(" + ") + ")) / nn"),
        "tp" -> s"cast($ti as double)",
        "hp" -> s"greatest(0.0, cast($ti - s_cp as double))") ++
        (2 until P).map(f => s"fp$f" ->
          (s"case $ti % 7" + residues.map(r =>
            s" when $r then ${lit(fval(f, r))}").mkString + " end")),
      Seq("yhat_cents" -> ("icpt + x0 * tp + x1 * hp + " +
        (2 until P).map(f => s"x$f * fp$f").mkString(" + "))),
      Seq("forecast_micro" ->
        "cast(round(yhat_cents * 10000.0) as bigint)"))
  }

  /** F2's flagship model, driver-checkable: the ProphetLike
    * changepoint + Fourier ridge forecast over the daily sales
    * series, one step ahead, in integer micro-dollars — the shared
    * [[ProphetRel]] solve (see its scaladoc for the oracle config
    * and the determinism ladder). ForecasterSpec's parity law pins
    * this plan to ProphetLikeForecaster.predict(1) under the same
    * config. */
  /** The shared ProphetLike SOLVE: daily series → per-residue sums →
    * normal-equation elimination + back-substitution. One row of
    * scalars (x0..x{P-1}, sums, n_days, s_cp, last_day) — everything
    * after the calendar-bounded daily aggregate is scalar algebra. */
  private def prophetSums(s: SparkSession, d: String): DataFrame = {
    val daily = Tables(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("sum_raw"))
      .select(col("day"),
        expr("cast(round(sum_raw * 100) as bigint)").as("y"))
    val w = Window.orderBy("day")
    val idx = daily.select(col("day"), col("y"),
      (row_number().over(w) - 1).cast("long").as("t"))
    val meta = idx.agg(count(lit(1)).as("n_days"), max(col("day")).as("last_day"))
      .selectExpr("*", "cast(floor((2 * n_days) / 5.0) as bigint) as s_cp")
    val base = idx.crossJoin(broadcast(meta))
      .selectExpr("y", "t", "greatest(0, t - s_cp) as h",
        "cast(t % 7 as int) as r", "n_days", "s_cp", "last_day")
    // The 67-accumulator one-shot aggregate was the engine's last
    // known whole-stage-codegen fallback: its generated consume
    // method exceeded the 64 KB JVM limit on every run (ERROR
    // CodeGenerator, then interpreted execution). Split it into two
    // ~33-column halves over the STAGED daily frame — base is
    // calendar-bounded (≤ one row per day, the stage-only-bounded-
    // frames rule), so staging costs one tiny materialization and the
    // orders-side daily aggregate runs once, not twice. Values are
    // bit-identical by construction: every per-residue sum is an
    // exact integer (association-free) and Σy² rides DECIMAL — the
    // shared-text determinism ladder only constrains the DOUBLE
    // algebra downstream, which is untouched.
    val staged = org.apache.spark.sql.GraftBridge.stageLocal(base)
    val (halfA, halfB) = ProphetRel.sumExprs.splitAt(
      ProphetRel.sumExprs.size / 2)
    staged.selectExpr(halfA: _*)
      .crossJoin(staged.selectExpr(halfB: _*))
  }

  /** The solved 1-row frame: the sums plus (icpt, x0..x7) from the
    * whole-row [[graft.plans.ProphetSolveKernel]] kernel — ONE compiled
    * call evaluating the identical double DAG the shared level text
    * spells out, with zero staging barriers. The r17 staged level
    * fold ([[prophetSolvedStaged]]) shipped ~7 sequential one-row
    * jobs per query to stay under janino's 64 KB method limit and
    * cost a committed 2.7×/4.7× regression on the two ProphetLike
    * queries; the kernel keeps the CodeGenerator-clean posture (the
    * generated code is one static call) at in-plan cost ~zero.
    * ProphetKernelSpec pins bit-equality of the two paths. */
  private def prophetSolved(s: SparkSession, d: String): DataFrame = {
    val k = graft.plans.ProphetSolveKernel
    prophetSums(s, d)
      .withColumn("__s", graft.plans.GraftFunctions.prophetSolve(
        struct(k.inputCols.map(col): _*)))
      .select((col("*") +:
        k.outputNames.map(n => col(s"__s.$n").as(n))): _*)
      .drop("__s")
  }

  /** The pre-kernel staged level fold — kept as the SPEC surface
    * (ProphetKernelSpec replays it against [[prophetSolved]] and
    * asserts bit-equal outputs), never on the query path: its ~7
    * one-row stageLocal barriers per query are the measured r17
    * regression the kernel removes. Values are bit-identical by
    * construction — the kernel mirrors each level formula's IEEE op
    * order (see ProphetSolveKernel's scaladoc). */
  private[queries] def prophetSolvedStaged(s: SparkSession,
                                           d: String): DataFrame =
    ProphetRel.levels.grouped(4).foldLeft(prophetSums(s, d))((df, grp) =>
      org.apache.spark.sql.GraftBridge.stageLocal(
        grp.foldLeft(df)((d2, lvl) =>
          d2.selectExpr(("*" +: lvl.map { case (n, e) => s"$e AS $n" }): _*))))

  /** Fold the prediction levels over a solved frame. The kernel path
    * already carries `icpt` as a column, so the text's icpt formula
    * (which references the moments the kernel internalized) is
    * skipped unless `withIcpt` — the staged spec path, where the
    * moments are live columns, folds the full text. */
  private[queries] def predictFold(df: DataFrame, ti: String,
                                   withIcpt: Boolean = false): DataFrame =
    ProphetRel.predictLevels(ti).foldLeft(df)((d2, lvl) =>
      d2.selectExpr(("*" +: lvl.collect {
        case (n, e) if withIcpt || n != "icpt" => s"$e AS $n" }): _*))

  def fcProphetSales(s: SparkSession, d: String): DataFrame =
    predictFold(prophetSolved(s, d), "n_days")
      .select(date_add(col("last_day"), 1).as("forecast_date"),
        col("forecast_micro"))

  /** The multi-step horizon the reference surface allows
    * (forecast_days, reference src/data_processor.py:442,512): the
    * solved 1-row frame cross-joined with a step spine j = 1..h, the
    * SAME prediction text evaluated at future index n_days + j - 1 —
    * the h-row forecast costs h scalar-row evaluations, never a
    * second solve or another pass over the series. */
  val prophetHorizon = 7

  def fcProphetMulti(s: SparkSession, d: String): DataFrame = {
    val spine = s.range(1, prophetHorizon + 1L).select(col("id").as("j"))
    val stepped = prophetSolved(s, d).crossJoin(broadcast(spine))
    predictFold(stepped, "(n_days + j - 1)").select(
      date_add(col("last_day"), col("j").cast("int")).as("forecast_date"),
      col("j").as("step"), col("forecast_micro"))
  }

  /** As-of join: enrich every event with the user's most recent
    * error event at-or-before it (operators.AsOfJoin — union + merge
    * window, one shuffle; DuckDB's native ASOF JOIN is the oracle). */
  def evAsof(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).withColumn("tsu", tsUs)
    val left = e.select(col("event_id"), col("user_id"), col("tsu"))
    val right = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("tsu").as("err_ts"))
    graft.operators.AsOfJoin.leftAsOf(
      left, right, "user_id", "tsu", "err_ts", "err_ts", "last_err_ts")
  }

  /** SCD2 dimension expansion (operators.Scd): the event stream as a
    * per-user state-change log — every event opens a validity
    * interval that the user's next event closes. Summarized per user
    * (version count, current state and its start) so the check is
    * compact while still covering the interval edges and the
    * exactly-one-current invariant. All-integer µs, window tie-broken
    * by event_id — exact in both engines. */
  def evScd2(s: SparkSession, d: String): DataFrame = {
    val log = ev(s, d).select(col("user_id"), tsUs.as("tsu"),
      col("event_id"), col("event_type"))
    graft.operators.Scd.type2(log, "user_id", "tsu", "event_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_versions"),
        max(when(col("is_current"), col("event_type"))).as("current_state"),
        min(col("valid_from")).as("first_seen_us"),
        max(when(col("is_current"), col("valid_from"))).as("current_since_us"))
  }

  /** Range join: assign every event to the session interval that
    * contains it (binned equi-join + exact refine; the sessions come
    * from evSessions, so this also exercises operator composition). */
  def evRangeJoin(s: SparkSession, d: String): DataFrame = {
    val points = ev(s, d).withColumn("tsu", tsUs)
      .select(col("event_id"), col("user_id"), col("tsu"))
    val intervals = evSessions(s, d)
      .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"))
    graft.operators.RangeJoin
      .binned(points, intervals, "user_id", "tsu", "start_us", "end_us",
        binWidth = 3600L * 1000000L)
      .select("event_id", "user_id", "session_id", "tsu")
  }

  val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Ordered funnel view→click→purchase: stage N counts users whose
    * first qualifying event strictly follows their stage-(N−1) time.
    * Each stage is one aggregation + one equi-join on user_id — all
    * three stages hash-partition on the same key, so at scale the
    * exchanges line up and AQE reuses the partitioning. */
  def evFunnel(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).withColumn("tsu", tsUs)
      .select(col("user_id"), col("event_type"), col("tsu"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tsu")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tsu") > col("t_view"))
      .groupBy("user_id").agg(min(col("tsu")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tsu") > col("t_click"))
      .groupBy("user_id").agg(min(col("tsu")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"))
      .union(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("stage"), col("n_users")))
      .union(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
  }

  /** Day × event-type pivot (the relational PIVOT operator with an
    * explicit value list — no extra distinct-scan to discover
    * columns, which matters when the fact table is the 100 TB side). */
  def evPivot(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("day", to_date(tsMicros))
      .groupBy("day")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)

  val resampleBucketUs: Long = 3600L * 1000000L // 1 hour

  /** Time-series resample + forward fill: a dense per-user hourly
    * grid from first to last event, carrying the most recent observed
    * `value` across empty buckets. The classic gap-filling prep before
    * sequence models. Three shuffle-light steps: last-observation per
    * (user, bucket) via a map-side-combinable max(struct(...)), a
    * per-user spine exploded from min/max (no calendar table), and one
    * ordered window for the fill — all partitioned on user_id, so the
    * exchanges align. */
  def evResample(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).withColumn("tsu", tsUs)
      .select(col("user_id"), col("event_id"), col("tsu"), col("value"))
      .withColumn("bucket", expr(s"tsu div $resampleBucketUs"))
    val lastObs = e.groupBy("user_id", "bucket")
      .agg(max(struct(col("tsu"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("bucket"), col("m.value").as("obs"))
    val spine = e.groupBy("user_id")
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("bucket"))
    val w = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(lastObs, Seq("user_id", "bucket"), "left")
      .withColumn("value_ffill", last(col("obs"), ignoreNulls = true).over(w))
      .select(col("user_id"),
        (col("bucket") * resampleBucketUs).as("bucket_start_us"),
        col("value_ffill"))
  }

  /** Latest record per key — the CDC/SCD compaction step ("keep the
    * newest version of each entity"). As max(struct(...)) it partial-
    * aggregates map-side: each input partition contributes one
    * candidate per key before the exchange, so the shuffle carries
    * |keys|·|partitions| rows, not |events| — the difference between
    * compaction and a full re-sort at 100 TB. */
  def evLatest(s: SparkSession, d: String): DataFrame =
    ev(s, d).withColumn("tsu", tsUs)
      .groupBy("user_id")
      .agg(max(struct(col("tsu"), col("event_id"), col("event_type"), col("value"))).as("m"))
      .select(col("user_id"), col("m.tsu").as("last_tsu"),
        col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"), col("m.value").as("last_value"))

  /** Context width for next-event training examples. */
  val seqCtx = 5

  /** Sequence-model dataset shaping (SASRec/GRU4Rec-style): for every
    * event with ≥ seqCtx predecessors in its user's timeline, input =
    * the previous seqCtx event types oldest-first and label = the
    * event's own type — the next-item-prediction examples a
    * recommender/behavior model trains on. All seqCtx lags share one
    * window frame, so the cost is a single per-user sorted pass;
    * partition depth (a user's history) is the scale axis, the same
    * one the 1000× window rows measure. */
  def evSeqExamples(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val lags = (seqCtx to 1 by -1).map(i => lag(col("event_type"), i).over(w))
    ev(s, d)
      .withColumn("tsu", tsUs)
      .withColumn("input_seq", concat_ws(" ", lags: _*))
      .withColumn("full_ctx", lag(col("event_type"), seqCtx).over(w).isNotNull)
      .filter(col("full_ctx"))
      .select(col("user_id"), col("event_id"), col("input_seq"),
        col("event_type").as("label"))
  }

  /** Leave-last-out temporal split (the standard recommender eval
    * protocol, e.g. SASRec/BERT4Rec evaluation): per user, the LAST
    * event is test, the second-to-last is validation, everything
    * earlier trains — a time-respecting split that random sampling
    * (ds_split) cannot give. One per-user ranked window (the same
    * partition-depth axis the 1000× window rows measure); users with
    * fewer than three events contribute train rows only when they
    * have any slack (n=1 → test only, n=2 → val+test), matching the
    * protocol's "never evaluate on a user's first interaction". */
  def evTemporalSplit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsu").desc, col("event_id").desc)
    ev(s, d)
      .withColumn("tsu", tsUs)
      .withColumn("rev", row_number().over(w))
      .select(col("user_id"), col("event_id"),
        when(col("rev") === 1, lit("test"))
          .when(col("rev") === 2, lit("val"))
          .otherwise(lit("train")).as("split"))
  }

  /** Cohort retention (the canonical product-analytics rollup): users
    * cohorted by first-activity week, counted per later active week —
    * retention curves read straight off the (cohort_week, week) grid.
    * All-integer week arithmetic (µs epochs, 7-day buckets), two
    * keyed aggregates and one broadcast-sized join back; the corpus
    * never crosses a window. */
  val weekUs: Long = 7L * 24 * 3600 * 1000000L

  def evRetention(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).withColumn("week", expr(s"(ts div 1000) div $weekUs"))
    val cohort = e.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val active = e.select("user_id", "week").distinct()
    active.join(cohort, "user_id")
      .groupBy("cohort_week", "week")
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** The ProphetLike oracle SQL: shared daily-series + solve CTEs,
    * then [[ProphetRel.predictLevels]] at future index `predictTi`
    * reading from a `solved` CTE (`solvedCte` lets the multi-step
    * twin splice its step spine between solve and predict), closed
    * by `finalSelect` over the last predict CTE. */
  private def prophetSql(predictTi: String, solvedCte: String,
                         finalSelect: String): String = {
    val solve = ProphetRel.levels.zipWithIndex.map { case (lvl, i) =>
      s"l$i AS (SELECT *, " +
        lvl.map { case (n, e) => s"$e AS $n" }.mkString(", ") +
        s" FROM ${if (i == 0) "sums" else s"l${i - 1}"})"
    }.mkString(",\n")
    val last = s"l${ProphetRel.levels.size - 1}"
    val solvedAlias =
      if (solvedCte == "solved") s"solved AS (SELECT * FROM $last)"
      else s"solved0 AS (SELECT * FROM $last),\n          $solvedCte"
    val pl = ProphetRel.predictLevels(predictTi)
    val predict = pl.zipWithIndex.map { case (lvl, i) =>
      s"p$i AS (SELECT *, " +
        lvl.map { case (n, e) => s"$e AS $n" }.mkString(", ") +
        s" FROM ${if (i == 0) "solved" else s"p${i - 1}"})"
    }.mkString(",\n")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                       CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS y
                FROM orders GROUP BY 1),
        idx AS (SELECT day, y,
                  CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t
                FROM daily),
        meta AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                        max(day) AS last_day,
                        CAST(floor((2 * count(*)) / 5.0) AS BIGINT) AS s_cp
                 FROM idx),
        base AS (SELECT y, t, greatest(0, t - s_cp) AS h,
                        CAST(t % 7 AS INT) AS r, n_days, s_cp, last_day
                 FROM idx CROSS JOIN meta),
        sums AS (SELECT ${ProphetRel.sumExprs.mkString(", ")} FROM base),
        $solve,
        $solvedAlias,
        $predict
        $finalSelect
        FROM p${pl.size - 1}"""
  }

  /** Shared CTE: the gap-sessionization in SQL (µs precision). */
  private val sessionsCte: String =
    s"""e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
        flagged AS (SELECT user_id, event_id, tsu,
               CASE WHEN tsu - lag(tsu) OVER w > ${sessionGapUs}
                      OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        sess AS (SELECT user_id, tsu,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM flagged),
        sessions AS (SELECT user_id, session_id, count(*) AS n_events,
                            min(tsu) AS start_us, max(tsu) AS end_us
                     FROM sess GROUP BY user_id, session_id)"""

  val registry: Seq[QueryDef] = Seq(
    QueryDef("ev_retention", evRetention, Sql(
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // $weekUs AS week FROM events),
          cohort AS (SELECT user_id, min(week) AS cohort_week
                     FROM e GROUP BY user_id),
          active AS (SELECT DISTINCT user_id, week FROM e)
          SELECT c.cohort_week, a.week,
                 CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
          FROM active a JOIN cohort c ON c.user_id = a.user_id
          GROUP BY 1, 2""")),
    QueryDef("ev_temporal_split", evTemporalSplit, Sql(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
         r AS (SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY tsu DESC, event_id DESC) AS rev
               FROM e)
         SELECT user_id, event_id,
                CASE WHEN rev = 1 THEN 'test'
                     WHEN rev = 2 THEN 'val'
                     ELSE 'train' END AS split
         FROM r""")),
    QueryDef("ev_seq_examples", evSeqExamples, Sql {
      val lagCols = (seqCtx to 1 by -1)
        .map(i => s"lag(event_type, $i) OVER w AS l$i").mkString(", ")
      val joined = (seqCtx to 1 by -1).map(i => s"l$i").mkString(" || ' ' || ")
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
                     FROM events),
          lagged AS (SELECT user_id, event_id, event_type, $lagCols
                     FROM e WINDOW w AS (PARTITION BY user_id
                       ORDER BY tsu, event_id))
          SELECT user_id, event_id, $joined AS input_seq,
                 event_type AS label
          FROM lagged WHERE l$seqCtx IS NOT NULL"""
    }),
    QueryDef("ev_scd2", evScd2, Sql(
      // lead() closes each interval; the current row is the one with
      // no successor — same (tsu, event_id) tie order as the Spark side
      """WITH log AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type FROM events),
          d AS (SELECT user_id, tsu, event_id, event_type,
                  lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to
                FROM log)
          SELECT user_id, count(*) AS n_versions,
                 max(CASE WHEN valid_to IS NULL THEN event_type END) AS current_state,
                 CAST(min(tsu) AS BIGINT) AS first_seen_us,
                 CAST(max(CASE WHEN valid_to IS NULL THEN tsu END) AS BIGINT) AS current_since_us
          FROM d GROUP BY user_id""")),
    QueryDef("ev_range_join", evRangeJoin, Sql(
      s"""WITH $sessionsCte
          SELECT p.event_id, p.user_id, s.session_id, epoch_us(p.ts) AS tsu
          FROM events p JOIN sessions s
            ON p.user_id = s.user_id
           AND epoch_us(p.ts) BETWEEN s.start_us AND s.end_us""")),
    QueryDef("ev_window_agg", evWindowAgg, Sql(
      """SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS window_start,
                event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""")),
    QueryDef("ev_sessions", evSessions, Sql(
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
          flagged AS (SELECT user_id, event_id, tsu,
                 CASE WHEN tsu - lag(tsu) OVER w > ${sessionGapUs}
                        OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
          sess AS (SELECT user_id, tsu,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                 FROM flagged)
          SELECT user_id, session_id, count(*) AS n_events,
                 min(tsu) AS start_us, max(tsu) AS end_us
          FROM sess GROUP BY user_id, session_id""")),
    QueryDef("ev_funnel", evFunnel, Sql(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
          v AS (SELECT user_id, min(tsu) AS t_view FROM e
                WHERE event_type = 'view' GROUP BY user_id),
          c AS (SELECT e.user_id, min(tsu) AS t_click FROM e JOIN v USING (user_id)
                WHERE event_type = 'click' AND tsu > t_view GROUP BY e.user_id),
          p AS (SELECT e.user_id, min(tsu) AS t_purchase FROM e JOIN c USING (user_id)
                WHERE event_type = 'purchase' AND tsu > t_click GROUP BY e.user_id)
          SELECT '1_view' AS stage, count(*) AS n_users FROM v
          UNION ALL SELECT '2_click', count(*) FROM c
          UNION ALL SELECT '3_purchase', count(*) FROM p""")),
    QueryDef("ev_pivot", evPivot, Sql {
      val cols = eventTypes.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(", ")
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, $cols
          FROM events GROUP BY 1"""
    }),
    QueryDef("ev_latest", evLatest, Sql(
      """SELECT user_id, tsu AS last_tsu, event_id AS last_event_id,
                event_type AS last_type, value AS last_value
         FROM (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type, value,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1""")),
    QueryDef("ev_resample", evResample, Sql(
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value,
                 epoch_us(ts) // $resampleBucketUs AS bucket FROM events),
          lastobs AS (SELECT user_id, bucket, value AS obs FROM (
              SELECT user_id, bucket, value,
                     row_number() OVER (PARTITION BY user_id, bucket
                       ORDER BY tsu DESC, event_id DESC) AS rn
              FROM e) WHERE rn = 1),
          bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                     FROM e GROUP BY user_id),
          spine AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM bounds)
          SELECT s.user_id, CAST(s.bucket * $resampleBucketUs AS BIGINT) AS bucket_start_us,
                 last_value(l.obs IGNORE NULLS) OVER (PARTITION BY s.user_id
                   ORDER BY s.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS value_ffill
          FROM spine s LEFT JOIN lastobs l
            ON s.user_id = l.user_id AND s.bucket = l.bucket""")),
    QueryDef("ev_asof", evAsof, Sql(
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS tsu,
                epoch_us(r.ts) AS last_err_ts
         FROM events l ASOF LEFT JOIN
              (SELECT user_id, ts FROM events WHERE event_type = 'error') r
           ON l.user_id = r.user_id AND l.ts >= r.ts""")),
    QueryDef("fc_linear_sales", fcLinearSales, Sql(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS y
                        FROM orders GROUP BY 1),
          d2 AS (SELECT CAST(date_diff('day', DATE '1970-01-01', day) AS DOUBLE) AS x, y, day
                 FROM daily),
          f AS (SELECT regr_slope(y, x) AS slope, regr_intercept(y, x) AS ic,
                       max(x) AS mx, max(day) AS last_day FROM d2)
          SELECT CAST(last_day + INTERVAL 1 DAY AS DATE) AS forecast_date,
                 round(ic + slope * (mx + 1), 2) AS forecasted_sales
          FROM f""")),
    QueryDef("fc_prophetlike_sales", fcProphetSales, Sql(prophetSql(
      predictTi = "n_days", solvedCte = "solved",
      finalSelect = """SELECT CAST(last_day + INTERVAL 1 DAY AS DATE)
                         AS forecast_date, forecast_micro"""))),
    QueryDef("fc_prophetlike_multi", fcProphetMulti, Sql(prophetSql(
      predictTi = "(n_days + j - 1)",
      solvedCte = s"""spine AS (SELECT CAST(range AS BIGINT) AS j
                                FROM range(1, ${prophetHorizon + 1})),
          solved AS (SELECT * FROM solved0 CROSS JOIN spine)""",
      finalSelect = """SELECT CAST(last_day + CAST(j AS INT) AS DATE)
                         AS forecast_date, j AS step, forecast_micro"""))),
    QueryDef("fc_seasonal_sales", fcSeasonalSales, Sql(
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                                sum(o_totalprice) AS y
                         FROM orders GROUP BY 1),
          r AS (SELECT day, y, row_number() OVER (ORDER BY day DESC) AS rn
                FROM daily)
          SELECT CAST(max(CASE WHEN rn = 1 THEN day END) + INTERVAL 1 DAY
                   AS DATE) AS forecast_date,
                 round(coalesce(max(CASE WHEN rn = $seasonalPeriod THEN y END),
                                max(CASE WHEN rn = 1 THEN y END)), 2)
                   AS forecasted_sales
          FROM r""")),
    QueryDef("fc_anomaly_days", fcAnomalyDays, Sql(
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(round(sum(o_totalprice) * 100) AS BIGINT) // 100 AS y
                  FROM orders GROUP BY 1),
          w AS (SELECT day, y,
                  count(*) OVER win AS n_baseline,
                  sum(y) OVER win AS s, sum(y*y) OVER win AS q
                FROM daily WINDOW win AS
                  (ORDER BY day ROWS BETWEEN $anomalyWindowDays PRECEDING
                                         AND 1 PRECEDING))
          SELECT day, y, n_baseline,
                 (n_baseline = $anomalyWindowDays AND
                  ($anomalyWindowDays*y - s)*($anomalyWindowDays*y - s)
                    > ${anomalySigma * anomalySigma}*($anomalyWindowDays*q - s*s))
                   AS is_anomaly
          FROM w""")))
}
