package graft.forecast

import org.apache.spark.sql.SparkSession

/** Prophet-class structural model (reference: src/time_series.py:16-43
  * fits Prophet — piecewise-linear trend with changepoints, Fourier
  * seasonality, uncertainty intervals). Prophet has no JVM port, so
  * this re-expresses its core decomposition as a ridge-regularized
  * linear model over deterministic features, solved exactly
  * (seed-free, reproducible):
  *
  *   y(t) ≈ β₀ + β₁·t + Σⱼ γⱼ·max(0, t − sⱼ)        (trend + changepoints)
  *        + Σₖ aₖ·sin(2πkt/p) + bₖ·cos(2πkt/p)       (K-harmonic seasonality)
  *
  * Changepoints sⱼ are evenly spaced over the first 80% of the
  * training window (Prophet's default placement); the ridge penalty
  * plays the role of Prophet's Laplace prior on changepoint deltas —
  * it shrinks unused slope changes toward zero so the trend stays
  * piecewise-smooth. Uncertainty comes from the in-sample residual
  * spread (±z·σ), mirroring the shape (not the posterior math) of
  * Prophet's `yhat_lower`/`yhat_upper`.
  *
  * The solve runs on the driver: the design has at most
  * 2 + maxChangepoints + 2·harmonics columns (32 by default) over one
  * row per business day (the F1 boundary), so a Cholesky solve of the
  * normal equations takes microseconds and fires no Spark job (MLlib's
  * `LinearRegression` runs several jobs for the same answer). It
  * reproduces MLlib's normal solver (`WeightedLeastSquares` under
  * `solver=normal`, `standardization=false`) — see [[RidgeNormal]] —
  * and ForecasterSpec pins the fitted values and predictions against
  * MLlib over series of 1–400 points. `spark` is unused; it stays so
  * the public constructor keeps its shape.
  *
  * Same fit/predict/metrics surface as every other model, so it plugs
  * into ForecastReport via the `forecastModel` factory unchanged. The
  * heavy lifting — building the daily series from 100 TB of lines —
  * stays in the distributed plan.
  */
final class ProphetLikeForecaster(spark: SparkSession,
                                  seasonPeriod: Int = 7,
                                  harmonics: Int = 3,
                                  maxChangepoints: Int = 25,
                                  ridge: Double = 0.01,
                                  // pin changepoint locations (the oracle
                                  // row's ⌊0.4n⌋ quantization; ForecasterSpec
                                  // parity law) instead of the default
                                  // uniform placement
                                  changepointOverride: Option[Array[Double]] = None)
    extends Forecaster {

  private var yTrain: Array[Double] = Array.empty
  private var coefficients: Array[Double] = Array.empty
  private var intercept: Double = 0.0
  private var changepoints: Array[Double] = Array.empty
  private var sigma: Double = 0.0

  def name = "prophet_like"

  /** The design row at series index t under the fitted changepoints. */
  private[forecast] def features(t: Int): Array[Double] = {
    val hinges = changepoints.map(s => math.max(0.0, t - s))
    val season = (1 to harmonics).flatMap { k =>
      val w = 2 * math.Pi * k * t / seasonPeriod
      Seq(math.sin(w), math.cos(w))
    }
    ((t.toDouble +: hinges) ++ season).toArray
  }

  def fit(y: Array[Double]): Forecaster = {
    yTrain = y
    val n = y.length
    // Prophet default placement: candidates uniform over the first 80%
    // of the window; count scales down with short series so the design
    // matrix stays overdetermined.
    val nCp = math.max(0, math.min(maxChangepoints, (0.8 * n).toInt - 2))
    changepoints = changepointOverride.getOrElse(
      Array.tabulate(nCp)(j => 0.8 * n * (j + 1).toDouble / (nCp + 1)))
    val (w, b) = RidgeNormal.fit(Array.tabulate(n)(features), y, ridge)
    coefficients = w
    intercept = b
    val f = fitted
    sigma = math.sqrt(
      y.indices.map(i => (y(i) - f(i)) * (y(i) - f(i))).sum / math.max(1, n - 1))
    this
  }

  private def at(t: Int): Double = {
    val x = features(t)
    var s = 0.0
    var j = 0
    while (j < x.length) { s += x(j) * coefficients(j); j += 1 }
    s + intercept
  }

  def fitted: Array[Double] = Array.tabulate(yTrain.length)(at)

  def predict(h: Int): Array[Double] = Array.tabulate(h)(k => at(yTrain.length + k))

  /** (lower, point, upper) at z·σ of the in-sample residuals — the
    * yhat_lower/yhat/yhat_upper triple a Prophet caller expects. */
  def predictInterval(h: Int, z: Double = 1.96): Array[(Double, Double, Double)] =
    predict(h).map(p => (p - z * sigma, p, p + z * sigma))
}

/** Ridge least squares with a fitted intercept, by the convention of
  * MLlib's normal-equation solver (`WeightedLeastSquares` as
  * `LinearRegression` drives it with `solver=normal`,
  * `standardization=false`, unit weights):
  *  - the label is standardized by its population spread σ_y, the
  *    features are not; the system is built over the raw moments
  *    E[aaᵀ], E[a], E[ab], E[b] scaled to unit feature and label
  *    spread, with the intercept as one extra unknown;
  *  - the L2 weight on feature j is λ/σ_y/σ_j² in that scaled space
  *    (equivalently λ·n/σ_y on the raw centered Gram diagonal — the
  *    form `Events.ProphetRel` writes out), the intercept is unpenalized;
  *  - a zero-variance feature gets coefficient 0 (MLlib's back-scaling
  *    zeroes it; here it is left out of the system, which MLlib's
  *    singular-matrix fallback only approximates);
  *  - a flat label gives coefficients 0 and its mean as the intercept.
  * The (≤ 33)-unknown symmetric system is solved by Cholesky.
  */
private[forecast] object RidgeNormal {

  /** (coefficients, intercept) for rows `x` (n × k) and labels `y`. */
  def fit(x: Array[Array[Double]], y: Array[Double],
          lambda: Double): (Array[Double], Double) = {
    val n = y.length
    require(n > 0, "empty series")
    val k = x(0).length
    var bSum = 0.0; var bbSum = 0.0
    val aSum = new Array[Double](k)
    val abSum = new Array[Double](k)
    val aaSum = Array.ofDim[Double](k, k)
    var r = 0
    while (r < n) {
      val a = x(r); val b = y(r)
      bSum += b; bbSum += b * b
      var i = 0
      while (i < k) {
        aSum(i) += a(i); abSum(i) += a(i) * b
        var j = i
        while (j < k) { aaSum(i)(j) += a(i) * a(j); j += 1 }
        i += 1
      }
      r += 1
    }
    val bBar = bSum / n
    val bStd = math.sqrt(math.max(bbSum / n - bBar * bBar, 0.0))
    if (bStd == 0.0 || y.forall(_ == y(0))) return (new Array[Double](k), bBar)

    val varying = (0 until k).filter(j => x.exists(_(j) != x(0)(j))).toArray
    val aStd = varying.map(j => math.sqrt(aaSum(j)(j) / n - (aSum(j) / n) * (aSum(j) / n)))
    val m = varying.length
    // unknowns: the m scaled coefficients, then the scaled intercept
    val g = Array.ofDim[Double](m + 1, m + 1)
    val rhs = new Array[Double](m + 1)
    var i = 0
    while (i < m) {
      val fi = varying(i)
      var j = i
      while (j < m) {
        g(i)(j) = aaSum(fi)(varying(j)) / n / (aStd(i) * aStd(j))
        g(j)(i) = g(i)(j)
        j += 1
      }
      g(i)(i) += lambda / bStd / (aStd(i) * aStd(i))
      g(i)(m) = aSum(fi) / n / aStd(i)
      g(m)(i) = g(i)(m)
      rhs(i) = abSum(fi) / n / (aStd(i) * bStd)
      i += 1
    }
    g(m)(m) = 1.0
    rhs(m) = bBar / bStd
    val sol = cholesky(g, rhs)
    val w = new Array[Double](k)
    i = 0
    while (i < m) { w(varying(i)) = sol(i) * bStd / aStd(i); i += 1 }
    (w, sol(m) * bStd)
  }

  /** Solves g·x = rhs for symmetric positive-definite g (g = L·Lᵀ). */
  private def cholesky(g: Array[Array[Double]], rhs: Array[Double]): Array[Double] = {
    val d = rhs.length
    val l = Array.ofDim[Double](d, d)
    var j = 0
    while (j < d) {
      var s = g(j)(j)
      var p = 0
      while (p < j) { s -= l(j)(p) * l(j)(p); p += 1 }
      if (!(s > 0.0)) throw new ArithmeticException(
        "ridge normal equations are not positive definite")
      l(j)(j) = math.sqrt(s)
      var i = j + 1
      while (i < d) {
        var t = g(i)(j)
        p = 0
        while (p < j) { t -= l(i)(p) * l(j)(p); p += 1 }
        l(i)(j) = t / l(j)(j)
        i += 1
      }
      j += 1
    }
    val z = new Array[Double](d)
    var i = 0
    while (i < d) {
      var t = rhs(i)
      var p = 0
      while (p < i) { t -= l(i)(p) * z(p); p += 1 }
      z(i) = t / l(i)(i)
      i += 1
    }
    val out = new Array[Double](d)
    i = d - 1
    while (i >= 0) {
      var t = z(i)
      var p = i + 1
      while (p < d) { t -= l(p)(i) * out(p); p += 1 }
      out(i) = t / l(i)(i)
      i -= 1
    }
    out
  }
}
