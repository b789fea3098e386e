package graft.forecast

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.util.Try

/** F1/F3/F5/F6 — series extraction, forecast generation, date spine
  * and output frame (reference: src/data_processor.py:441-588).
  *
  * The daily summary is tiny by construction (one row per business
  * day), so collecting it to the driver is the correct design at any
  * fact-table scale — same boundary the reference draws (F1). Past
  * that boundary the forecast fires no Spark job: the rows are sorted
  * on the driver (an `orderBy` over a local frame still plans jobs),
  * the models fit in memory, and the output frame is a local relation.
  * `CandyPipeline.writeReports` collects the daily summary once and
  * hands the same rows to the `daily_summary.csv` sink and to
  * [[forecastRows]]. Errors are shielded: a failed fit yields None and
  * the caller skips the CSV (F6, src/data_processor.py:441-463).
  */
object ForecastReport {

  /** Collects `dailySummary` (its `date`, `total_sales` and
    * `total_profit` columns) and forecasts from those rows. */
  def forecast(dailySummary: DataFrame, horizon: Int = 1,
               model: () => Forecaster = () => new LinearTrendForecaster(),
               onMetrics: Option[(String, Map[String, Double]) => Unit] = None): Option[DataFrame] =
    Try(dailySummary.select("date", "total_sales", "total_profit").collect()).toOption
      .flatMap(rows =>
        forecastRows(dailySummary.sparkSession, rows.toSeq, horizon, model, onMetrics))

  /** The forecast over already-collected daily-summary rows (any
    * order; fields read by name). `onMetrics` (model name, in-sample
    * MAE/MSE per series) fires after a successful fit — the hook the
    * staged pipeline uses to render the reference's forecast-metrics
    * console block without this package depending on
    * pipeline.Diagnostics. */
  def forecastRows(spark: SparkSession, dailyRows: Seq[Row], horizon: Int,
                   model: () => Forecaster,
                   onMetrics: Option[(String, Map[String, Double]) => Unit] = None)
      : Option[DataFrame] =
    Try {
      require(dailyRows.nonEmpty, "empty daily summary")
      // ascending, nulls first: the order `orderBy("date")` gives
      val rows = dailyRows.sortBy(r =>
        Option(r.getAs[Date]("date")).map(_.toLocalDate.toEpochDay))
      val dates = rows.map(_.getAs[Date]("date"))
      def series(field: String): Array[Double] =
        rows.map(r => Option(r.getAs[Any](field))
          .map(v => BigDecimal(v.toString).toDouble).getOrElse(0.0)).toArray

      val sales = series("total_sales")
      val profit = series("total_profit")
      val salesModel = model().fit(sales)
      val profitModel = model().fit(profit)
      onMetrics.foreach { emit =>
        val (sMae, sMse) = salesModel.metrics(sales)
        val (pMae, pMse) = profitModel.metrics(profit)
        emit(salesModel.name, Map(
          "Sales MAE" -> sMae, "Sales MSE" -> sMse,
          "Profit MAE" -> pMae, "Profit MSE" -> pMse))
      }
      val salesF = salesModel.predict(horizon)
      val profitF = profitModel.predict(horizon)

      val last = dates.last.toLocalDate
      val spine = (1 to horizon).map(i => Date.valueOf(last.plusDays(i.toLong)))

      import spark.implicits._
      spine.zip(salesF.zip(profitF)).map { case (d, (s, p)) => (d, s, p) }
        .toDF("date", "forecasted_sales", "forecasted_profit")
    }.toOption
}
