package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.forecast.{ForecastReport, ProphetLikeForecaster}
import graft.io.{CsvSource, JsonSource, Sinks}
import graft.pipeline.{CandyPipeline, Model}

/** `candy_year`: the candy-store pipeline over a year of day files,
  * from input to all five CSVs, with the prophet-like forecaster —
  * what a `CandyMain` user runs.
  *
  * Untraced units call `CandyPipeline.run` and then `writeReports`, the
  * two steps the CLI's default stage runs. The traced unit calls the same public stages one
  * by one and materializes each stage's output at its boundary, so
  * that every layer's span holds only its own work:
  *  - `io.read` loads the product catalog and the day files and caches
  *    the normalized items (normalize reads each row's source file name,
  *    so it cannot run over a cached scan and stays with the read);
  *  - `pipeline.normalize_enrich` is the catalog join;
  *  - `pipeline.allocate` the greedy allocation;
  *  - `pipeline.reports_build` the (action-free) report construction;
  *  - `pipeline.reports` computes the four report frames;
  *  - `forecast.fit` fits the forecast;
  *  - `io.sink` writes the five CSVs. */
final class CandyYear(data: String, work: String) extends Workload {

  /** The cold run and a warm one; a traced run adds a second warm run,
    * so that one warm run is traced and one is not. */
  def units(traced: Boolean): Int = if (traced) 3 else 2

  private def model(spark: SparkSession) = () => new ProphetLikeForecaster(spark)
  private var enrichedRows, allocLines, cancelled, points = 0L

  def unit(spark: SparkSession, i: Int, trace: Trace): Seq[Op] = {
    val out = s"$work/out_$i"
    val t0 = System.nanoTime()
    if (trace.enabled) traced(spark, out, trace)
    else {
      val r = CandyPipeline.run(spark, data)
      CandyPipeline.writeReports(r.orders, r.orderLineItems, r.dailySummary,
        r.productsUpdated, out, 1, model(spark))
    }
    Seq(Op(i, s"run_$i", (System.nanoTime() - t0) / 1e9, None))
  }

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  private def traced(spark: SparkSession, out: String, t: Trace): Unit =
    t.span("candy.pipeline") {
      val (products, items) = t.span("io.read") {
        val products = materialize(
          CsvSource(s"$data/products.csv", Model.productSchema).load(spark))._1
        val tx = JsonSource(CandyPipeline.transactionPaths(data, None),
          Model.transactionSchema).load(spark)
        (products, materialize(CandyPipeline.normalize(tx))._1)
      }
      val (enriched, nEnriched) = t.span("pipeline.normalize_enrich") {
        materialize(CandyPipeline.enrich(items, products))
      }
      val (lines, nLines, nCancelled) = t.span("pipeline.allocate") {
        val (l, n) = materialize(CandyPipeline.allocateLines(enriched, reloadDaily = false))
        (l, n, l.filter(col("quantity") === 0).count())
      }
      val (orders, oli, daily, updated) = t.span("pipeline.reports_build") {
        CandyPipeline.buildReports(lines, products, reloadDaily = false)
      }
      val reports = t.span("pipeline.reports") {
        Seq(orders, oli, daily, updated).map(materialize)
      }
      val fc = t.span("forecast.fit") {
        ForecastReport.forecast(reports(2)._1, 1, model(spark))
      }
      t.span("io.sink") {
        Seq("orders.csv", "order_line_items.csv", "daily_summary.csv",
            "products_updated.csv").zip(reports)
          .foreach { case (name, (df, _)) => Sinks.singleFileCsv(df, out, name) }
        fc.foreach(f => Sinks.singleFileCsv(f, out, "sales_profit_forecast.csv"))
      }
      if (t.unit == 0) {
        enrichedRows = nEnriched
        allocLines = nLines
        cancelled = nCancelled
        points = reports(2)._2
      }
    }

  def layers(t: Trace): Map[String, Double] = {
    def s(name: String) = t.total(name, 0)
    def c(name: String, key: String) = t.count(name, key, 0)
    val root = t.named("candy.pipeline", 0)
    val files = new java.io.File(data).list().length.toDouble
    Map(
      "io.read_s" -> s("io.read"),
      "io.read_files" -> files,
      "io.read_rows" -> c("io.read", "records_read"),
      "io.sink_s" -> s("io.sink"),
      "io.sink_rows" -> c("io.sink", "records_written"),
      "io.sink_bytes" -> c("io.sink", "bytes_written"),
      "pipeline.normalize_enrich_s" -> s("pipeline.normalize_enrich"),
      "pipeline.enriched_rows" -> enrichedRows.toDouble,
      "pipeline.allocate_s" -> s("pipeline.allocate"),
      "pipeline.allocate_lines" -> allocLines.toDouble,
      "pipeline.allocate_cancelled" -> cancelled.toDouble,
      "pipeline.allocate_shuffle_bytes" -> c("pipeline.allocate", "shuffle_write_bytes"),
      "pipeline.allocate_spill_bytes" -> c("pipeline.allocate", "spill_bytes"),
      "pipeline.reports_s" -> s("pipeline.reports"),
      "pipeline.reports_build_s" -> s("pipeline.reports_build"),
      "pipeline.reports_build_jobs" -> c("pipeline.reports_build", "jobs"),
      "forecast.fit_s" -> s("forecast.fit"),
      "forecast.points" -> points.toDouble,
      "candy.uncovered_s" -> root.map(t.selfSeconds).sum)
  }
}
