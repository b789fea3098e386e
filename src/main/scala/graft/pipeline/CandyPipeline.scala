package graft.pipeline

import java.util.concurrent.{ExecutionException, Executors}
import scala.util.{Failure, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{CsvSource, JsonSource, Sinks}
import Model.DemandLine

/** End-to-end candy-store pipeline (SURVEY §3): normalize (T1–T3) →
  * enrich (J1) → allocate (A1/B1) → reports (G1–G3, J2/J3, T4–T7,
  * O2) → forecast (F1–F5).
  *
  * Everything is one declarative plan per output; the only shuffles
  * are the allocator's single hash-partition by product and the final
  * aggregations/sorts. The product catalog is broadcast (dimension
  * side, J1/J3).
  */
object CandyPipeline {

  final case class Result(
      orders: DataFrame,
      orderLineItems: DataFrame,
      dailySummary: DataFrame,
      productsUpdated: DataFrame,
      customers: DataFrame)

  /** Normalize raw transactions: explode the items array (inner — a
    * transaction with an empty array vanishes), project nested
    * fields, drop null-qty items (reference:
    * src/data_processor.py:224-241, 278). Captures the allocation
    * sequence key before any shuffle: day from the source file name,
    * seq = row position within the file (monotonically increasing id
    * follows the read order of the unsplittable multiline-JSON file),
    * pos = item index within the transaction (posexplode).
    *
    * The allocator sorts by `(product, day, seq, pos)`, so seq only
    * has to order the rows of one day file, and it does however the
    * files are packed into splits: a multiline JSON file is never
    * split, so each file is read whole and in order inside one split,
    * and within a split `monotonically_increasing_id` grows with the
    * read order. Packing several day files into one split changes the
    * seq values, not their order within a file. */
  def normalize(transactions: DataFrame): DataFrame =
    transactions
      .withColumn("day",
        regexp_extract(input_file_name(), "transactions_(\\d{8})", 1).cast("int"))
      .withColumn("seq", monotonically_increasing_id())
      .select(col("transaction_id"), col("customer_id"), col("timestamp"),
              col("day"), col("seq"), posexplode(col("items")).as(Seq("pos", "item")))
      .select(
        col("transaction_id"), col("customer_id"), col("timestamp"),
        col("day"), col("seq"), col("pos"),
        col("item.product_id").as("product_id"),
        col("item.qty").as("qty"))
      .filter(col("qty").isNotNull)

  /** Enrich with unit price + opening stock (J1, inner join — items
    * referencing unknown products are dropped, matching the
    * reference's inner join at src/data_processor.py:282-286). */
  def enrich(items: DataFrame, products: DataFrame): DataFrame =
    items.join(
      broadcast(products.select(
        col("product_id"),
        col("sales_price"), col("stock"))),
      Seq("product_id"), "inner")

  /** Enriched items → demand shape → allocated lines (A1/B1), via
    * the custom Catalyst operator (rows are assembled directly into an
    * UnsafeRowWriter buffer with no case-class deserialization or
    * per-column boxing; measured ~2× faster at sf0.1 than the typed
    * `mapPartitions` scan the allocation specs keep as reference). */
  def allocateLines(enriched: DataFrame, reloadDaily: Boolean): DataFrame = {
    val demand = enriched
      .select(
        col("transaction_id").as("order_id"),
        col("customer_id"),
        col("timestamp").as("order_datetime"),
        col("product_id"),
        col("qty"),
        col("sales_price").cast("decimal(38,18)").as("unit_price"),
        col("stock").as("opening_stock"),
        col("day"), col("seq"), col("pos"))
    Allocate.viaPlan(demand, reloadDaily)
  }

  /** Allocated lines → the four report frames (G1–G3, J2/J3, O2). */
  def buildReports(lines: DataFrame, products: DataFrame,
                   reloadDaily: Boolean): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val orderLineItems = lines
      .select("order_id", "product_id", "quantity", "unit_price", "line_total")
      .orderBy("order_id", "product_id")

    // G1 — num_items counts all line items including cancelled qty=0
    // rows (reference: src/data_processor.py:337-344).
    val orders = lines
      .groupBy("order_id", "order_datetime", "customer_id")
      .agg(
        round(sum(col("line_total")), 2).as("total_amount"),
        count(col("product_id")).as("num_items"))
      .orderBy("order_id")

    val dailySummary = Reports.dailySummary(orders, lines, products)

    // J2/T4 — closing stock: opening − Σ filled, per product. The
    // reference rebuilds the catalog by join each day; one grouped
    // join at the end is equivalent under carry-over. Under daily
    // reload the catalog restocks every morning, so closing stock
    // reflects only the final day's fills.
    // In-plan last-day restriction: the 1-row max-date aggregate joins
    // back by broadcast instead of a driver `.first()` — report
    // construction stays action-free (no job runs until the reports
    // are written) and the filter itself is a broadcast nested-loop
    // against a single row, not a shuffle.
    val filledLines =
      if (!reloadDaily) lines
      else {
        val lastDay = lines.agg(max(to_date(col("order_datetime"))).as("__last_day"))
        lines.join(broadcast(lastDay),
            to_date(col("order_datetime")) === col("__last_day"))
          .drop("__last_day")
      }
    val filled = filledLines.groupBy("product_id")
      .agg(sum(col("quantity")).as("filled_qty"))
    val productsUpdated = products
      .join(filled, Seq("product_id"), "left")
      .select(
        col("product_id"), col("product_name"),
        (col("stock") - coalesce(col("filled_qty"), lit(0L))).as("current_stock"))
      .orderBy("product_id")

    (orders, orderLineItems, dailySummary, productsUpdated)
  }

  /** Write the four report CSVs + the forecast (S5/S6). `log` (when
    * set) renders the forecast-metrics console block as the forecast
    * fits — the reference's per-task print surface.
    *
    * Each piece of work runs once. The daily summary (≤ one row per
    * business day, the F1 boundary) is collected once: that collect is
    * the only execution of its plan, `daily_summary.csv` is written
    * from the collected rows, and the forecast fits on the same rows
    * without a Spark job. The collect also fills the allocated-lines
    * cache the other reports read, so the four CSV sinks are then
    * submitted together, one pool thread each: every sink is a small
    * job whose tasks leave most executor cores idle, so written one
    * after another the cores sat idle between them. The forecast and its
    * console block stay on the calling thread. Every sink is awaited
    * and the first failure (in sink order) is rethrown. */
  def writeReports(orders: DataFrame, orderLineItems: DataFrame,
                   dailySummary: DataFrame, productsUpdated: DataFrame,
                   out: String, forecastHorizon: Int,
                   forecastModel: () => graft.forecast.Forecaster,
                   log: Option[String => Unit] = None): Unit = {
    val spark = dailySummary.sparkSession
    val daily = dailySummary.collect()
    val dailyRows = spark.createDataFrame(java.util.Arrays.asList(daily: _*), dailySummary.schema)
    val sinks = Seq(dailyRows -> "daily_summary.csv", orders -> "orders.csv",
      orderLineItems -> "order_line_items.csv", productsUpdated -> "products_updated.csv")
    val pool = Executors.newFixedThreadPool(sinks.size, (r: Runnable) => {
      val t = new Thread(r, "graft-report-sink")
      t.setDaemon(true)
      t
    })
    try {
      val pending = sinks.map { case (df, name) =>
        pool.submit[Unit](() => Sinks.singleFileCsv(df, out, name))
      }
      val forecast = Try {
        graft.forecast.ForecastReport.forecastRows(spark, daily.toSeq, forecastHorizon,
            forecastModel,
            onMetrics = log.map(o => (m, mm) => Diagnostics.forecastMetrics(m, mm, o)))
          .foreach(f => Sinks.singleFileCsv(f, out, "sales_profit_forecast.csv"))
      }
      val written = pending.map(p => Try(p.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      (written :+ forecast).collectFirst { case Failure(e) => e }.foreach(e => throw e)
    } finally pool.shutdown()
  }

  /** Per-day transaction paths: the reference ingests one collection
    * per day in its MONGO_START_DATE..MONGO_END_DATE window
    * (src/main.py:29-40); `days = None` is the take-everything glob. */
  def transactionPaths(dataDir: String, days: Option[Seq[String]]): Seq[String] =
    days.map(_.map(d => s"$dataDir/transactions_$d.json"))
      .getOrElse(Seq(s"$dataDir/transactions_*.json"))

  def run(spark: SparkSession, dataDir: String, outputDir: Option[String] = None,
          reloadDaily: Boolean = false, forecastHorizon: Int = 1,
          forecastModel: () => graft.forecast.Forecaster =
            () => new graft.forecast.LinearTrendForecaster(),
          days: Option[Seq[String]] = None): Result = {
    // S1/S3 parity: the customers table is loaded but feeds no
    // computation in the reference either (SURVEY §1.1) — it is part
    // of the ingest surface, exposed on the Result.
    val customers = CsvSource(s"$dataDir/customers.csv", Model.customerSchema).load(spark)
    val products = CsvSource(s"$dataDir/products.csv", Model.productSchema).load(spark)
    val transactions = JsonSource(
      transactionPaths(dataDir, days), Model.transactionSchema).load(spark)

    val lines = allocateLines(enrich(normalize(transactions), products), reloadDaily).cache()
    val (orders, orderLineItems, dailySummary, productsUpdated) =
      buildReports(lines, products, reloadDaily)

    outputDir.foreach { out =>
      writeReports(orders, orderLineItems, dailySummary, productsUpdated,
        out, forecastHorizon, forecastModel)
    }

    Result(orders, orderLineItems, dailySummary, productsUpdated, customers)
  }
}
