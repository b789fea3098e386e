package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import graft.forecast.{ForecastReport, ProphetLikeForecaster}
import graft.io.Sinks
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The report stage runs each piece of work once: the daily-summary
  * plan executes once per `writeReports` call, the forecast fits on
  * the collected rows without a Spark job, the concurrently written
  * CSVs equal the one-at-a-time writes byte for byte, and a failing
  * sink's exception leaves `writeReports`. */
class CandyReportsSpec extends SparkSpec {

  /** Four business days; demand exceeds stock so some lines cancel
    * to qty=0, and some items carry a null qty. */
  private lazy val dataDir: String = {
    val d = Files.createTempDirectory("candy_reports").toString
    Files.writeString(Paths.get(s"$d/customers.csv"),
      "customer_id,first_name,last_name,email,address,phone\n1,A,B,a@b,addr,555\n2,C,D,c@d,addr,556\n")
    Files.writeString(Paths.get(s"$d/products.csv"),
      """product_id,product_name,product_category,product_subcategory,product_shape,sales_price,cost_to_make,stock
        |1,Choc,Cat,Sub,Shape,2.00,1.00,9
        |2,Mint,Cat,Sub,Shape,3.00,1.50,4
        |3,Gum,Cat,Sub,Shape,0.75,0.25,100
        |""".stripMargin)
    val days = Seq(
      "20240301" -> Seq(Seq(1 -> "3", 2 -> "2"), Seq(2 -> "3", 3 -> "null"), Seq(3 -> "5")),
      "20240302" -> Seq(Seq(1 -> "4"), Seq(1 -> "null")),
      "20240303" -> Seq(Seq(1 -> "4", 3 -> "2"), Seq(2 -> "2", 3 -> "1"), Seq(2 -> "1")),
      "20240304" -> Seq(Seq(3 -> "7"), Seq(1 -> "1", 2 -> "null")))
    days.zipWithIndex.foreach { case ((day, txs), di) =>
      val date = s"${day.take(4)}-${day.slice(4, 6)}-${day.drop(6)}"
      val json = txs.zipWithIndex.map { case (items, ti) =>
        val its = items.map { case (p, q) =>
          s"""{"product_id": $p, "product_name": "p$p", "qty": $q}""" }
        s"""{"transaction_id": ${(di + 1) * 10 + ti}, "customer_id": ${1 + ti % 2},
           | "timestamp": "${date}T09:0$ti:00.000001", "items": [${its.mkString(", ")}]}""".stripMargin
      }
      Files.writeString(Paths.get(s"$d/transactions_$day.json"), json.mkString("[\n", ",\n", "\n]"))
    }
    d
  }

  private lazy val result = CandyPipeline.run(spark, dataDir)

  private val reportFiles =
    Seq("daily_summary.csv", "orders.csv", "order_line_items.csv", "products_updated.csv")

  private def model = () => new ProphetLikeForecaster(spark)

  private def writeReports(out: String): Unit =
    CandyPipeline.writeReports(result.orders, result.orderLineItems, result.dailySummary,
      result.productsUpdated, out, 3, model)

  private def bytes(dir: String, name: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(dir, name)).toSeq

  test("the fixture cancels lines and drops null-qty items") {
    val qty = result.orderLineItems.collect().map(_.getLong(2))
    assert(qty.contains(0L), "some demand exceeds stock")
    assert(qty.length == 12, "the 3 null-qty items are dropped")
    assert(result.dailySummary.count() == 4)
  }

  test("the daily-summary plan executes once per writeReports call") {
    val runs = new AtomicInteger()
    def isDailySummary(qe: QueryExecution): Boolean =
      qe.analyzed.exists {
        case a: Aggregate => a.aggregateExpressions.exists(_.name == "total_cost_to_make")
        case _ => false
      }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (isDailySummary(qe)) runs.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (isDailySummary(qe)) runs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      writeReports(Files.createTempDirectory("reports_once").toString)
      ListenerBusDrain.drain(spark.sparkContext)
      assert(runs.get() == 1)
      writeReports(Files.createTempDirectory("reports_twice").toString)
      ListenerBusDrain.drain(spark.sparkContext)
      assert(runs.get() == 2)
    } finally spark.listenerManager.unregister(listener)
  }

  test("the forecast over the collected daily summary fires no Spark job") {
    val rows = result.dailySummary.collect().toSeq
    val jobs = new AtomicInteger()
    val metrics = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val fc = try {
      val f = ForecastReport.forecastRows(spark, rows.reverse, 3, model,
        onMetrics = Some((_, _) => metrics.incrementAndGet()))
      ListenerBusDrain.drain(spark.sparkContext)
      f
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0)
    assert(metrics.get() == 1)
    val dates = fc.get.collect().map(_.getDate(0).toString).toSeq
    assert(dates == Seq("2024-03-05", "2024-03-06", "2024-03-07"),
      "the spine follows the latest date whatever the row order")
  }

  test("concurrent report CSVs equal the one-at-a-time writes byte for byte") {
    val together = Files.createTempDirectory("reports_together").toString
    val alone = Files.createTempDirectory("reports_alone").toString
    writeReports(together)
    Seq(result.dailySummary, result.orders, result.orderLineItems, result.productsUpdated)
      .zip(reportFiles).foreach { case (df, name) => Sinks.singleFileCsv(df, alone, name) }
    ForecastReport.forecast(result.dailySummary, 3, model)
      .foreach(f => Sinks.singleFileCsv(f, alone, "sales_profit_forecast.csv"))
    (reportFiles :+ "sales_profit_forecast.csv").foreach { name =>
      assert(bytes(together, name) == bytes(alone, name), name)
    }
    val listed = Files.list(Paths.get(together)).toArray
      .map(_.asInstanceOf[Path].getFileName.toString).filterNot(_.startsWith("."))
    assert(listed.sorted.toSeq == (reportFiles :+ "sales_profit_forecast.csv").sorted,
      "no temp directory is left behind")
  }

  test("a sink that cannot write raises its exception out of writeReports") {
    val out = Files.createTempDirectory("reports_fail").toString
    // a non-empty directory where orders.csv must land: the sink's
    // non-recursive delete of its target fails
    Files.createDirectories(Paths.get(out, "orders.csv"))
    Files.writeString(Paths.get(out, "orders.csv", "keep"), "x")
    val e = intercept[java.io.IOException](writeReports(out))
    assert(e.getMessage.contains("orders.csv"), e.getMessage)
    // the other sinks ran to completion before the failure surfaced
    reportFiles.filterNot(_ == "orders.csv").foreach { name =>
      assert(Files.isRegularFile(Paths.get(out, name)), name)
    }
  }
}
