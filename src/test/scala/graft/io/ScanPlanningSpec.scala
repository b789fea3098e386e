package graft.io

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.{GraftSession, SparkSpec}
import graft.pipeline.{CandyPipeline, Model}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/** File-scan planning under the engine's session settings, on more
  * day files than Spark's parallel-listing threshold (32): the glob is
  * listed on the driver with no Spark job, the day files pack into
  * fewer splits than files, and the candy pipeline's allocation is
  * the same as under the one-file-per-split layout. */
class ScanPlanningSpec extends SparkSpec {

  private val days = 40

  /** `days` tiny `transactions_YYYYMMDD.json` files plus the catalog
    * CSVs. Day sizes vary (so size-ordered packing differs from name
    * order), several transactions per day compete for the same
    * product, demand exceeds stock across days, and some items have
    * a null qty, some transactions only null ones. */
  private def year(): String = {
    val dir = Files.createTempDirectory("scan_year")
    Files.writeString(dir.resolve("customers.csv"),
      "customer_id,first_name,last_name,email,address,phone\n" +
        (1 to 5).map(c => s"$c,F$c,L$c,c$c@x,addr,555").mkString("\n") + "\n")
    Files.writeString(dir.resolve("products.csv"),
      """product_id,product_name,product_category,product_subcategory,product_shape,sales_price,cost_to_make,stock
        |1,Choc,Cat,Sub,Bar,2.00,1.00,40
        |2,Mint,Cat,Sub,Drop,3.50,1.50,12
        |3,Gum,Cat,Sub,Ball,0.75,0.25,500
        |""".stripMargin)
    val rng = new scala.util.Random(7)
    val start = java.time.LocalDate.of(2024, 1, 1)
    (0 until days).foreach { d =>
      val date = start.plusDays(d)
      val txs = (0 until 1 + rng.nextInt(6)).map { t =>
        val allNull = rng.nextInt(8) == 0
        val items = (0 until 1 + rng.nextInt(3)).map { _ =>
          val qty = if (allNull || rng.nextInt(6) == 0) "null" else (1 + rng.nextInt(4)).toString
          s"""{"product_id": ${1 + rng.nextInt(3)}, "product_name": "p", "qty": $qty}"""
        }
        s"""{"transaction_id": ${(d + 1) * 100 + t}, "customer_id": ${1 + rng.nextInt(5)},
           | "timestamp": "${date}T08:${"%02d".format(t)}:00.000001",
           | "items": [${items.mkString(", ")}]}""".stripMargin
      }
      Files.writeString(dir.resolve(s"transactions_${date.toString.replace("-", "")}.json"),
        txs.mkString("[\n", ",\n", "\n]"))
    }
    dir.toString
  }

  private def transactions(s: SparkSession, dir: String): DataFrame =
    JsonSource(CandyPipeline.transactionPaths(dir, None), Model.transactionSchema).load(s)

  private def scanSplits(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectFirst {
      case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions
    }.get

  test("the test session runs on the engine's settings") {
    assert(spark.sparkContext.master == "local[4]")
    (GraftSession.settings("4") - "spark.master").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("listing and planning the day files fires no Spark job") {
    val dir = year()
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = transactions(spark, dir)
      df.queryExecution.executedPlan
      ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get == 0, "jobs fired before the action")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the scan packs the day files into fewer splits than files") {
    val splits = scanSplits(transactions(spark, year()))
    assert(splits > 0 && splits < days, s"$splits splits for $days files")
  }

  test("packed splits allocate exactly as one file per split") {
    // two copies of the same year: the pipeline caches its allocated
    // lines, and a cache entry is shared across sessions, so one
    // directory would let the second run read the first run's lines
    val packedDir = year()
    val perFileDir = year()
    val perFile = spark.newSession()
    perFile.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    assert(scanSplits(transactions(perFile, perFileDir)) == days)
    assert(scanSplits(transactions(spark, packedDir)) < days)

    def outputs(s: SparkSession, dir: String): Seq[Seq[Row]] = {
      val r = CandyPipeline.run(s, dir)
      Seq(r.orders, r.orderLineItems, r.dailySummary, r.productsUpdated)
        .map(_.collect().toSeq)
    }
    val packed = outputs(spark, packedDir)
    val reference = outputs(perFile, perFileDir)
    Seq("orders", "order_line_items", "daily_summary", "products_updated")
      .zip(packed.zip(reference)).foreach { case (name, (got, want)) =>
        assert(got == want, name)
      }
    // the fixture exercises what the order decides: filled lines, and
    // cancelled ones once a product's stock runs short
    val quantities = packed(1).map(_.getAs[Long]("quantity"))
    assert(quantities.contains(0L) && quantities.exists(_ > 0L))
  }
}
