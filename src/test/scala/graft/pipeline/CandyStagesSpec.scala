package graft.pipeline

import java.nio.file.Files
import graft.SparkSpec

/** The staged (DAG-shaped, parquet-checkpointed) execution must
  * produce exactly the single-session pipeline's results. */
class CandyStagesSpec extends SparkSpec {

  private val dataDir = CandyData.inputDir

  test("ingest → process → report equals the single-session run") {
    val ckpt = Files.createTempDirectory("candy_stages").toString
    CandyStages.ingest(spark, dataDir, ckpt)
    CandyStages.process(spark, ckpt)

    val single = CandyPipeline.run(spark, dataDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    val stagedOrders = spark.read.parquet(s"$ckpt/orders")
    val stagedSummary = spark.read.parquet(s"$ckpt/daily_summary")
    val stagedStock = spark.read.parquet(s"$ckpt/products_updated")
    assert(rows(stagedOrders) == rows(single.orders))
    assert(rows(stagedSummary) == rows(single.dailySummary))
    assert(rows(stagedStock) == rows(single.productsUpdated))
  }

  test("a .env fixture configures the run: dates, output path, reload flag") {
    val work = Files.createTempDirectory("candy_env").toString
    val envFile = s"$work/.env"
    // the reference's config surface (src/main.py:59-86) — the Mongo
    // endpoint keys are accepted and unused (file-backed sources),
    // the window/output/reload keys drive the run
    Files.writeString(java.nio.file.Paths.get(envFile),
      s"""# candy pipeline config
         |MONGODB_URI="mongodb://example.invalid:27017"
         |MONGO_START_DATE=20240201
         |export MONGO_END_DATE='20240203'
         |OUTPUT_PATH=$work/out
         |RELOAD_INVENTORY_DAILY=True
         |""".stripMargin)
    val cfg = graft.CandyMain.resolve(Array(dataDir, "--env", envFile))
    assert(cfg.outDir == s"$work/out" && cfg.reloadDaily)
    assert(cfg.days.contains(Seq("20240201", "20240202", "20240203")))
    // CLI wins over the env file
    val cli = graft.CandyMain.resolve(
      Array(dataDir, s"$work/cli_out", "--env", envFile))
    assert(cli.outDir == s"$work/cli_out")
    // and the window actually narrows ingestion: 3 of the 10 day
    // files land in the items checkpoint
    val ckpt = s"$work/_stages"
    CandyStages.ingest(spark, dataDir, ckpt, cfg.days)
    val days = spark.read.parquet(s"$ckpt/items")
      .select("day").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(days == Seq(20240201, 20240202, 20240203),
      s"ingested days: $days")
  }
}
