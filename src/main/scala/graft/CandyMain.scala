package graft

import graft.io.EnvConfig
import graft.pipeline.CandyPipeline

/** CLI for the candy-store pipeline (mirrors the reference's
  * load → batch → forecast orchestration, src/main.py:139-236, as a
  * single declarative run — the Airflow DAG's three stages collapse
  * because Spark's lazy plans make the Parquet handoffs unnecessary
  * on one cluster).
  *
  * Usage: graft.CandyMain <dataDir> [<outputDir>]
  *          [--env FILE] [--reload-daily] [--horizon N]
  *          [--model linear|seasonal|mllib|prophet] [--stage S]
  *
  * Configuration also comes from a dotenv file — the reference's
  * whole config surface (src/main.py:59-86). `--env FILE` names it;
  * otherwise `./.env` is read when present (load_dotenv parity).
  * Recognized keys: OUTPUT_PATH (the output dir when no positional
  * one is given), RELOAD_INVENTORY_DAILY (true/false), and
  * MONGO_START_DATE/MONGO_END_DATE (inclusive YYYYMMDD window —
  * narrows ingestion to those days' transactions_<day>.json files,
  * the reference's per-day collection list). Explicit CLI flags win
  * over env keys. */
object CandyMain {

  final case class Config(dataDir: String, outDir: String,
                          reloadDaily: Boolean, horizon: Int,
                          modelName: String, stage: String,
                          verbose: Boolean, days: Option[Seq[String]])

  /** Merge CLI args over the dotenv config (CLI wins). Factored out
    * of main so the precedence rules are spec-testable without
    * running a pipeline. */
  private[graft] def resolve(args: Array[String]): Config = {
    require(args.nonEmpty,
      "usage: CandyMain <dataDir> [<outputDir>] [--env FILE] " +
        "[--reload-daily] [--horizon N] " +
        "[--model linear|seasonal|mllib|prophet] [--stage S]")
    def flagValue(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val env = flagValue("--env")
      .orElse(Option(".env").filter(p => new java.io.File(p).exists()))
      .map(EnvConfig.load).getOrElse(Map.empty)
    val outDir = args.drop(1).headOption.filterNot(_.startsWith("--"))
      .orElse(env.get("OUTPUT_PATH"))
      .getOrElse(throw new IllegalArgumentException(
        "no output dir: pass it positionally or set OUTPUT_PATH in the env file"))
    val days = (env.get("MONGO_START_DATE"), env.get("MONGO_END_DATE")) match {
      case (Some(s), Some(e)) => Some(EnvConfig.dateRange(s, e))
      case _ => None
    }
    Config(
      dataDir = args(0),
      outDir = outDir,
      reloadDaily = args.contains("--reload-daily") ||
        env.get("RELOAD_INVENTORY_DAILY").exists(_.equalsIgnoreCase("true")),
      horizon = flagValue("--horizon").map(_.toInt).getOrElse(1),
      modelName = flagValue("--model").getOrElse("linear"),
      stage = flagValue("--stage").getOrElse("all"),
      verbose = args.contains("--verbose"),
      days = days)
  }

  def main(args: Array[String]): Unit = {
    val cfg = resolve(args)
    val spark = GraftSession.create("candy-pipeline")

    val model: () => graft.forecast.Forecaster = cfg.modelName match {
      case "seasonal" => () => new graft.forecast.SeasonalNaiveForecaster()
      case "mllib" => () => new graft.forecast.MllibForecaster(spark)
      case "prophet" => () => new graft.forecast.ProphetLikeForecaster(spark)
      case _ => () => new graft.forecast.LinearTrendForecaster()
    }
    val ckpt = s"${cfg.outDir}/_stages"
    // staged-path console blocks (same surface as the single-session
    // path's --verbose below; the reference DAG logs these per task)
    val stageLog: Option[String => Unit] =
      if (cfg.verbose) Some(println) else None
    cfg.stage match {
      case "ingest" =>
        graft.pipeline.CandyStages.ingest(spark, cfg.dataDir, ckpt, cfg.days)
      case "process" =>
        graft.pipeline.CandyStages.process(spark, ckpt, cfg.reloadDaily, stageLog)
      case "report" =>
        graft.pipeline.CandyStages.report(spark, ckpt, cfg.outDir,
          cfg.horizon, model, stageLog)
      case "staged" => // all three stages, checkpointed, with the DAG's
        // retries; each CLI run is a new DAG run, so no stage is skipped
        graft.pipeline.Orchestrate.reset(spark, ckpt)
        graft.pipeline.Orchestrate.staged(spark, cfg.dataDir, ckpt, cfg.outDir,
          cfg.reloadDaily, cfg.horizon, model, log = stageLog, days = cfg.days)
      case _ =>
        val r = CandyPipeline.run(spark, cfg.dataDir, Some(cfg.outDir),
          cfg.reloadDaily, cfg.horizon, model, cfg.days)
        println(s"orders=${r.orders.count()} lines=${r.orderLineItems.count()} " +
          s"days=${r.dailySummary.count()} products=${r.productsUpdated.count()}")
        // operator-facing console blocks (reference's
        // print_inventory_levels / dataset-info prints)
        if (cfg.verbose) {
          graft.pipeline.Diagnostics.datasetInfo(r.dailySummary)
          graft.pipeline.Diagnostics.inventoryLevels(r.productsUpdated)
        }
    }
    spark.stop()
  }
}
