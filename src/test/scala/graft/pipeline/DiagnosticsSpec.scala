package graft.pipeline

import graft.SparkSpec

/** The console blocks must render the reference's shapes from the
  * real pipeline outputs — captured through the injectable sink, no
  * stdout scraping. */
class DiagnosticsSpec extends SparkSpec {

  test("inventory and dataset-info blocks render from pipeline outputs") {
    val r = CandyPipeline.run(spark, CandyData.inputDir,
      None, reloadDaily = false, 1, () => new graft.forecast.LinearTrendForecaster())

    val inv = collection.mutable.ArrayBuffer[String]()
    Diagnostics.inventoryLevels(r.productsUpdated, inv.append(_))
    assert(inv.head.contains("CURRENT INVENTORY LEVELS"))
    // 36 products + header + 2 rules
    assert(inv.count(_.startsWith("•")) == 36)
    assert(inv.exists(l => l.contains("(ID:") && l.endsWith("units")))

    val info = collection.mutable.ArrayBuffer[String]()
    Diagnostics.datasetInfo(r.dailySummary, info.append(_))
    assert(info.head == "Dataset Information:")
    assert(info.exists(_.startsWith("• Number of Data Points: 10")))
    assert(info.exists(_.startsWith("• Average Daily Sales:   $")))

    val m = collection.mutable.ArrayBuffer[String]()
    Diagnostics.forecastMetrics("linear_trend", Map("Sales MAE" -> 12.345), m.append(_))
    assert(m.exists(_ == "Sales MAE: $12.35"))
  }

  test("staged pipeline emits all three console blocks through the injected sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-diag-staged").toString
    val lines = collection.mutable.ArrayBuffer[String]()
    Orchestrate.staged(spark, CandyData.inputDir,
      s"$tmp/_stages", tmp, log = Some(lines.append(_)))
    // process stage: dataset info + inventory; report stage: forecast
    // metrics with real in-sample MAE/MSE from the fitted models
    assert(lines.exists(_ == "Dataset Information:"))
    assert(lines.exists(_.contains("CURRENT INVENTORY LEVELS")))
    assert(lines.count(_.startsWith("•")) >= 36 + 4)
    assert(lines.exists(_ == "Model Type: linear_trend"))
    assert(lines.exists(_.matches("""Sales MAE: \$\d+\.\d{2}""")))
    assert(lines.exists(_.matches("""Profit MSE: \$\d+\.\d{2}""")))
  }
}
