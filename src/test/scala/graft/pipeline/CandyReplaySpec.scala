package graft.pipeline

import java.nio.file.Files
import graft.SparkSpec

/** End-to-end parity on the committed fixture: the pipeline's four
  * report CSVs against the tables `candy_data.replay` wrote (a
  * sequential greedy loop that shares no code with the engine), under
  * the golden comparison rules. Runs on every checkout. */
class CandyReplaySpec extends SparkSpec {

  private lazy val outDir = {
    val d = Files.createTempDirectory("candy_replay").toString
    CandyPipeline.run(spark, CandyData.fixtureDir, outputDir = Some(d))
    d
  }

  private def compare(file: String): Unit =
    CandyGoldenSpec.compare(CandyData.expectedDir, outDir, file)

  test("orders.csv matches the replay (967 rows)") { compare("orders.csv") }
  test("order_line_items.csv matches the replay (2,668 rows incl. 427 cancelled)") {
    compare("order_line_items.csv")
  }
  test("daily_summary.csv matches the replay (10 rows)") { compare("daily_summary.csv") }
  test("products_updated.csv matches the replay (closing stock, exact)") {
    compare("products_updated.csv")
  }
}
