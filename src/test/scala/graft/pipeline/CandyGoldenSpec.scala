package graft.pipeline

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** The reference CI's comparison rules (.gitlab-ci.yml:124-170): shape
  * + column names exact, money within ±0.01/rtol 1e-2, datetimes
  * compared parsed, everything else exact INCLUDING row order. */
object CandyGoldenSpec {
  import org.scalatest.Assertions._

  def readCsv(path: String): (Array[String], Seq[Array[String]]) = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)
    (lines.head.split(",", -1), lines.tail.map(_.split(",", -1)))
  }

  private val moneyCols = Set("total_amount", "line_total", "total_sales", "total_profit", "unit_price")
  private val dtCols = Set("order_datetime")

  /** `outDir/file` against `goldenDir/file` under those rules. */
  def compare(goldenDir: String, outDir: String, file: String): Unit = {
    val (gh, grows) = readCsv(s"$goldenDir/$file")
    val (oh, orows) = readCsv(s"$outDir/$file")
    assert(oh.toSeq == gh.toSeq, s"$file header")
    assert(orows.size == grows.size, s"$file row count: ours=${orows.size} golden=${grows.size}")
    grows.zip(orows).zipWithIndex.foreach { case ((g, o), i) =>
      gh.indices.foreach { c =>
        val col = gh(c)
        if (moneyCols(col)) {
          val gv = g(c).toDouble; val ov = o(c).toDouble
          assert(math.abs(gv - ov) <= 0.01 + 0.01 * math.abs(gv),
            s"$file row $i col $col: ours=${o(c)} golden=${g(c)}")
        } else if (dtCols(col)) {
          assert(LocalDateTime.parse(g(c)) == LocalDateTime.parse(o(c)),
            s"$file row $i col $col: ours=${o(c)} golden=${g(c)}")
        } else {
          assert(g(c) == o(c), s"$file row $i col $col: ours=${o(c)} golden=${g(c)}")
        }
      }
    }
  }
}

/** Golden end-to-end parity with the reference's published outputs.
  * The "matches golden" tests need the reference checkout and cancel
  * where it is absent; `CandyReplaySpec` checks the same four files
  * against the independent replay on the committed fixture. */
class CandyGoldenSpec extends SparkSpec {
  import CandyGoldenSpec.readCsv

  private val dataDir = CandyData.inputDir
  private val goldenDir = CandyData.goldenDir

  private lazy val outDir = {
    val d = Files.createTempDirectory("candy_golden").toString
    CandyPipeline.run(spark, dataDir, outputDir = Some(d))
    d
  }

  private def compare(file: String): Unit = {
    assume(CandyData.goldenPresent,
      s"golden parity needs ${CandyData.referenceDir} and $goldenDir")
    CandyGoldenSpec.compare(goldenDir, outDir, file)
  }

  test("orders.csv matches golden (9,846 rows)") { compare("orders.csv") }
  test("order_line_items.csv matches golden (27,652 rows incl. 230 cancelled)") {
    compare("order_line_items.csv")
  }
  test("daily_summary.csv matches golden (10 rows)") { compare("daily_summary.csv") }
  test("products_updated.csv matches golden (closing stock, exact)") {
    compare("products_updated.csv")
  }
  test("sales_profit_forecast.csv exists with next-day spine") {
    val (h, rows) = readCsv(s"$outDir/sales_profit_forecast.csv")
    assert(h.toSeq == Seq("date", "forecasted_sales", "forecasted_profit"))
    assert(rows.size == 1 && rows.head(0) == "2024-02-11")
  }
}
