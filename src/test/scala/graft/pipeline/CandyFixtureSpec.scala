package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.io.CsvSource

/** The committed fixture keeps the edge cases FIXTURES.md §A requires
  * of a dataset_15-shaped input, so the specs that run on it still
  * meet them. */
class CandyFixtureSpec extends SparkSpec {
  import CandyGoldenSpec.readCsv

  private val dir = CandyData.fixtureDir
  private val expected = CandyData.expectedDir

  /** Day → transactions, each transaction its items' `qty` (None = null). */
  private lazy val days: Map[String, Seq[Seq[Option[Int]]]] = {
    val mapper = new ObjectMapper()
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .collect { case n @ s"transactions_$day.json" =>
        val txs = mapper.readTree(Paths.get(dir, n).toFile).elements().asScala.toSeq
        day -> txs.map(_.get("items").elements().asScala.toSeq.map { item =>
          val q = item.get("qty")
          if (q == null || q.isNull) None else Some(q.asInt)
        })
      }.toMap
  }

  test("36 products and 30 customers") {
    assert(readCsv(s"$dir/products.csv")._2.size == 36)
    assert(readCsv(s"$dir/customers.csv")._2.size == 30)
  }

  test("exactly the 10 day files 20240201..20240210") {
    assert(days.keys.toSeq.sorted == (1 to 10).map(d => f"202402$d%02d"))
  }

  test("null-qty items and all-null transactions occur") {
    val txs = days.values.flatten.toSeq
    assert(txs.exists(_.contains(None)))
    assert(txs.exists(items => items.nonEmpty && items.forall(_.isEmpty)))
  }

  test("day sizes are skewed: busiest day ≥ 8× the quietest") {
    val sizes = days.values.map(_.size)
    assert(sizes.max >= 8 * sizes.min, s"day sizes: ${days.view.mapValues(_.size).toMap}")
  }

  test("demand exceeds stock: some expected line is cancelled (quantity 0)") {
    val (h, rows) = readCsv(s"$expected/order_line_items.csv")
    val q = h.indexOf("quantity")
    assert(rows.exists(_(q) == "0"))
  }

  test("the expected daily summary has 10 rows") {
    assert(readCsv(s"$expected/daily_summary.csv")._2.size == 10)
  }

  test("a customer address contains a comma") {
    val addresses = CsvSource(s"$dir/customers.csv", Model.customerSchema).load(spark)
      .select("address").collect().map(_.getString(0))
    assert(addresses.length == 30 && addresses.exists(_.contains(",")))
  }
}
