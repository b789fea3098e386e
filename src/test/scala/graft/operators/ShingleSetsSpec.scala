package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, RepartitionOperation}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** `Dedup.shingleSets`, a per-row projection, against the relational
  * shape it replaced: explode the rolling gram hashes
  * (`hashedShingles`), then regroup on doc_id with `collect_list`. The
  * sets must be bit-equal as sorted `array<long>` on generated
  * documents, documents with repeated n-grams, and documents that
  * yield no row (fewer than n tokens, null text); and the projection
  * must plan with no aggregate, generator or exchange. */
class ShingleSetsSpec extends SparkSpec {

  import spark.implicits._

  private val n = 3

  /** Read back from parquet, so the projection plans over a file scan
    * (a local relation would fold it away at optimization time). */
  private lazy val docs: DataFrame = {
    val rng = new scala.util.Random(2020)
    val vocab = Vector("a", "b", "cc", "dd", "eee", "zz", "q", "é", "日本")
    def words(k: Int) = Seq.fill(k)(vocab(rng.nextInt(vocab.size)))
    val generated = (1 to 60).map(i => i.toLong -> words(100).mkString(" "))
    val handMade = Seq(
      1001L -> "x y z x y z x y z x y",   // repeated 3-grams
      1002L -> "a a a a a a",             // one 3-gram, four times
      1003L -> "a b",                     // fewer than n tokens
      1004L -> "a b c",                   // exactly n tokens
      1005L -> null)                      // null text
    val dir = java.nio.file.Files.createTempDirectory("shingle_sets").toString
    (generated ++ handMade).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def reference(df: DataFrame): DataFrame =
    Dedup.hashedShingles(df, col("text"), col("doc_id"), n)
      .groupBy("doc_id").agg(collect_list(col("h")).as("sh"))

  private def sortedSets(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("doc_id"), array_sort(col("sh"))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("per-row shingle sets equal the explode + collect_list reference") {
    val got = sortedSets(Dedup.shingleSets(docs, col("text"), col("doc_id"), n))
    val want = sortedSets(reference(docs))
    assert(got == want)
    assert(got.size == 63, got.keys.toSeq.sorted)
    assert(got.keySet.intersect(Set(1003L, 1005L)).isEmpty, "short and null docs get no row")
    assert(got(1001L).size == 3 && got(1002L).size == 1 && got(1004L).size == 1)
    assert(got.filter(_._1 <= 60).values.forall(_.size <= 98))
  }

  test("shingle sets plan with no aggregate, generator or exchange") {
    val df = Dedup.shingleSets(docs, col("text"), col("doc_id"), n)
    val logical = df.queryExecution.optimizedPlan.collect {
      case p @ (_: Aggregate | _: Generate | _: RepartitionOperation) => p.nodeName
    }
    assert(logical.isEmpty, df.queryExecution.optimizedPlan.treeString)
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(physical.collect { case e: Exchange => e }.isEmpty, physical.treeString)
  }
}
