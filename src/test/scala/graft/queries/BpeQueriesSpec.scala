package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.operators.Bpe
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** The tx_bpe_* queries share one trained tokenizer through its
  * persisted tables, so the model outlives the `releaseStaged` consume
  * boundary that frees every staged frame between queries: a query run
  * after the boundary still answers, equals a freshly trained model's
  * view, and does not retrain. */
class BpeQueriesSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("bpe_queries").toString
    Seq(
      (1L, "low lower lowest low"),
      (2L, "new newer newest new lower"),
      (3L, "low new low new"),
      (4L, "wide wider widest new"),
      (5L, "lower newer wider low"),
      (6L, "newest lowest widest"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  /** `f`'s result, and the number of Spark jobs building its frame fired. */
  private def built(f: => DataFrame): (DataFrame, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      val d = f
      ListenerBusDrain.drain(spark.sparkContext)
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    (df, jobs.get())
  }

  test("the BPE model survives a consume boundary and is not retrained") {
    val vocab = rows(DataOps.txBpeVocab(spark, dir))
    GraftBridge.releaseStaged()

    val (encode, encodeJobs) = built(DataOps.txBpeEncode(spark, dir))
    val (coverage, coverageJobs) = built(DataOps.txBpeCoverage(spark, dir))
    assert(encodeJobs == 0 && coverageJobs == 0,
      s"building after the boundary fired jobs: encode $encodeJobs, coverage $coverageJobs")
    Seq(encode, coverage).foreach { df =>
      assert(!df.queryExecution.executedPlan.toString.contains("Window"),
        "a served query re-ran the training loop")
    }
    val gotEncode = rows(encode)
    val gotCoverage = rows(coverage)

    val docs = DataOps.docs(spark, dir)
    val fresh = Bpe.train(docs, col("text"), DataOps.bpeMerges)
    assert(vocab.nonEmpty && vocab == rows(Bpe.vocabOf(fresh)))
    assert(gotEncode.nonEmpty &&
      gotEncode == rows(Bpe.encodeDocsWith(fresh, docs, col("doc_id"), col("text"))))
    assert(gotCoverage == rows(Bpe.coverage(Bpe.vocabOf(fresh),
      DataOps.bpeDriftBatch(spark, dir), col("text"))))
  }
}
