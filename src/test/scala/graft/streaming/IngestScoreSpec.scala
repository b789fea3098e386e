package graft.streaming

import graft.SparkSpec
import graft.io.GlobRead
import graft.operators.Dsir
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming DSIR scoring: micro-batches scored against the frozen
  * stored model must equal batch scoring of the concatenation, and
  * earlier fragments stay immutable under later batches. */
class IngestScoreSpec extends SparkSpec {

  import spark.implicits._

  private def fitPool = Seq(
    (0L, "alpha beta gamma alpha beta", true),
    (1L, "beta gamma alpha beta gamma", true),
    (2L, "zork quux blarg frobnitz zork", false)
  ).toDF("doc_id", "text", "is_target")

  test("stream scoring == batch scoring under the frozen model; fragments immutable") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("dsir_stream").toString
    Dsir.ensureModel(spark, root, "stream_spec") {
      Dsir.ratios(Dsir.gramBag(fitPool, col("text"), col("doc_id"),
        col("is_target")))
    }

    val b1 = Seq((10L, "alpha beta gamma"), (11L, "quux zork quux"))
    val b2 = Seq((12L, "beta gamma beta"), (13L, "never seen words here"))
    val dir = s"$root/scores"

    val input = MemoryStream[(Long, String)]
    val q = IngestScore.scoredIngest(
      input.toDF().toDF("doc_id", "text"), "stream_spec", dir)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      val frag0 = spark.read.parquet(s"$dir/batch_0")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      input.addData(b2: _*); q.processAllAvailable()
      val frag0Again = spark.read.parquet(s"$dir/batch_0")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(frag0Again == frag0 && frag0.size == 2,
        "batch-0's fragment is immutable under later batches")
    } finally q.stop()

    val streamed = GlobRead.parquet(spark, s"$dir/batch_*")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Dsir.weightsPersisted(spark, "stream_spec",
        (b1 ++ b2).toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      "per-batch scoring under a frozen model composes to the batch result")
    assert(streamed.keySet == Set(10L, 11L, 12L, 13L),
      "every document keeps a weight row, including the all-unseen one")
  }
}
