package graft.streaming

import graft.SparkSpec
import graft.io.GlobRead
import graft.operators.{Dedup, LanguageModel}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming curation: gate verdicts per micro-batch, dedup scopes
  * across batch boundaries, audit trail per batch. */
class IngestCurationSpec extends SparkSpec {

  import spark.implicits._

  private def text(tag: String): String =
    (1 to 40).map(i => s"$tag$i").mkString(" ")

  test("gates + three dedup scopes hold across micro-batches, audit records each verdict") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_cur").toString

    // trusted slice repeated 10× → in-domain bigrams cheap (~2.1 nll),
    // off-domain unseen-context bigrams cost ln|V| ≈ ln 117 ≈ 4.76
    val ref = (Seq.fill(10)(text("a")) ++ Seq.fill(10)(text("c"))
      ++ Seq.fill(10)(text("e"))).toDF("text")
    val lm = LanguageModel.bigramLm(ref, col("text"))
    val corpus = Seq((100L, text("e"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)

    val spam = (1 to 20).map(_ => "x y").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = IngestCuration.curatedIngest(
      input.toDF().toDF("doc_id", "text"), index, lm, dir, maxAvgNll = 3.3)
    try {
      input.addData(
        (10L, text("a")), // in-domain, novel → kept
        (11L, spam),      // saturated top-2-gram → repetition
        (12L, text("q"))) // off-domain → lm
      q.processAllAvailable()
      input.addData(
        (20L, text("a")), // exact dup of batch-1 survivor → duplicate
        (21L, text("e")), // in-domain settled-corpus dup → duplicate
        (22L, text("c"))) // in-domain, novel → kept
      q.processAllAvailable()
    } finally q.stop()

    val accepted = GlobRead.parquet(spark, s"$dir/accepted/batch_*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(10L, 22L))

    val audit = GlobRead.parquet(spark, s"$dir/audit/batch_*")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(audit == Map(
      10L -> "kept", 11L -> "repetition", 12L -> "lm",
      20L -> "duplicate", 21L -> "duplicate", 22L -> "kept"))
  }

  test("settling every batch: batch 2 dedups against corpus, frontier and tail together") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_cur_post_settle").toString

    val ref = Seq("a", "c", "e", "g").flatMap(t => Seq.fill(10)(text(t))).toDF("text")
    val lm = LanguageModel.bigramLm(ref, col("text"))
    val corpus = Seq((100L, text("e"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)

    val input = MemoryStream[(Long, String)]
    val q = IngestCuration.curatedIngest(
      input.toDF().toDF("doc_id", "text"), index, lm, dir, maxAvgNll = 3.3,
      settleEvery = 1)
    try {
      input.addData((1L, text("a")))
      q.processAllAvailable() // batch 0
      input.addData((2L, text("c")))
      q.processAllAvailable() // batch 1: settles 0 → frontier_0, tail = batch_1
      input.addData(
        (10L, text("e")),                       // dup of the settled CORPUS
        (11L, text("a").replace("a40", "qq")),  // near dup of the FRONTIER doc
        (12L, text("c")),                       // exact dup of the TAIL delta
        (13L, text("g")))                       // in-domain, novel → kept
      q.processAllAvailable() // batch 2: all three scopes at once
    } finally q.stop()

    val accepted = Frontier.readLayered(spark, s"$dir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(1L, 2L, 13L), s"accepted: $accepted")
    val audit = spark.read.parquet(s"$dir/audit/batch_2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(audit == Map(
      10L -> "duplicate", 11L -> "duplicate", 12L -> "duplicate", 13L -> "kept"))
    IngestDedupSpec.assertNoFrontierIndex(spark, s"$dir/accepted")
  }
}
