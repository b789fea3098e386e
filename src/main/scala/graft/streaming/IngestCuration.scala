package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.{Dedup, LanguageModel, TextAnalysis}

/** Streaming curation: the filter→dedup composite
  * ([[graft.operators.Curation]]) as a continuous-ingestion loop —
  * the batch pipeline's audit semantics, held batch-over-batch.
  *
  * Per micro-batch: the repetition and LM-perplexity gates run first
  * (stateless per-document work, so they cost nothing across batch
  * boundaries), then the survivors dedup against (a) the settled
  * corpus index, (b) themselves, and (c) every earlier batch this
  * stream accepted — the same three scopes as [[IngestDedup]]. Each
  * accepted document is written with its index columns, so scope (c)
  * is plain projections of the accepted output
  * ([[IngestDedup.acceptedScope]]) and no kernel re-runs over it.
  * Corpus and accepted scope go to ONE `Dedup.incrementalIndexed`
  * call as a flat scope list: the batch side is one projection and
  * one anti-join drops every scope's losers, with the same survivors
  * as a call per scope (see its scaladoc for why flat equals
  * chained). The accepted corpus settles on a pool thread beside the
  * next batch ([[Frontier.settling]]); consumers read it through
  * [[Frontier.readLayered]], which hides the index columns.
  * The LM rides along as its single count table (`bigramLm`'s
  * "persisting the model is persisting this one frame"), loaded once
  * outside the stream — scoring inside the batch is two equi-keyed
  * probe joins against a static frame.
  *
  * Two sinks per batch, both overwrite-by-batch-id (idempotent under
  * foreachBatch's at-least-once retries): `accepted/batch_<id>` with
  * the surviving documents, and `audit/batch_<id>` with the per-doc
  * first-failing-stage verdict — the continuously-written form of the
  * data card's drop accounting.
  */
object IngestCuration {

  def curatedIngest(docs: DataFrame, index: Dedup.CorpusIndex, lm: DataFrame,
                    outDir: String, n: Int = 3, threshold: Double = 0.3,
                    maxTop2: Double = 0.2, maxDup5: Double = 0.6,
                    maxAvgNll: Double = 3.65,
                    settleEvery: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch(Frontier.settling(settleEvery,
          // settle the ACCEPTED corpus (the per-batch probe scope); the
          // audit trail is an append-only log nothing reads per batch
          Frontier.Settle(s"$outDir/accepted", Seq("doc_id"))) { (batch, batchId) =>
        val spark = batch.sparkSession
        val text = col("text")
        val id = col("doc_id")
        val rep = TextAnalysis
          .repetitionSignals(batch.toDF(), text, id, Seq(2), Seq(5))
          .select(col("doc_id"),
            (col("top_2gram_frac") > maxTop2 || col("dup_5gram_frac") > maxDup5)
              .as("rep_fail"))
        val lmGate = LanguageModel.scoreDocs(batch.toDF(), text, id, lm)
          .select(col("doc_id"),
            (col("avg_nll").isNull || col("avg_nll") > maxAvgNll).as("lm_fail"))
        val flagged = batch.toDF().select(id.as("doc_id"), text.as("__text"))
          .join(rep, Seq("doc_id"))
          .join(lmGate, Seq("doc_id"))
        val quality = flagged.filter(!col("rep_fail") && !col("lm_fail"))
          .select(col("doc_id"), col("__text").as("text"))
        // scope (c) is earlier batches only (current id excluded —
        // replay-safe, see Frontier.scopePaths), probed with the
        // corpus in one flat call; survivors keep their index columns
        val accepted = Dedup.incrementalIndexed(
          index +: IngestDedup.acceptedScope(spark, s"$outDir/accepted", batchId,
            quality.schema, id).toSeq,
          quality, text, id, n, threshold)
        accepted.write.mode("overwrite")
          .parquet(s"$outDir/accepted/batch_$batchId")
        flagged
          .join(spark.read.schema(accepted.schema)
            .parquet(s"$outDir/accepted/batch_$batchId")
            .select(col("doc_id"), lit(true).as("__ok")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("rep_fail"), lit("repetition"))
              .when(col("lm_fail"), lit("lm"))
              .when(col("__ok").isNull, lit("duplicate"))
              .otherwise(lit("kept")).as("verdict"))
          .write.mode("overwrite").parquet(s"$outDir/audit/batch_$batchId")
      })
      .outputMode(OutputMode.Append())
      .start()
}
