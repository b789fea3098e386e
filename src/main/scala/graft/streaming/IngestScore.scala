package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.Dsir

/** Continuous DSIR scoring: the streaming half of the persisted
  * importance-resampling selector (Dsir.ensureModel /
  * weightsPersisted).
  *
  * The bucket model is fit ONCE on the trusted target/raw corpora and
  * persisted (the ≤-4096-row spine table); each arriving micro-batch
  * of crawl documents is scored against that STORED model — one gram
  * pass over the batch, a broadcast model join, a batch-keyed sum —
  * and its weights land under `scoreDir/batch_<id>` with per-batch
  * overwrite (at-least-once retries rewrite the same bytes; the same
  * idempotence contract as the other Ingest* sinks). No batch ever
  * touches the fitting corpora, so scoring throughput is a function
  * of batch size alone — the selector serves at ingestion speed
  * however large the corpus that fit it.
  *
  * Downstream, a selection job thresholds/top-ks the accumulated
  * weight fragments; because every weight is an exact integer under
  * the frozen model, re-scoring a replayed batch can never flip a
  * verdict (the determinism contract the batch operator proves). */
object IngestScore {

  /** Start the scoring stream: documents (doc_id, text) → per-batch
    * (doc_id, weight_micro) fragments under `scoreDir/batch_<id>`,
    * scored against the stored model `tag`. Fragments fold into one
    * compacted frontier every `settleEvery` batches
    * ([[Frontier.settling]]) so the downstream selection job reads
    * O(settleEvery) dirs via [[Frontier.readLayered]], not one per
    * batch ever written. */
  def scoredIngest(docs: DataFrame, tag: String, scoreDir: String,
                   settleEvery: Int = 16): StreamingQuery = {
    docs.writeStream
      .foreachBatch(Frontier.settling(settleEvery,
          Frontier.Settle(scoreDir, Seq("doc_id"))) { (batch, batchId) =>
        Dsir.weightsPersisted(batch.sparkSession, tag, batch.toDF(),
            col("text"), col("doc_id"))
          .write.mode("overwrite").parquet(s"$scoreDir/batch_$batchId")
      })
      .outputMode(OutputMode.Append())
      .start()
  }
}
