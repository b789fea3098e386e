package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.Dedup

/** Continuous-ingestion dedup: the streaming composition of the
  * incremental operators (SURVEY §2.9 capability growth — the
  * reference's per-day reload loop, made a stream).
  *
  * Every micro-batch of documents is dedup'd against three scopes:
  * (a) the SETTLED corpus index — an immutable artifact of the
  * previous pipeline run (Dedup.ensurePersistedIndex's bucketed
  * tables at scale); (b) itself (min doc_id wins); and (c) everything
  * this stream has already accepted, so a later batch cannot re-admit
  * a duplicate of an earlier batch's survivor. Survivors land under
  * `survivorDir/batch_<id>` with per-batch overwrite, which makes
  * foreachBatch's at-least-once retries idempotent — the delta state
  * IS the sink, no side ledger to reconcile.
  *
  * Scale shape: scopes (a) and (c) are one flat scope list handed to
  * a single `Dedup.incremental` call, which builds the batch-side
  * frames once, probes each scope on its own layout and drops every
  * scope's losers in one anti-join (the same survivors as chaining a
  * call per scope — see its scaladoc — without the multiplied batch
  * subplans). Scope (a) is the persisted corpus index, read in full by
  * each probe but never re-indexed; scope (c) is indexed in the probe
  * plan from the stream's own output ([[acceptedScope]]), so each
  * batch re-runs the shingle and MinHash kernels over everything the
  * stream has accepted. Every `settleEvery` batches the accepted
  * deltas fold into one compacted `frontier_<m>` dir, so that read
  * opens O(settleEvery) sources however long the stream has run.
  * Consumers read the accepted corpus via [[Frontier.readLayered]].
  */
object IngestDedup {

  def dedupedIngest(docs: DataFrame, index: Dedup.CorpusIndex,
                    survivorDir: String, n: Int = 3,
                    threshold: Double = 0.3,
                    settleEvery: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val text = col("text")
        val id = col("doc_id")
        // scope (c) is earlier survivors only: the CURRENT batch id is
        // excluded, since an at-least-once retry must not dedup the
        // batch against its own partial output (see Frontier.scopePaths)
        val out = Dedup.incremental(
          index +: acceptedScope(spark, survivorDir, batchId, text, id, n).toSeq,
          batch.toDF(), text, id, n, threshold)
        out.write.mode("overwrite").parquet(s"$survivorDir/batch_$batchId")
        Frontier.maybeSettle(spark, survivorDir, batchId,
          Seq("doc_id"), settleEvery)
        ()
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Scope (c) for batch `batchId`: everything the stream under `dir`
    * accepted before it (settled frontier plus tail deltas, the current
    * batch excluded — [[Frontier.scopePaths]]), indexed in the
    * probe plan. None before anything has landed. */
  private[streaming] def acceptedScope(spark: SparkSession, dir: String, batchId: Long,
                                       text: Column, id: Column,
                                       n: Int): Option[Dedup.CorpusIndex] =
    Frontier.scopePaths(spark, dir, batchId).map(paths =>
      Dedup.indexCorpus(spark.read.parquet(paths: _*), text, id, n))
}
