package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

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
  * a single `Dedup.incrementalIndexed` call, which builds the batch
  * side as one projection, probes each scope on its own layout and
  * drops every scope's losers in one anti-join (the same survivors as
  * chaining a call per scope — see its scaladoc — without the
  * multiplied batch subplans). Scope (a) is the persisted corpus
  * index, read in full by each probe but never re-indexed. Each
  * survivor is written with its index columns (`content_md5`, `sh`,
  * `bands`), so scope (c) is plain projections of the stream's own
  * output ([[acceptedScope]]): no kernel runs over an accepted
  * document again, and a batch's kernel work is O(batch). Every
  * `settleEvery` batches the accepted deltas fold into one compacted
  * `frontier_<m>` dir, on a pool thread beside the next batch's probe
  * ([[Frontier.settling]]), so that read opens O(settleEvery) sources
  * however long the stream has run. Consumers read the accepted
  * corpus via [[Frontier.readLayered]], which hides the index columns.
  */
object IngestDedup {

  def dedupedIngest(docs: DataFrame, index: Dedup.CorpusIndex,
                    survivorDir: String, n: Int = 3,
                    threshold: Double = 0.3,
                    settleEvery: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch(Frontier.settling(settleEvery,
          Frontier.Settle(survivorDir, Seq("doc_id"))) { (batch, batchId) =>
        val spark = batch.sparkSession
        val text = col("text")
        val id = col("doc_id")
        // scope (c) is earlier survivors only: the CURRENT batch id is
        // excluded, since an at-least-once retry must not dedup the
        // batch against its own partial output (see Frontier.scopePaths)
        Dedup.incrementalIndexed(
            index +: acceptedScope(spark, survivorDir, batchId, batch.schema, id).toSeq,
            batch.toDF(), text, id, n, threshold)
          .write.mode("overwrite").parquet(s"$survivorDir/batch_$batchId")
      })
      .outputMode(OutputMode.Append())
      .start()

  /** Scope (c) for batch `batchId`: everything the stream under `dir`
    * accepted before it (settled frontier plus tail deltas, the current
    * batch excluded — [[Frontier.scopePaths]]), written as `docs` rows
    * plus their index columns and read as projections of those
    * ([[Dedup.storedIndex]]). The read names its schema, so no
    * schema-inference job runs. A row written before its stream stored
    * index columns reads them as null and fails the probe loudly.
    * None before anything has landed. */
  private[streaming] def acceptedScope(spark: SparkSession, dir: String, batchId: Long,
                                       docs: StructType, id: Column): Option[Dedup.CorpusIndex] =
    Frontier.scopePaths(spark, dir, batchId).map(paths =>
      Dedup.storedIndex(
        spark.read.schema(StructType(
            docs.filterNot(f => Dedup.indexColumns.contains(f.name)) ++ Dedup.indexSchema))
          .parquet(paths: _*),
        id))
}
