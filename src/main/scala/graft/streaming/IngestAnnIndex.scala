package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.Similarity

/** Continuous ANN-index maintenance: the streaming half of the
  * persisted sign-LSH serving index (Similarity.annIndexFrame /
  * lshAnnProbe).
  *
  * Each micro-batch of vectors computes its own index rows — bucket
  * key + rerank norm are PURE per-row functions of the embedding, so
  * a batch's index fragment needs no corpus access, no shuffle, and
  * no coordination with other batches — and lands under
  * `indexDir/batch_<id>` with per-batch overwrite (at-least-once
  * retries rewrite the same bytes; the delta state IS the sink, the
  * same idempotence contract as IngestDedup / IngestPack).
  *
  * Serving unions the SETTLED base index (the bucketed table a
  * nightly build writes via Bucketing.buildOnce) with this run's
  * delta fragments: probes answer from base+delta immediately, and
  * the nightly rebuild folds the delta back into the bucketed base —
  * the standard base+delta index posture. A probe still pays
  * |queries| hyperplane math; the delta fragments are small and
  * bucket-filtered on read, so freshness never costs a corpus scan.
  */
object IngestAnnIndex {

  /** Start the maintenance stream: vectors (vec_id, embedding) →
    * per-batch index fragments under `indexDir/batch_<id>`, with the
    * fragments periodically folded into one compacted frontier
    * ([[Frontier.settling]]) so a long-running stream's serving
    * read opens O(settleEvery) dirs, not one per batch ever written —
    * and the nightly base rebuild folds ONE compacted delta, not a
    * pile of small files. */
  def indexedIngest(vectors: DataFrame, indexDir: String,
                    nPlanes: Int = Similarity.lshPlanes,
                    settleEvery: Int = 16): StreamingQuery =
    vectors.writeStream
      .foreachBatch(Frontier.settling(settleEvery,
          Frontier.Settle(indexDir, Seq("vec_id"))) { (batch, batchId) =>
        Similarity.annIndexFrame(batch.toDF(), nPlanes)
          .write.mode("overwrite").parquet(s"$indexDir/batch_$batchId")
      })
      .outputMode(OutputMode.Append())
      .start()

  /** The queryable index: settled base ∪ this run's delta fragments
    * (frontier + live batch dirs). Nothing landed yet ⇒ base only. */
  def servingIndex(spark: SparkSession, base: Option[DataFrame],
                   indexDir: String): DataFrame = {
    val delta = scala.util.Try(Frontier.readLayered(spark, indexDir)).toOption
    (base, delta) match {
      case (Some(b), Some(d)) => b.unionByName(d)
      case (Some(b), None)    => b
      case (None, Some(d))    => d
      case (None, None) =>
        throw new IllegalStateException(s"no index at $indexDir and no base")
    }
  }
}
