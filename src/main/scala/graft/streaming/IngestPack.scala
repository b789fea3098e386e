package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.Sharding

/** Continuous shard packing: the streaming composition of
  * `Sharding.packShards`, exercising the property that makes it
  * stream-safe at all — APPEND STABILITY. A shard is a row's starting
  * token offset div budget, and every new batch only ever extends the
  * token stream, so rows packed by earlier batches keep their `(cum,
  * shard_id)` forever: each micro-batch computes its own prefix sum,
  * shifts it by the settled running total, and writes ONLY its own
  * assignment rows (`_assign/batch_<id>`, per-batch overwrite — the
  * same idempotent-retry posture as IngestDedup; the settled offset
  * is recomputed from the sink, so there is no side ledger to drift).
  *
  * Requires the orderKey to be monotone across batches (ingestion
  * sequence numbers) — enforced per batch, because a late low key
  * would claim an offset inside an already-shipped shard.
  *
  * Scale shape: per batch one two-level prefix sum over |batch| rows
  * plus a 1-row aggregate over the settled assignments (an O(#shards)
  * footer-pruned column scan at production layout); the corpus is
  * never re-scanned, and shard files older than the current batch are
  * immutable artifacts.
  */
object IngestPack {

  def packedIngest(docs: DataFrame, orderKey: String, tokens: Column,
                   shardDir: String, budget: Long,
                   blockSize: Long, settleEvery: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch(Frontier.settling(settleEvery,
          // fold settled assignment deltas — the boundary probe then
          // aggregates one compacted frontier + a short delta tail
          // instead of every batch dir ever written
          Frontier.Settle(s"$shardDir/_assign", Seq(orderKey))) { (batch, batchId) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty) {
          // earlier batches only: a retry of batch N must see the
          // boundary the FIRST attempt saw — N's own partial assign
          // would inflate the offset and trip the monotone-key
          // require against its own keys (see Frontier.scopePaths)
          val settled = Frontier.scopePaths(spark, s"$shardDir/_assign", batchId)
            .map(paths => spark.read.parquet(paths: _*))
          // 1-row boundary probe, the same legitimacy class as the
          // JDBC bounds probe: (settled token total, highest key)
          val (offset, maxKey) = settled match {
            case Some(prev) =>
              val r = prev.agg(max(col("cum")).as("c"),
                max(col(orderKey)).as("k")).collect()(0)
              (r.getLong(0), r.getLong(1))
            case None => (0L, Long.MinValue)
          }
          val lowKey = batch.agg(min(col(orderKey))).collect()(0).getLong(0)
          require(lowKey > maxKey,
            s"batch $batchId key $lowKey not beyond settled $maxKey — " +
              "orderKey must be monotone across batches")
          Sharding.packShards(batch.toDF(), orderKey, tokens,
              budget, blockSize)
            .withColumn("cum", col("cum") + offset)
            .withColumn("shard_id", expr(s"(cum - n_tokens) div $budget"))
            .write.mode("overwrite")
            .parquet(s"$shardDir/_assign/batch_$batchId")
        }
      })
      .outputMode(OutputMode.Append())
      .start()
}
