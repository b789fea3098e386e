package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (`Aggregator` — SURVEY §2.10): the reference has
  * no custom aggregates, but a grouped metric is the natural shape for
  * its driver-side forecast-error math, so the engine carries one
  * first-class example. Aggregators run as real Catalyst aggregates:
  * partial (map-side) buffers, merge on the reducer, codegen'd
  * buffer encoders — unlike a collect-then-fold they never move raw
  * rows.
  *
  * Numeric contract: the buffer is EXACT integer arithmetic (money in
  * cents × integer weight), so the partial/merge order that differs
  * run-to-run on a cluster can never change the result — the
  * float division happens once, in `finish`.
  *
  * Each aggregator prints its content (`toString`), not an object
  * identity, so an optimized plan that carries one prints the same
  * text in every JVM.
  */
object Aggregators {

  /** Weighted mean of a cents-valued measure: buffer = (Σ cents·w, Σ w). */
  object WeightedMeanCents extends Aggregator[(Long, Long), (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: (Long, Long)): (Long, Long) =
      (b._1 + a._1 * a._2, b._2 + a._2)
    override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (Long, Long)): Double =
      if (r._2 == 0L) Double.NaN else r._1.toDouble / (100.0 * r._2)
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    override def toString: String = "WeightedMeanCents"
  }

  /** Top-k per group as a PARTIAL-AGGREGATING bounded buffer — the
    * scale alternative to `rank().over(window)` for per-key top-k:
    * a window sorts EVERY row of every partition (full exchange +
    * per-key sort of the whole key's data), while this aggregate
    * carries at most k (value, id) pairs per key through map-side
    * combine and merge — per-key state is O(k) no matter how deep the
    * key's history is, and the pre-shuffle combine collapses each
    * map task's rows to k before anything moves.
    *
    * Ordering: (value DESC, id ASC) — row_number semantics, exact and
    * deterministic (ties broken by id), so the DuckDB oracle replays
    * it with a row_number window. Values are exact integer (cents) —
    * no float comparison ambiguity across merge orders. */
  class TopKByValue(k: Int)
      extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
    private def ord: Ordering[(Long, Long)] = Ordering.by(p => (-p._1, p._2))
    override def zero: Seq[(Long, Long)] = Nil
    override def reduce(b: Seq[(Long, Long)], a: (Long, Long)): Seq[(Long, Long)] = {
      // Buffers stay sorted, so a full buffer rejects a losing row by
      // comparing against its worst element alone — the O(1) path
      // almost every row takes once the buffer fills (expected inserts
      // per key ≈ k·ln(n/k)). Only genuine top-k contenders pay the
      // O(k) re-sort.
      // primitive compare on the hot path — Ordering.by would box both
      // longs and allocate a tuple per comparison, 15M+ times
      val last = if (b.isEmpty) null else b.last
      if (last != null && b.lengthCompare(k) >= 0 &&
          (a._1 < last._1 || (a._1 == last._1 && a._2 >= last._2))) b
      else {
        val merged = (a +: b).sorted(ord)
        if (merged.lengthCompare(k) > 0) merged.take(k) else merged
      }
    }
    override def merge(x: Seq[(Long, Long)], y: Seq[(Long, Long)]): Seq[(Long, Long)] =
      (x ++ y).sorted(ord).take(k)
    override def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = r.sorted(ord)
    override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
    override def outputEncoder: Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
    override def toString: String = s"TopKByValue($k)"
  }
}
