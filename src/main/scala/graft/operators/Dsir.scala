package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.tokenHash
import graft.plans.GraftFunctions

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw-pool document by how much its
  * hashed n-gram distribution looks like a small target corpus, then
  * keep the top of the pool. This is the pretraining-data selector
  * that sits between raw crawl and the quality gates: the reference
  * pipeline has no counterpart (its corpus is trusted retail feeds);
  * at 100 TB the selector IS the budget decision.
  *
  * Model: unigram+bigram bag-of-words hashed into [[buckets]] cells
  * (the paper's hashed n-gram features). Target distribution p and
  * raw distribution q are add-one-smoothed bucket frequencies; a
  * document's importance weight is Σ_b cnt_b·(ln p_b − ln q_b) — its
  * log-likelihood ratio under the two bag models.
  *
  * Determinism: the per-bucket log-ratio is rounded to integer
  * MICRO-nats first, so every document weight is an exact integer
  * sum — partial-aggregation- and order-invariant, bit-replayable in
  * DuckDB (same trick as BM25 / the entropy kernel).
  *
  * Scale shape (the [[graft.plans.DsirKernels]] form): fitting is ONE
  * bounded-state aggregate pass — `graft_dsir_counts` folds every
  * document's gram stream into a flat `long[2B]` per task (≈64 KB at
  * B=4096), map-side combined, merged by element-wise add; shuffle
  * volume is #tasks × 64 KB, corpus-size-independent. Scoring is ONE
  * codegen'd projection pass — `graft_dsir_score` sums the fitted
  * B-long model (riding as a ~32 KB plan literal, the BloomSemiJoin
  * bounded-artifact pattern) over each document's gram stream in
  * place; it shuffles NOTHING. No gram explode, no staged bag, no
  * model join anywhere on the production path. The earlier exploded
  * shape (2·tokens rows per document, hash-aggregated, DISK_ONLY
  * staged, shuffled twice) is retained below ONLY as the specs'
  * independent reference ([[gramBag]]/[[ratios]]/[[weightsExploded]],
  * the Winnow interpreted-kernel precedent); its staging contract
  * retired with it. Selection is orderBy(...).limit(k) — Spark's
  * TakeOrdered, O(k) state per partition, never a global sort.
  */
object Dsir {

  /** Hashed feature space (buckets for unigram+bigram grams). 2^12
    * keeps the fitted model a ~32 KB artifact while leaving bucket
    * collisions rare at the test vocabulary; production would raise
    * it (the paper uses 10^4) — every stage below is bucket-count
    * agnostic, and the fit buffer stays `long[2B]` per task. */
  val buckets = 4096

  // ---------------------------------------------------------------
  // Reference implementation (spec oracle only — see scaladoc above).
  // ---------------------------------------------------------------

  /** Unigram + bigram stream of a document (single-space token
    * convention). Guarded: Spark's sequence(1, n) DESCENDS for n<1,
    * so single-token docs must short-circuit to an empty bigram
    * list. Reference form — production grams never exist as rows. */
  private def gramsCol(text: Column): Column = {
    val toks = split(text, " ")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** (doc_id, is_target, bucket, cnt): the hashed gram bag —
    * REFERENCE implementation for the specs' kernel-equality law;
    * the production fit ([[bucketCounts]]) never materializes gram
    * rows. */
  def gramBag(pool: DataFrame, text: Column, id: Column, isTarget: Column): DataFrame =
    pool.select(id.as("doc_id"), isTarget.as("is_target"),
        explode(gramsCol(text)).as("gram"))
      .select(col("doc_id"), col("is_target"),
        pmod(tokenHash(col("gram")), lit(buckets.toLong)).as("bucket"))
      .groupBy("doc_id", "is_target", "bucket").agg(count(lit(1)).as("cnt"))

  /** Bucket model from an exploded bag — reference twin of
    * [[ratiosFromCounts]] (identical column algebra over the same
    * (bucket, rn, tn) triples, so the two fits are bit-equal when the
    * counts are; DsirSpec asserts both links). */
  def ratios(bag: DataFrame): DataFrame = {
    val spark = bag.sparkSession
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    val rb = bag.groupBy("bucket").agg(
      sum(col("cnt")).as("rn"),
      sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("tn"))
    ratiosFromCounts(spine.join(rb, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("rn"), lit(0L)).as("rn"),
        coalesce(col("tn"), lit(0L)).as("tn")))
  }

  /** Exploded-bag weights — the specs' independent reference for the
    * kernel path ([[weights]]): one gram explode, the bag feeding the
    * model aggs and a broadcast scoring join. Spec-scale only (no
    * staging boundary: the bag recomputes, which a 4-row spec corpus
    * does not notice; production runs the single-pass kernels). */
  def weightsExploded(pool: DataFrame, text: Column, id: Column,
                      isTarget: Column): DataFrame = {
    val bag = gramBag(pool, text, id, isTarget)
    bag.join(broadcast(ratios(bag)), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("llr_micro")).as("weight_micro"))
  }

  // ---------------------------------------------------------------
  // Production path: the single-pass kernels.
  // ---------------------------------------------------------------

  /** (bucket, rn, tn) for every bucket 0..B−1 in ONE bounded-state
    * aggregate pass (`graft_dsir_counts`): each task folds its
    * documents' gram streams into a flat `long[2B]`, partials are
    * map-side combined and merged by element-wise add. The full-spine
    * B-row result is this frame — buckets no gram touched carry
    * honest zeros, so the model keeps its smoothed default for them.
    * Null-text rows contribute nothing (the exploded form's explode
    * drops them; the kernel skips them — DsirSpec pins the parity). */
  def bucketCounts(pool: DataFrame, text: Column, isTarget: Column): DataFrame = {
    pool.select(text.as("__t"), isTarget.as("__tgt"))
      .agg(GraftFunctions.dsirCounts(col("__t"), col("__tgt"), buckets).as("c"))
      .select(posexplode(col("c")))
      .select(col("pos").cast("long").as("bucket"),
        col("col.rn").as("rn"), col("col.tn").as("tn"))
  }

  /** Per-bucket importance log-ratio in integer micro-nats over a
    * full-spine (bucket, rn, tn) frame:
    * round(1e6·(ln(t_b+1) − ln(T+B) − ln(r_b+1) + ln(R+B))) — add-one
    * smoothing over B = [[buckets]] cells. Exactly the column algebra
    * the exploded fit always ran (bit-parity by construction given
    * equal counts); totals summed over the full spine equal the bag
    * totals because spine-only rows add zero. Exactly B rows.
    *
    * The counts frame is COLLECTED and re-localized first: the ratio
    * expression consumes it twice (the totals aggregate and the
    * per-bucket projection), and two plan branches over the same
    * corpus-sized aggregate would each re-execute it — Spark reuses
    * exchanges, not arbitrary common subtrees. Counts are exactly B
    * rows whatever the corpus, so the collect is a bounded-artifact
    * hop, and the fit pays its corpus scan exactly ONCE. */
  def ratiosFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    val localRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    counts.collect().foreach(localRows.add)
    val local = spark.createDataFrame(localRows, counts.schema)
    val tot = local.agg(sum(col("rn")).as("rtot"), sum(col("tn")).as("ttot"))
    local.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round((log(col("tn") + 1) - log(col("ttot") + buckets)
          - log(col("rn") + 1) + log(col("rtot") + buckets)) * 1e6)
          .cast("long").as("llr_micro"))
  }

  /** Collect a full-spine (bucket, llr_micro) model into the flat
    * `long[B]` the scoring kernel indexes. A fitted model is exactly
    * B broadcast-tiny rows by construction ([[ratiosFromCounts]] /
    * the persisted table [[ensureModel]] writes); anything else is a
    * corrupted artifact, failed loudly. */
  private def llrArrayOf(model: DataFrame): Array[Long] = {
    val llr = new Array[Long](buckets)
    val seen = new Array[Boolean](buckets)
    model.select(col("bucket").cast("long"), col("llr_micro").cast("long"))
      .collect().foreach { r =>
        val b = r.getLong(0).toInt
        llr(b) = r.getLong(1); seen(b) = true
      }
    require(seen.forall(identity),
      s"DSIR model is not the full $buckets-bucket spine " +
        s"(missing ${seen.count(!_)} buckets) — refit or re-save it")
    llr
  }

  /** (doc_id, weight_micro) against an in-hand `long[B]` model: ONE
    * shuffle-free codegen'd projection pass (`graft_dsir_score`) over
    * the pool scan — the model rides as a ~32 KB plan literal. The
    * null-text filter mirrors the exploded form exactly: a null text
    * produced no gram rows there, hence no weight row. */
  def scoreAgainst(llr: Array[Long], pool: DataFrame, text: Column,
                   id: Column): DataFrame = {
    pool.where(text.isNotNull)
      .select(id.as("doc_id"),
        GraftFunctions.dsirScore(text, llr).as("weight_micro"))
  }

  /** (doc_id, weight_micro): exact-integer importance weight of every
    * pool document under the pool's own target/raw split. The model
    * is fit on the SAME pool it scores (raw ⊇ scored is the DSIR
    * contract). Two corpus scans total — the bounded-state fit
    * aggregate (collected as B rows) and the shuffle-free scoring
    * projection; no explode, no staged bag, no model join. Weights
    * are bit-equal to [[weightsExploded]] (kernel gram walk ≡ the
    * exploded gram rows — DsirSpec's equality law) and to the DuckDB
    * oracle replay. */
  def weights(pool: DataFrame, text: Column, id: Column, isTarget: Column): DataFrame = {
    val llr = llrArrayOf(ratiosFromCounts(bucketCounts(pool, text, isTarget)))
    scoreAgainst(llr, pool, text, id)
  }

  /** Scoring against an EXPLICIT bucket model frame: collect the
    * B-row model once, then the single projection pass — the serving
    * half of the selector, usable against any full-spine
    * (bucket, llr_micro) frame however it was fit. A batch document
    * made entirely of unseen grams is scored by the model's own
    * smoothed default (the spine carries it), and every non-null-text
    * document keeps a weight row. */
  def weightsAgainst(model: DataFrame, pool: DataFrame, text: Column,
                     id: Column): DataFrame =
    scoreAgainst(llrArrayOf(model.select(col("bucket"), col("llr_micro"))),
      pool, text, id)

  private def modelTable(tag: String): String = s"dsir_model_$tag"

  /** Idempotent materialization ([[Bucketing.buildOnce]]): the first
    * call fits and writes, later calls reuse the artifact. The B-row
    * table IS the selector artifact (train-once/serve-many, the same
    * contract as the BPE vocab and IVFADC codebooks); the frame is
    * broadcast-sized, so it is one plain file, no bucketing. */
  def ensureModel(spark: org.apache.spark.sql.SparkSession, root: String,
                  tag: String)(build: => DataFrame): Unit =
    Bucketing.buildOnce(spark, root,
      Seq(Bucketing.Table(modelTable(tag), "model")))(Seq(build))

  /** Score a pool against the STORED model: zero fitting jobs, zero
    * target-corpus access — the serving posture for scoring fresh
    * crawl batches against a selector fit once on the trusted set.
    * Serving cost is one B-row table read + the projection pass. */
  def weightsPersisted(spark: org.apache.spark.sql.SparkSession, tag: String,
                       pool: DataFrame, text: Column, id: Column): DataFrame =
    weightsAgainst(spark.table(modelTable(tag)), pool, text, id)

  /** Top-k most-target-like pool documents (weight desc, doc_id asc).
    * The rank window runs AFTER the TakeOrdered limit, on k rows —
    * never a corpus-wide single-partition sort. */
  def selectTopK(pool: DataFrame, text: Column, id: Column, isTarget: Column,
                 k: Int): DataFrame =
    weights(pool, text, id, isTarget)
      .orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(k)
      .withColumn("rk",
        row_number().over(
          Window.orderBy(col("weight_micro").desc, col("doc_id"))))
      .select(col("rk").cast("long").as("rk"), col("doc_id"), col("weight_micro"))
}
