package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation composite: the filter→dedup chain
  * every production training-data pipeline runs (C4, CCNet,
  * MassiveText, RefinedWeb all share this skeleton), with per-document
  * drop accounting. The reference pipeline has no counterpart — this
  * is pure beyond-reference capability, built entirely from the
  * engine's own operators:
  *
  *   1. repetition gate — [[TextAnalysis.repetitionSignals]]
  *      (Gopher top-2-gram / duplicated-5-gram fractions);
  *   2. LM perplexity gate — [[LanguageModel]] average NLL under a
  *      bigram model trained on the trusted slice (CCNet policy);
  *   3. dedup — [[Dedup.dedupedCorpus]] (exact min-id + LSH-verified
  *      near-dup suppression) over the docs that SURVIVED 1–2.
  *
  * Stages are ordered cheap→expensive on purpose: both gates are
  * projections + doc-keyed aggregations, so the MinHash/LSH subtree —
  * the only stage with cross-document joins — runs on the smallest
  * possible corpus. That ordering is also semantics: a document
  * suppressed as boilerplate never competes in dedup, so a spam
  * cluster can't crowd out the one clean copy of its text held by a
  * quality-passing page.
  *
  * The verdict column reports the FIRST failing stage
  * (`repetition` | `lm` | `duplicate` | `kept`) for every input
  * document — the audit frame a curation run ships next to its output
  * corpus so per-source loss rates are explainable. Every join in the
  * assembly is doc_id-keyed; nothing leaves the executors.
  */
object Curation {

  def audit(docs: DataFrame, text: Column, id: Column, lmRef: DataFrame,
            n: Int, jaccardThreshold: Double,
            maxTop2: Double, maxDup5: Double, maxAvgNll: Double): DataFrame = {
    // repetition gate INLINE (r22): the signals are within-document
    // statistics, computed by the same compiled pass repetitionSignals
    // rides (graft.plans.RepetitionStats) — so the gate is a projection
    // on the corpus scan, not a join against a separately aggregated
    // frame (the r21 shape paid two corpus-wide explode+agg chains plus
    // a doc_id join to reattach them; guide §2.4). The frac expressions
    // are repetitionSignals' own (same rounding), so the gate decision
    // is bit-identical.
    val frac = (field: String) =>
      round(element_at(col(s"__st.$field"), 1).cast("double")
        / col("__st.total_chars"), 6)
    val gated = docs
      .select(id.as("doc_id"), text.as("__text"),
        TextAnalysis.repetitionStats(text, Seq(2), Seq(5)).as("__st"))
      .select(col("doc_id"), col("__text"),
        (frac("top") > maxTop2 || frac("dup") > maxDup5).as("rep_fail"))
    // unscorable docs (< 2 words) fail the gate: a filter that can't
    // vouch for a document does not pass it. scoreCore omits them (no
    // bigrams → no row), so the LEFT join's null avg_nll covers both
    // the unscorable and the above-threshold case — one doc_id join
    // for the whole LM gate instead of scoreDocs' join-back plus the
    // audit reattach join.
    val lmScores = LanguageModel.scoreCore(docs, text, id,
        LanguageModel.bigramLm(lmRef, text))
      .select(col("doc_id"), col("avg_nll"))
    // stage here: the gate subtree (the gate projection + the LM
    // probe joins) feeds SIX downstream scans — quality's exact
    // keepers, the signature/shingle-set/band frames inside dedup,
    // the semi/anti assembly, and the audit join. Without a stage
    // boundary every one re-scans the corpus and re-runs the gates
    // (measured: 70 parquet scans, zero exchange reuse). The staged
    // frame holds the flagged corpus once — the in-session analogue
    // of the staged-parquet boundary a production run would write
    // between filter and dedup — until the caller's consume boundary.
    val flagged = org.apache.spark.sql.GraftBridge.stageLocal(gated
      .join(lmScores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__text"), col("rep_fail"),
        (col("avg_nll").isNull || col("avg_nll") > maxAvgNll).as("lm_fail")))
    val quality = flagged.filter(!col("rep_fail") && !col("lm_fail"))
      .select(col("doc_id"), col("__text").as("text"))
    val survivors = Dedup
      .dedupedCorpus(quality, col("text"), col("doc_id"), n, jaccardThreshold)
      .select(col("doc_id"), lit(true).as("__kept"))
    flagged.join(survivors, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("rep_fail"), lit("repetition"))
          .when(col("lm_fail"), lit("lm"))
          .when(col("__kept").isNull, lit("duplicate"))
          .otherwise(lit("kept")).as("verdict"))
  }
}
