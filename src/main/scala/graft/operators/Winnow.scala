package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.tokenHash

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
  * 2003 — the MOSS local fingerprinting algorithm): from the rolling
  * stream of token k-gram hashes, keep the RIGHTMOST MINIMUM of
  * every w-hash window. The guarantee is positional: any run of w
  * consecutive grams contributes at least one fingerprint, so two
  * documents sharing a sufficiently long passage MUST share a
  * fingerprint — the local-coverage property plain MinHash (a global
  * sketch) cannot give, which is why copy/plagiarism detection
  * winnows instead of min-hashing.
  *
  * Shape at corpus scale: selection is a pure per-document column
  * expression (one `transform` of window argmins over the in-row
  * hash array — O(len·w) comparisons, no explode, no shuffle); the
  * corpus-wide frame only materializes the ~len/w SELECTED
  * fingerprints. Pair confirmation shuffles on the fingerprint key
  * with the same hot-posting cap discipline as the Jaccard family
  * (a boilerplate gram's posting list is the skew risk).
  *
  * Hash backend: the PRODUCTION default is the xxh64 rolling kernel
  * (`graft_grams`, [[graft.plans.RollingGramHash]]) — O(len) per
  * document, one compiled call filling the whole gram-hash array, no
  * per-window string rebuild and no interpreted md5 inside the
  * selection lambda (the exact shape the ExactSubstr family already
  * measured at 2.4× absolute, BASELINE.md). `oracleHash = true`
  * switches to the portable md5 token hash so the DuckDB oracle can
  * replay the selection bit-exactly (min-of-window depends on hash
  * ORDER, not just identity — a replayable order needs a replayable
  * hash); the registered oracle queries pin that backend. The
  * winnowing guarantee is hash-agnostic, and WinnowSpec asserts both
  * the coverage invariant per backend and that the two backends
  * reach the same copy-detection verdicts on planted passages. */
object Winnow {

  /** (doc_id, pos, fp): the winnowed fingerprint set. `pos` is the
    * 1-based gram position — kept because MOSS-style matching aligns
    * shared passages by position, and because the (pos, fp) pair is
    * what makes the selection auditable. Documents shorter than k
    * tokens carry no grams and vanish (same as the gram family).
    *
    * Selection always rides the compiled deque kernel
    * ([[graft.plans.WinnowSelect]], O(len) total, inside whole-stage
    * codegen) on EITHER hash backend — selection is a deterministic
    * function of the hash ARRAY, so the oracle replay only needs the
    * replayable md5 hash, not an interpreted selector. The
    * interpreted argmin composition is kept as
    * [[selectionInterpreted]], the spec's independent reference. */
  def fingerprints(df: DataFrame, text: Column, id: Column,
                   k: Int, w: Int, oracleHash: Boolean = false,
                   kernelSelect: Boolean = true): DataFrame = {
    val hashes =
      if (oracleHash)
        transform(sequence(lit(1), col("m")),
          i => tokenHash(concat_ws(" ", slice(col("toks"), i, lit(k)))))
      else graft.plans.GraftFunctions.grams(col("toks"), k)
    val withToks = df
      .select(id.as("doc_id"), split(text, " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .withColumn("m", (size(col("toks")) - (k - 1)))
      .withColumn("hs", hashes)
    val sel =
      if (kernelSelect) graft.plans.GraftFunctions.winnow(col("hs"), w)
      else array_distinct(selectionInterpreted(col("hs"), col("m"), w))
    withToks.select(col("doc_id"), explode(sel).as("s"))
      .select(col("doc_id"), col("s.p").cast("long").as("pos"),
        col("s.h").as("fp"))
  }

  /** The pre-kernel interpreted selection — per-window argmin with
    * the (hash asc, position desc) rightmost-minimum rule as a
    * `transform(windows, aggregate(...))` composition. O(len·w)
    * interpreted comparisons per document (higher-order lambdas never
    * enter codegen), which BASELINE.md measured as the dominant
    * winnow cost; retained ONLY as WinnowSpec's independent reference
    * implementation for the kernel-equivalence law. */
  private[graft] def selectionInterpreted(hs: Column, m: Column,
                                          w: Int): Column =
    transform(
      sequence(lit(1), greatest(m - (w - 1), lit(1))),
      j => aggregate(
        sequence(j, least(j + (w - 1), m)),
        struct(lit(Long.MaxValue).as("h"), lit(0).as("p")),
        (acc, p) => {
          val h = element_at(hs, p)
          when(h < acc.getField("h")
            || (h === acc.getField("h") && p > acc.getField("p")),
            struct(h.as("h"), p.as("p"))).otherwise(acc)
        }))

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints —
    * the copy-detection verdict. Fingerprints hotter than
    * `maxPostingLen` documents are boilerplate, not evidence:
    * dropped BEFORE the pair join (anti-join against the hot list),
    * which caps per-key pair fan-out exactly like the Jaccard
    * family's posting cap. */
  def sharedPairs(fps: DataFrame, minShared: Int,
                  maxPostingLen: Int): DataFrame = {
    // Staged ONCE (r21, guide §2.4): `kept` is both sides of the pair
    // self-join, and `hot` re-derives the same fingerprint subtree —
    // unstaged, the fingerprint selection (per-gram hashing + the
    // winnow kernel over every document) ran FOUR times per query
    // (measured: 4 scan→Generate chains in the dd_winnow_pairs plan).
    // stageLocal, not localCheckpoint: doc_id is a raw source id.
    val sets = org.apache.spark.sql.GraftBridge.stageLocal(
      fps.select("doc_id", "fp").distinct())
    val hot = sets.groupBy("fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxPostingLen)
    val kept = sets.join(hot, Seq("fp"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Offset-consistent alignment — the MOSS region-matching step
    * after fingerprint collision: fingerprints shared at a CONSTANT
    * position offset (pos_a − pos_b) belong to one contiguous copied
    * passage, while scattered coincidental collisions spread across
    * offsets. Output: one row per (pair, offset) with ≥ `minAligned`
    * aligned fingerprints — the copied-region report, with the span's
    * position range for extraction. Same hot-posting cap as
    * sharedPairs; the offset lives in the group key, so the extra
    * verdict costs nothing beyond the pair join already paid. */
  def alignedSpans(fps: DataFrame, minAligned: Int,
                   maxPostingLen: Int): DataFrame = {
    // Staged once — same 4×→1× selection economics as sharedPairs.
    val sets = org.apache.spark.sql.GraftBridge.stageLocal(
      fps.select("doc_id", "pos", "fp"))
    val hot = sets.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("n"))
      .filter(col("n") > maxPostingLen)
    val kept = sets.join(hot, Seq("fp"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (col("a.pos") - col("b.pos")).as("offset"))
      .agg(count(lit(1)).as("aligned"),
        min(col("a.pos")).as("a_start"), max(col("a.pos")).as("a_end"))
      .filter(col("aligned") >= minAligned)
  }
}
