package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}

/** The engine's Catalyst kernels as plain Columns: each constructor
  * wraps its expression directly, so an operator never looks a kernel
  * up by name and never changes the session it is handed. Widths,
  * thresholds and models are Scala values, not columns, because they
  * size buffers or parameterize generated code. The dot product is
  * `graft.functions.VectorFunctions.fastDot`. */
object GraftFunctions {

  /** Rolling k-gram fingerprints of a token array ([[RollingGramHash]]). */
  def grams(tokens: Column, k: Int): Column =
    column(RollingGramHash(expression(tokens), k))

  /** Codepoint (`delim` empty) or token entropy struct ([[TextEntropy]]). */
  def entropy(text: Column, delim: String): Column =
    column(TextEntropy(expression(text), delim))

  /** Per-document repetition stats struct ([[RepetitionStats]]). */
  def repStats(tokens: Column, topNs: Seq[Int], dupNs: Seq[Int]): Column =
    column(RepetitionStats(expression(tokens), topNs, dupNs))

  /** Winnowed `(h, p)` fingerprints over a hash array ([[WinnowSelect]]). */
  def winnow(hashes: Column, w: Int): Column =
    column(WinnowSelect(expression(hashes), w))

  /** Global DSIR bucket counts, an aggregate ([[DsirBucketCounts]]). */
  def dsirCounts(text: Column, isTarget: Column, buckets: Int): Column =
    column(DsirBucketCounts(expression(text), expression(isTarget), buckets)
      .toAggregateExpression())

  /** DSIR importance weight under a fitted model ([[DsirScore]]). */
  def dsirScore(text: Column, llr: Array[Long]): Column =
    column(DsirScore(expression(text), llr))

  /** Hashed bag-of-tokens embedding ([[HashEmbed]]). */
  def hashEmbed(text: Column, dims: Int): Column =
    column(HashEmbed(expression(text), dims))

  /** MinHash signature over n-token shingles ([[MinHashSig]]). */
  def minhash(text: Column, n: Int): Column =
    column(MinHashSig(expression(text), n))

  /** SimHash fingerprint of `bits` width ([[SimHashFp]]). */
  def simhash(text: Column, bits: Int): Column =
    column(SimHashFp(expression(text), bits))

  /** Main-text extraction struct of an HTML page ([[HtmlExtract]]). */
  def htmlExtract(html: Column, minTokens: Int, densityInv: Int): Column =
    column(HtmlExtract(expression(html), minTokens, densityInv))

  /** URL percent-encoding normalization ([[UrlPercentNorm]]). */
  def urlPct(url: Column): Column = column(UrlPercentNorm(expression(url)))

  /** URL query-parameter sort ([[UrlQuerySort]]). */
  def urlQsort(url: Column): Column = column(UrlQuerySort(expression(url)))

  /** URL dot-segment folding ([[UrlDotFold]]). */
  def urlDotfold(url: Column): Column = column(UrlDotFold(expression(url)))

  /** Full URL canonicalization ([[UrlCanon]]). */
  def urlCanon(url: Column): Column = column(UrlCanon(expression(url)))

  /** Prophet-like ridge solve over a per-series struct ([[ProphetSolve]]). */
  def prophetSolve(series: Column): Column = column(ProphetSolve(expression(series)))
}
