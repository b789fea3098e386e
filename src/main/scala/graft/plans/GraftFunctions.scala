package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's Catalyst kernels as plain Columns: each constructor
  * wraps its expression directly, so an operator never looks a kernel
  * up by name and never changes the session it is handed. Every unary
  * kernel is one [[KernelCall]] over a [[Kernel]] value that names the
  * kernel's static entry point (`MinHashKernel.signature`,
  * `UrlNorm.canon`, …); the math lives in those objects. Widths,
  * thresholds and models are Scala values, not columns, because they
  * size buffers or parameterize generated code. The dot product is
  * `graft.functions.VectorFunctions.fastDot`. */
object GraftFunctions {

  private def call(in: Column, kernel: Kernel): Column =
    column(KernelCall(expression(in), kernel))

  private val longs = ArrayType(LongType, containsNull = false)

  private def utf8(in: Any): UTF8String = in.asInstanceOf[UTF8String]

  private def array(in: Any): ArrayData = in.asInstanceOf[ArrayData]

  /** Rolling k-gram fingerprints of a token array. */
  def grams(tokens: Column, k: Int): Column = call(tokens,
    Kernel("graft_grams", ArrayType(StringType), longs,
      "graft.plans.RollingGramHash.compute", Seq(k), widths = Seq(k))(
      in => RollingGramHash.compute(array(in), k)))

  /** Codepoint (`delim` empty) or token entropy struct. */
  def entropy(text: Column, delim: String): Column = call(text,
    Kernel("graft_entropy", StringType, StructType(Seq("n", "distinct", "entropy_u")
      .map(StructField(_, LongType, nullable = false))),
      "graft.plans.TextEntropy.compute", Seq(delim))(
      in => TextEntropy.compute(utf8(in), delim)))

  /** Per-document repetition stats struct. */
  def repStats(tokens: Column, topNs: Seq[Int], dupNs: Seq[Int]): Column = {
    val (top, dup) = (topNs.toArray, dupNs.toArray)
    call(tokens, Kernel("graft_rep_stats", ArrayType(StringType), StructType(Seq(
      StructField("total_chars", LongType, nullable = false),
      StructField("top", longs, nullable = false),
      StructField("dup", longs, nullable = false))),
      "graft.plans.RepetitionStats.compute", Seq(topNs, dupNs), widths = topNs ++ dupNs)(
      in => RepetitionStats.compute(array(in), top, dup)))
  }

  /** Winnowed `(h, p)` fingerprints over a hash array. */
  def winnow(hashes: Column, w: Int): Column = call(hashes,
    Kernel("graft_winnow", ArrayType(LongType), WinnowSelect.outType,
      "graft.plans.WinnowSelect.compute", Seq(w), widths = Seq(w))(
      in => WinnowSelect.compute(array(in), w)))

  /** Global DSIR bucket counts, an aggregate ([[DsirBucketCounts]]). */
  def dsirCounts(text: Column, isTarget: Column, buckets: Int): Column =
    column(DsirBucketCounts(expression(text), expression(isTarget), buckets)
      .toAggregateExpression())

  /** DSIR importance weight under a fitted model, which rides the plan
    * as a literal and prints as its content digest. */
  def dsirScore(text: Column, llr: Array[Long]): Column = call(text,
    Kernel("graft_dsir_score", StringType, LongType,
      "graft.plans.DsirKernels.score", Seq(llr))(
      in => DsirKernels.score(utf8(in), llr)))

  /** Hashed bag-of-tokens embedding. */
  def hashEmbed(text: Column, dims: Int): Column = {
    require(dims > 0 && dims <= 64 && (dims & (dims - 1)) == 0,
      s"graft_hash_embed: dims must be a power of two in 1..64 — only then " +
        s"is `h mod dims` a pure low-bit mask, keeping the sign (bit 6) " +
        s"statistically independent of the bucket; got $dims")
    call(text, Kernel("graft_hash_embed", StringType, ArrayType(FloatType, containsNull = false),
      "graft.plans.HashEmbedKernel.embed", Seq(dims))(
      in => HashEmbedKernel.embed(utf8(in), dims)))
  }

  /** MinHash signature over n-token shingles. */
  def minhash(text: Column, n: Int): Column = {
    require(n > 0, s"graft_minhash: n must be positive, got $n")
    call(text, Kernel("graft_minhash", StringType, longs,
      "graft.plans.MinHashKernel.signature", Seq(n))(
      in => MinHashKernel.signature(utf8(in), n)))
  }

  /** SimHash fingerprint of `bits` width. */
  def simhash(text: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 64, s"graft_simhash: bits must be in 1..64, got $bits")
    call(text, Kernel("graft_simhash", StringType, LongType,
      "graft.plans.SimHashKernel.fingerprint", Seq(bits))(
      in => SimHashKernel.fingerprint(utf8(in), bits)))
  }

  /** Main-text extraction struct of an HTML page. */
  def htmlExtract(html: Column, minTokens: Int, densityInv: Int): Column = {
    require(minTokens >= 0 && densityInv >= 0,
      s"graft_html_extract: thresholds must be non-negative, got ($minTokens, $densityInv)")
    call(html, Kernel("graft_html_extract", StringType, StructType(
      StructField("main_text", StringType, nullable = false) +:
        Seq("n_blocks", "kept_blocks", "n_links").map(StructField(_, LongType, nullable = false))),
      "graft.plans.HtmlExtract.compute", Seq(minTokens, densityInv))(
      in => HtmlExtract.compute(utf8(in), minTokens, densityInv)))
  }

  private def urlKernel(in: Column, name: String, method: String)(f: UTF8String => UTF8String) =
    call(in, Kernel(name, StringType, StringType, s"graft.plans.UrlNorm.$method")(
      v => f(utf8(v))))

  /** URL percent-encoding normalization. */
  def urlPct(url: Column): Column =
    urlKernel(url, "graft_url_pct", "percentNorm")(UrlNorm.percentNorm)

  /** URL query-parameter sort. */
  def urlQsort(url: Column): Column =
    urlKernel(url, "graft_url_qsort", "querySort")(UrlNorm.querySort)

  /** URL dot-segment folding. */
  def urlDotfold(url: Column): Column =
    urlKernel(url, "graft_url_dotfold", "dotFold")(UrlNorm.dotFold)

  /** Full URL canonicalization. */
  def urlCanon(url: Column): Column =
    urlKernel(url, "graft_url_canon", "canon")(UrlNorm.canon)

  /** Prophet-like ridge solve over a per-series struct of Gram sums,
    * checked field by field against `ProphetSolveKernel.inputCols`. */
  def prophetSolve(series: Column): Column = call(series,
    Kernel("graft_prophet_solve", StructType(ProphetSolveKernel.inputCols
      .zip(ProphetSolveKernel.inputTypes).map { case (n, t) => StructField(n, t) }),
      ProphetSolveKernel.outputType, "graft.plans.ProphetSolveKernel.solve")(
      in => ProphetSolveKernel.solve(in.asInstanceOf[InternalRow])))
}
