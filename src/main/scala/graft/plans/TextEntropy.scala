package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Shannon-entropy signals of one string in ONE pass — no
  * char-explode, no shuffle: `struct<n:long, distinct:long,
  * entropy_u:long>` where `entropy_u` is Σ over distinct symbols of
  * round(−p·ln(p)·10⁶) in integer MICRO-NATS (each term rounded
  * before the sum, so the total is summation-order-invariant and the
  * DuckDB `unnest → GROUP BY` replay lands on the same integer).
  *
  * `delim` (a literal) picks the symbol alphabet: "" = Unicode code
  * points, any other string = the split(text, delim) tokens with
  * empty tokens kept — exactly Spark `split(_, _, -1)` / DuckDB
  * `string_split` semantics, matching the tokenization the rest of
  * the text family uses.
  *
  * Low char entropy flags repeated-symbol garbage, high flags
  * random/binary spill; token entropy separates natural prose from
  * template boilerplate with a wide vocabulary of page furniture —
  * the entropy gates CCNet-style curation stacks run next to the
  * repetition signals. The scan's explode-free shape is the scale
  * point: quality gates run over every byte of a 100 TB corpus, and
  * a per-char explode would 500× the row count before the first
  * aggregation; this stays a projection inside whole-stage codegen.
  */
object TextEntropy {

  def compute(s: UTF8String, delim: String): InternalRow = {
    val counts = new java.util.HashMap[String, Long]()
    var n = 0L
    if (delim.isEmpty) {
      val str = s.toString
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        val key = new String(Character.toChars(cp))
        counts.merge(key, 1L, (a, b) => a + b)
        n += 1
        i += Character.charCount(cp)
      }
    } else {
      // split with limit -1: every token counted, empties included
      val toks = s.toString.split(java.util.regex.Pattern.quote(delim), -1)
      var i = 0
      while (i < toks.length) {
        counts.merge(toks(i), 1L, (a, b) => a + b)
        n += 1
        i += 1
      }
    }
    var eu = 0L
    if (n > 0) {
      val it = counts.values().iterator()
      while (it.hasNext) {
        val k = it.next()
        val p = k * 1.0 / n
        eu += Math.round(-p * Math.log(p) * 1000000.0)
      }
    }
    new GenericInternalRow(Array[Any](n, counts.size.toLong, eu))
  }
}
