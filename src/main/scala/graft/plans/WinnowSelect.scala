package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Winnowing fingerprint SELECTION in one compiled pass (Schleimer,
  * Wilkerson & Aiken 2003 §4): from the per-document gram-hash array,
  * the distinct rightmost minima of every w-hash window, as
  * `array<struct<h:bigint, p:int>>` with 1-based gram position `p`,
  * in first-selection order.
  *
  * This replaces the interpreted `transform(windows, aggregate(...))`
  * argmin composition, which BASELINE.md's winnow rehearsal measured
  * as the dominant cost of the fingerprint queries: higher-order
  * lambdas never enter whole-stage codegen, so every window re-ran an
  * O(w) interpreted fold — O(len·w) interpreted comparisons per
  * document (swapping the HASH backend bought only 12% because the
  * selection, not the hashing, was the tax). Here selection is a
  * monotonic deque — each hash enters and leaves at most once, O(len)
  * TOTAL with the loop in compiled bytecode — and whole-stage codegen
  * wraps it as a single static call (the RollingGramHash pattern).
  *
  * Selection rule, bit-compatible with the interpreted form: window
  * j ∈ [1, max(m−w+1, 1)] covers hashes [j, min(j+w−1, m)] (one
  * truncated window when m < w); its pick minimizes (hash asc,
  * position desc) — the paper's rightmost-minimum rule, so
  * overlapping windows agree on a shared minimum. The deque keeps
  * strictly increasing hashes (an equal incoming hash evicts the
  * older position — rightmost tie), so the front is the unique pick.
  * Distinctness needs only a compare-against-last-emitted: a
  * selected (h, p) can never re-appear after a window that dropped
  * it, because any in-between window still contains p and must have
  * preferred some other element that also outranks (h, p) in every
  * later window containing both (WinnowSpec asserts equivalence with
  * the interpreted array_distinct form on random corpora). */
object WinnowSelect {

  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("p", IntegerType, nullable = false))), containsNull = false)

  def compute(hs: ArrayData, w: Int): ArrayData = {
    val m = hs.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val h = hs.toLongArray()
    val cnt = math.max(m - w + 1, 1)
    // deque of 0-based positions; hashes strictly increase head→tail
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    // the deque push is inlined at both sites: a nested def closing
    // over the mutable head/tail would box them into heap IntRefs and
    // tax every fingerprint of the corpus (the HtmlExtract walker
    // lesson, r13)
    var i = 0
    val firstEnd = math.min(w, m) // exclusive end of window 0
    while (i < firstEnd) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i
      tail += 1
      i += 1
    }
    val out = new Array[Any](cnt)
    var n = 0
    var lastP = -1
    var j = 0
    while (j < cnt) {
      if (j > 0) {
        val e = j + w - 1
        if (e < m) {
          while (tail > head && h(dq(tail - 1)) >= h(e)) tail -= 1
          dq(tail) = e
          tail += 1
        }
        while (dq(head) < j) head += 1
      }
      val p = dq(head)
      if (p != lastP) {
        out(n) = new GenericInternalRow(Array[Any](h(p), p + 1)): InternalRow
        n += 1
        lastP = p
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], n))
  }
}
