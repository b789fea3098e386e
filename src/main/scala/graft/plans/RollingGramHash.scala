package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** All word-k-gram fingerprints of a token array in one pass:
  * `array<long>`, element i = 64-bit Rabin–Karp polynomial hash of
  * tokens [i, i+k) (xxh64 per token, then H·B + h rolling with the
  * leading term subtracted back out — B odd, so the map stays
  * mixing mod 2⁶⁴).
  *
  * This replaces the per-window `md5(concat_ws(slice(toks,i,k)))`
  * composition in the ExactSubstr detection core, which costs
  * O(len·k) bytes of string building per document (each of the ~len
  * windows re-materializes its k tokens before hashing) — the term
  * BASELINE.md's 1000× spill-decade rows measured at 1.6× over the
  * linear floor. The rolling form hashes each token once and then
  * does three long multiplies per window: O(len) work, an 8-byte
  * shuffle key instead of 16, and zero per-window allocation.
  *
  * Fingerprint-collision contract is the same one the MinHash/SimHash
  * family already rides: 64-bit fingerprints over ~10⁸ distinct grams
  * give a ~10⁻³ corpus-wide birthday term, and a collision can only
  * ADD a spurious duplicated-gram hit, never drop a real one. The
  * DuckDB oracle keys on the gram CONTENT, so oracle agreement is
  * itself the collision check at test scale.
  *
  * Documents shorter than k tokens yield an empty array (no windows).
  * Token arrays from `split` never contain nulls; null elements are
  * not supported.
  */
object RollingGramHash {

  /** Odd multiplier (2⁶⁴·φ⁻¹ rounded to odd) — invertible mod 2⁶⁴. */
  val Base: Long = 0x9E3779B97F4A7C15L
  val Seed: Long = 42L

  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val cnt = n - k + 1
    if (cnt <= 0) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      hs(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), Seed)
      i += 1
    }
    var powB = 1L
    i = 1
    while (i < k) { powB *= Base; i += 1 }
    val out = new Array[Long](cnt)
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + hs(i); i += 1 }
    out(0) = h
    i = 1
    while (i < cnt) {
      h = (h - hs(i - 1) * powB) * Base + hs(i + k - 1)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}
