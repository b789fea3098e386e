package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass SimHash fingerprint kernel
  * (`graft_simhash(text, bits)` → long).
  *
  * The relational form explodes every token occurrence into rows and
  * folds `bits` ±1 vote sums back with a corpus-sized
  * `groupBy(doc_id)` — the explode+reassembly shuffle whose only
  * purpose is recovering per-document state (the MinHash/hashEmbed
  * argument; unlike MinHash there is no distinct here, because votes
  * are MULTISET sums — each token occurrence votes). This kernel
  * computes the fingerprint in place: one byte-walk, one hash per
  * token occurrence, `bits` int counters — a pure projection inside
  * whole-stage codegen.
  *
  * Numeric contract: bit-identical to the exploded form. Tokens are
  * `split(text, " ", -1)` (empties kept, empty text = one empty
  * token). bits ≤ 32 hashes with the portable md5 tokenHash (first 8
  * hex digits as unsigned 32-bit — DuckDB-replayable, dd_simhash's
  * pinned backend); wider fingerprints hash with xxhash64 (seed 42,
  * Spark's own XXH64 over the same bytes) because tokenHash's upper
  * 32 bits are constant zero. Bit r of the fingerprint is 1 iff
  * Σ over occurrences of (2·((h≫r)&1) − 1) is > 0 — exact integer
  * votes, ties (including the zero-token case that cannot occur:
  * every non-null text has ≥1 token) resolve to 0. */
object SimHashKernel {

  private val tl = new ThreadLocal[(MessageDigest, Array[Byte])] {
    override def initialValue(): (MessageDigest, Array[Byte]) =
      (MessageDigest.getInstance("MD5"), new Array[Byte](16))
  }

  def fingerprint(s: UTF8String, bits: Int): Long = {
    val (md, out) = tl.get()
    val bytes = s.getBytes
    val votes = new Array[Int](bits)
    var tokStart = 0
    while (tokStart <= bytes.length) {
      var end = tokStart
      while (end < bytes.length && bytes(end) != 0x20) end += 1
      val h =
        if (bits <= 32) {
          md.reset()
          md.update(bytes, tokStart, end - tokStart)
          md.digest(out, 0, 16)
          ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
            ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
        } else {
          XXH64.hashUnsafeBytes(bytes,
            Platform.BYTE_ARRAY_OFFSET + tokStart, end - tokStart, 42L)
        }
      var r = 0
      while (r < bits) {
        votes(r) += (((h >>> r) & 1L).toInt << 1) - 1
        r += 1
      }
      tokStart = end + 1
    }
    var fp = 0L
    var r = 0
    while (r < bits) {
      if (votes(r) > 0) fp |= (1L << r)
      r += 1
    }
    fp
  }
}

