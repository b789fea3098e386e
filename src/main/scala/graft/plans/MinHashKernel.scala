package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature kernel
  * (`graft_minhash(text, n)` → `array<long>` of the 16 permutation
  * minima; EMPTY array when the document has fewer than n tokens).
  *
  * The relational form explodes every n-token shingle into rows,
  * DISTINCTs them (a corpus-sized shuffle), and folds 16 `min`
  * aggregates back with a corpus-sized `groupBy(doc_id)` (a second
  * shuffle) — all to reassemble per-document state each row already
  * had. This kernel computes the signature in place: one byte-walk
  * over the text, one md5 per shingle window, 16 running minima — no
  * explode, no distinct, no shuffle, a pure projection inside
  * whole-stage codegen. The distinct is dropped soundly because min
  * is duplicate-invariant: min over a multiset equals min over its
  * support.
  *
  * Numeric contract: bit-identical to the exploded form. A shingle is
  * n consecutive tokens of `split(text, " ", -1)` joined by one
  * space — a CONTIGUOUS byte slice of the source (tokens are
  * adjacent, separated by exactly one 0x20, the DsirKernels
  * argument) — hashed h = (first 8 md5 hex digits as unsigned 32-bit)
  * mod p, exactly `pmod(tokenHash(shingle), p)`; the k-th signature
  * value is min over shingles of (h·a_k + b_k) mod p (h, a_k < 2³¹,
  * so the product fits a long with room to spare). Documents with
  * fewer than n tokens produced no shingle rows in the exploded form
  * and therefore no signature row — the kernel returns an EMPTY
  * array for them, which callers filter on `size(sig) > 0` (a plain
  * codegen'd predicate; an expression-level null would not survive
  * nullSafeCodeGen). */
object MinHashKernel {

  /** The Mersenne prime 2³¹ − 1 — the permutation modulus
    * (single source of truth; `Dedup.minhashP` re-exports it). */
  val P = 2147483647L

  /** k=16 fixed permutations (a·h+b mod P); 4 bands × 4 rows
    * (`Dedup.minhashAB` re-exports them; the DuckDB oracle replays
    * the same constants). */
  val perms: Seq[(Long, Long)] =
    (1 to 16).map { i =>
      (((i * 2654435761L) % P) | 1L, (i * 40503L * 65537L) % P)
    }

  private val A: Array[Long] = perms.map(_._1).toArray
  private val B: Array[Long] = perms.map(_._2).toArray

  // MessageDigest is stateful; one per thread with a reusable output
  // buffer so the per-shingle digest allocates nothing
  private val tl = new ThreadLocal[(MessageDigest, Array[Byte])] {
    override def initialValue(): (MessageDigest, Array[Byte]) =
      (MessageDigest.getInstance("MD5"), new Array[Byte](16))
  }

  /** One document's 16-long signature (empty when < n tokens). */
  def signature(s: UTF8String, n: Int): GenericArrayData = {
    val (md, out) = tl.get()
    val bytes = s.getBytes
    // token boundaries: starts(i) .. ends(i), split-with-empties walk
    // (empty tokens kept; empty text = one empty token)
    var numToks = 0
    var i = 0
    while (i <= bytes.length) { // count tokens: separators + 1
      if (i == bytes.length || bytes(i) == 0x20) numToks += 1
      i += 1
    }
    if (numToks < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](numToks)
    val ends = new Array[Int](numToks)
    var t = 0
    var tokStart = 0
    while (tokStart <= bytes.length) {
      var end = tokStart
      while (end < bytes.length && bytes(end) != 0x20) end += 1
      starts(t) = tokStart; ends(t) = end; t += 1
      tokStart = end + 1
    }
    val mins = Array.fill(16)(Long.MaxValue)
    var w = 0
    val cnt = numToks - (n - 1)
    while (w < cnt) {
      // the shingle is the contiguous slice [starts(w), ends(w+n-1))
      val off = starts(w)
      val len = ends(w + n - 1) - off
      md.reset()
      md.update(bytes, off, len)
      md.digest(out, 0, 16)
      val hRaw = ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
        ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
      val h = hRaw % P
      var k = 0
      while (k < 16) {
        val v = (h * A(k) + B(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      w += 1
    }
    val vals = new Array[Any](16)
    var k = 0
    while (k < 16) { vals(k) = mins(k); k += 1 }
    new GenericArrayData(vals)
  }
}

