package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass signed feature-hash embedding kernel
  * (`graft_hash_embed(text, dims)` → `array<float>` of length dims).
  *
  * The relational form ([[graft.operators.Rag.hashEmbedExploded]])
  * explodes every token of the corpus into rows, hashes them, and
  * folds the ±1 contributions back with a corpus-sized
  * `groupBy(vec_id)` — a full shuffle keyed on the document id whose
  * only purpose is to reassemble per-document state the row already
  * had. This expression computes the whole embedding in place: one
  * byte-walk over the text (split-with-empties token convention, the
  * [[DsirKernels]] walk), one md5 per token slice, a dims-length int
  * accumulator — no explode, no shuffle, a pure projection inside
  * whole-stage codegen.
  *
  * Numeric contract: bit-identical to the exploded form. Per token,
  * h = first 8 md5 hex digits as an unsigned 32-bit value (exactly
  * `VectorFunctions.tokenHash`), dim = h mod dims, sign = −1 when
  * bit 6 of h is set else +1 (disjoint from the dim bits only when
  * dims is a power of two ≤ 64 — then `mod dims` masks bits below
  * bit 6 and the sign rides ABOVE the bucket bits; enforced by the
  * constructor require). Contributions
  * are ±1 integers, so the int accumulator equals the exploded
  * form's double sum exactly, and the float cast is lossless for any
  * |count| < 2²⁴. */
object HashEmbedKernel {

  // MessageDigest is stateful; one per thread with a reusable output
  // buffer so the per-token digest allocates nothing
  private val tl = new ThreadLocal[(MessageDigest, Array[Byte])] {
    override def initialValue(): (MessageDigest, Array[Byte]) =
      (MessageDigest.getInstance("MD5"), new Array[Byte](16))
  }

  /** The embedding of one document: token walk identical to
    * `split(text, " ", -1)` (empty tokens kept, empty text = one
    * empty token; UTF-8 continuation bytes can never alias 0x20). */
  def embed(s: UTF8String, dims: Int): GenericArrayData = {
    val (md, out) = tl.get()
    val bytes = s.getBytes
    val acc = new Array[Int](dims)
    var tokStart = 0
    while (tokStart <= bytes.length) {
      var end = tokStart
      while (end < bytes.length && bytes(end) != 0x20) end += 1
      md.reset()
      md.update(bytes, tokStart, end - tokStart)
      md.digest(out, 0, 16)
      val h = ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
        ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
      val d = (h % dims).toInt
      if (((h >> 6) & 1L) == 0L) acc(d) += 1 else acc(d) -= 1
      tokStart = end + 1
    }
    val vals = new Array[Any](dims)
    var i = 0
    while (i < dims) { vals(i) = acc(i).toFloat; i += 1 }
    new GenericArrayData(vals)
  }
}

