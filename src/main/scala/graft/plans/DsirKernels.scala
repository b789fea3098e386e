package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass DSIR kernels (Xie et al. 2023, arXiv:2302.03169).
  *
  * DSIR's feature space is HASHED into a fixed, broadcast-sized bucket
  * count (`Dsir.buckets`), and that bound is the whole optimization
  * surface: per-bucket model counts fit in one flat `long[2B]` per
  * task, and a document's weight is a running sum over its gram
  * stream against a `long[B]` model — neither needs the gram rows to
  * EXIST as rows. The earlier shape exploded every unigram+bigram
  * (~2·tokens rows per document), hash-aggregated (doc, bucket)
  * partial counts, staged the bag to disk, and shuffled it twice (the
  * model aggs + the doc-keyed scoring sum); these kernels replace all
  * of that with two scans — one bounded-state aggregate pass to fit,
  * one codegen'd projection pass to score. Shuffle volume drops from
  * corpus-sized to #tasks × 64 KB partials, and the scoring pass
  * shuffles NOTHING. The DISK_ONLY staging contract the exploded bag
  * needed (and its 1000×-rehearsal OOM history, BASELINE.md) retires
  * with the bag itself.
  *
  * Numeric contract: bit-identical to the exploded form and to the
  * DuckDB oracle replay. Tokens are `split(text, ' ')` with empties
  * kept; grams are the unigrams plus adjacent-pair bigrams joined by
  * one space; the bucket is the first 8 md5 hex digits of the gram's
  * UTF-8 bytes taken as a long, mod `buckets` (exactly
  * `pmod(VectorFunctions.tokenHash(gram), buckets)`). Because split
  * tokens are adjacent in the source bytes separated by exactly one
  * 0x20, every gram — unigram or bigram — is a CONTIGUOUS byte slice
  * of the original text, so the kernels hash slices in place: no
  * gram strings, no per-gram allocation, one md5 per gram (the same
  * md5 count the exploded form paid, minus its row machinery).
  */
object DsirKernels {

  // MessageDigest is stateful; one per thread, with a reusable output
  // buffer so the per-gram digest allocates nothing
  private val tl = new ThreadLocal[(MessageDigest, Array[Byte])] {
    override def initialValue(): (MessageDigest, Array[Byte]) =
      (MessageDigest.getInstance("MD5"), new Array[Byte](16))
  }

  /** Bucket of one gram slice: first 4 md5 bytes as an unsigned
    * big-endian int (== the first 8 hex digits), mod `buckets` —
    * tokenHash's exact algebra on a zero-copy byte range. */
  private def bucketOf(md: MessageDigest, out: Array[Byte],
                       bytes: Array[Byte], off: Int, len: Int,
                       buckets: Int): Int = {
    md.reset()
    md.update(bytes, off, len)
    md.digest(out, 0, 16)
    val h = ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
      ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
    (h % buckets).toInt
  }

  /** Fold one document's gram stream into the count buffer:
    * buf(b) += 1 for every gram (raw side), buf(buckets + b) += 1 when
    * the document is target-flagged. Token walk: a token ends at each
    * 0x20 byte or end-of-text (UTF-8 continuation bytes can never
    * alias ASCII space), matching `split(text, " ", -1)` — empty
    * tokens kept, an empty text is one empty token. */
  def countInto(s: UTF8String, isTarget: Boolean, buf: Array[Long],
                buckets: Int): Unit = {
    val (md, out) = tl.get()
    val bytes = s.getBytes
    var prevStart = 0
    var tokStart = 0
    var first = true
    while (tokStart <= bytes.length) {
      var end = tokStart
      while (end < bytes.length && bytes(end) != 0x20) end += 1
      val b1 = bucketOf(md, out, bytes, tokStart, end - tokStart, buckets)
      buf(b1) += 1
      if (isTarget) buf(buckets + b1) += 1
      if (!first) {
        // the bigram "prev cur" is the source slice [prevStart, end)
        val b2 = bucketOf(md, out, bytes, prevStart, end - prevStart, buckets)
        buf(b2) += 1
        if (isTarget) buf(buckets + b2) += 1
      }
      first = false
      prevStart = tokStart
      tokStart = end + 1
    }
  }

  /** One document's importance weight in integer micro-nats:
    * Σ over the gram stream of llr(bucket(gram)) — the same exact
    * integer sum as cnt·llr_micro over the grouped bag (multiplicity
    * is just repetition), so partial order can never change it. */
  def score(s: UTF8String, llr: Array[Long]): Long = {
    val buckets = llr.length
    val (md, out) = tl.get()
    val bytes = s.getBytes
    var acc = 0L
    var prevStart = 0
    var tokStart = 0
    var first = true
    while (tokStart <= bytes.length) {
      var end = tokStart
      while (end < bytes.length && bytes(end) != 0x20) end += 1
      acc += llr(bucketOf(md, out, bytes, tokStart, end - tokStart, buckets))
      if (!first)
        acc += llr(bucketOf(md, out, bytes, prevStart, end - prevStart, buckets))
      first = false
      prevStart = tokStart
      tokStart = end + 1
    }
    acc
  }
}

/** Global bucket-count aggregate: `graft_dsir_counts(text, is_target,
  * B)` → `array<struct<rn, tn>>` of length B (index = bucket). The
  * buffer is one flat `long[2B]` (≈64 KB at B=4096) per task —
  * map-side combined, merged by element-wise add, bounded no matter
  * the corpus — the BloomFilterAggregate shape with exact counts
  * instead of bits. */
case class DsirBucketCounts(
    text: Expression, isTarget: Expression, buckets: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  require(buckets > 0, s"graft_dsir_counts: buckets must be positive, got $buckets")

  override def left: Expression = text
  override def right: Expression = isTarget

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, isTarget.dataType) match {
      case (StringType, BooleanType) => TypeCheckResult.TypeCheckSuccess
      case (t, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_dsir_counts expects (string, boolean), got (${t.simpleString}, ${b.simpleString})")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * buckets)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val t = text.eval(input)
    if (t != null) {
      val tgt = isTarget.eval(input)
      DsirKernels.countInto(t.asInstanceOf[UTF8String],
        tgt == java.lang.Boolean.TRUE, buf, buckets)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val rows = new Array[Any](buckets)
    var i = 0
    while (i < buckets) {
      rows(i) = new GenericInternalRow(Array[Any](buf(i), buf(buckets + i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rn", LongType, nullable = false),
    StructField("tn", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(n: Int): DsirBucketCounts =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): DsirBucketCounts =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DsirBucketCounts =
    copy(text = newLeft, isTarget = newRight)

  override def prettyName: String = "graft_dsir_counts"
}
