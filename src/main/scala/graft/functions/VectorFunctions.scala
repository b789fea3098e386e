package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import graft.plans.FloatVectorDot

/** Vector kernels over `array<float>` embedding columns, built from
  * codegen'd built-ins (`zip_with`/`aggregate`/`transform`) — no UDFs,
  * so the whole similarity pipeline stays inside whole-stage codegen.
  *
  * Floats are cast to double per element BEFORE multiplying and the
  * accumulation is left-to-right, which makes results bit-stable and
  * engine-portable (the DuckDB oracle reproduces them exactly).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision, sequential order (portable
    * built-in composition; see `fastDot` for the codegen'd native
    * expression with the identical numeric contract). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Native-codegen dot product (graft.plans.FloatVectorDot) with
    * `dot`'s numeric contract; on equal-length arrays the two are
    * bit-equal (FastDotSpec). Unlike `dot`, which is null when the
    * lengths differ, it sums over the common prefix. */
  def fastDot(a: Column, b: Column): Column =
    GraftBridge.column(FloatVectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Σ aᵢ² in double precision. */
  def normSq(a: Column): Column =
    aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Native-codegen Σ aᵢ² (dot of the column with itself). */
  def fastNormSq(a: Column): Column = fastDot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))

  /** Native-codegen cosine (same formula shape as `cosine`). */
  def fastCosine(a: Column, b: Column): Column =
    fastDot(a, b) / sqrt(fastNormSq(a) * fastNormSq(b))

  /** Portable 32-bit token hash: first 8 hex digits of md5, as a
    * BIGINT — identical in any engine with md5 (the basis for
    * minhash/simhash parity). */
  def tokenHash(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")
}
