package graft.functions

import graft.{SparkSpec, Tables}
import graft.functions.VectorFunctions.{dot, fastDot, fastNormSq, normSq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native kernels behind `fastDot`/`fastNormSq`
  * (graft.plans.FloatVectorDot) keep the lambda `dot`/`normSq`
  * contract bit for bit on equal-length vectors: each float widened to
  * double, multiplied, summed left to right from 0.0. */
class FastDotSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Each row's (fastDot, dot, fastNormSq, normSq) over columns a, b;
    * asserts the pairs bit-equal and returns the dot values. */
  private def assertBitEqual(pairs: DataFrame): Seq[Double] = {
    val rows = pairs.select(fastDot(col("a"), col("b")), dot(col("a"), col("b")),
        fastNormSq(col("a")), normSq(col("a")))
      .collect()
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    rows.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"fastDot ${r.getDouble(0)} != dot ${r.getDouble(1)}")
      assert(bits(r.getDouble(2)) == bits(r.getDouble(3)),
        s"fastNormSq ${r.getDouble(2)} != normSq ${r.getDouble(3)}")
    }
    rows.map(_.getDouble(0)).toSeq
  }

  test("fastDot/fastNormSq are bit-equal to dot/normSq on sf0.001 embeddings") {
    val e = Tables(spark, sf, "embeddings").where(col("vec_id") < 60)
    val dots = assertBitEqual(e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.embedding").as("a"), col("y.embedding").as("b")))
    assert(dots.size == 60 * 59 / 2)
    assert(dots.distinct.size > dots.size / 2, "the pairs must exercise distinct sums")
  }

  test("bit-equal on zeros, negatives, signed zero, cancellation and empty") {
    val rng = new scala.util.Random(3)
    def noise(n: Int): Array[Float] = Array.fill(n)((rng.nextGaussian() * 10).toFloat)
    val cases: Seq[(Array[Float], Array[Float])] = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)),
      (Array(0f, 0f), Array(0f, 0f)),
      (Array(-1.5f, 2.25f, -3.125f), Array(-0.1f, -7f, 1e-3f)),
      (Array(-0.0f, -0.0f), Array(1f, 0.0f)),
      // order matters: 1e38 + 1 - 1e38 is 0 left to right, 1 otherwise
      (Array(1e30f, 1f, -1e30f), Array(1e8f, 1f, 1e8f)),
      (Array.emptyFloatArray, Array.emptyFloatArray),
      (noise(64), noise(64)),
      (noise(7), noise(7)))
    val dots = assertBitEqual(cases.toDF("a", "b"))
    assert(dots.size == cases.size)
    assert(dots(4) == 0.0 && dots(5) == 0.0)
  }
}
