package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IVF-PQ (IVFADC): residual geometry, composed-index coverage,
  * probe locality (candidates come only from probed cells), and
  * determinism. */
class IvfPqSpec extends SparkSpec {

  import spark.implicits._

  // Two well-separated direction families (the coarse axis) with
  // per-family magnitude jitter (the residual axis): the coarse
  // quantizer must split the families, the residual codebooks must
  // encode the jitter.
  private def corpus() = {
    val rows = (0 until 16).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, (0 until 8).map(d => base * (1.0f + 0.05f * ((i / 2 + d) % 4))).toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("residuals reconstruct: residual + cell centroid ≈ vector") {
    val coarse = Similarity.lloydTrain(corpus(), 2, 2)
    val cents = coarse.toDF("centroid_id", "cent")
    val err = Similarity.ivfResiduals(corpus(), coarse)
      .join(broadcast(cents), "centroid_id")
      .select(aggregate(
        zip_with(col("embedding"), col("cent"), (r, c) => abs(r + c)),
        lit(0.0), _ + _).as("l1"))
      .agg(max(col("l1"))).first().getDouble(0)
    // every reconstructed |residual + centroid| equals |v| up to the
    // 6dp rounding of the residual (8 dims × 5e-7)
    val vmax = corpus().select(aggregate(
        transform(col("embedding").cast("array<double>"), x => abs(x)),
        lit(0.0), _ + _).as("n")).agg(max(col("n"))).first().getDouble(0)
    assert(math.abs(err - vmax) <= 8 * 1e-6, s"err=$err vmax=$vmax")
  }

  test("composed index: one cell + m codes per vector, codes within k") {
    val codes = Similarity.ivfPqEncode(corpus(), kc = 2, coarseIters = 2,
        m = 4, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(codes.length == 16 * 4)
    // each vector sits in exactly one cell
    assert(codes.groupBy(_._1).forall { case (_, cs) => cs.map(_._2).distinct.length == 1 })
    assert(codes.forall(c => c._4 >= 0 && c._4 < 2))
    // the two direction families occupy different coarse cells
    val cells = codes.groupBy(_._1).map { case (id, cs) => (id, cs.head._2) }
    val even = cells.filter(_._1 % 2 == 0).values.toSet
    val odd = cells.filter(_._1 % 2 == 1).values.toSet
    assert(even.size == 1 && odd.size == 1 && even != odd,
      "separable direction families must land in different cells")
  }

  test("ADC candidates come only from probed cells; same-family wins") {
    val out = Similarity.ivfPqAdcTopK(corpus(),
        corpus().filter(col("vec_id") === 0), kc = 2, coarseIters = 2,
        m = 4, k = 2, iters = 2, nprobe = 1, topK = 5)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out.length == 5)
    // nprobe=1 probes only the query's own (even-family) cell
    assert(out.forall(_._1 % 2 == 0), s"cross-cell leak: ${out.toSeq}")
  }

  test("nprobe widens the candidate set monotonically") {
    def neighbors(np: Int) = Similarity.ivfPqAdcTopK(corpus(),
        corpus().filter(col("vec_id") === 0), kc = 2, coarseIters = 2,
        m = 4, k = 2, iters = 2, nprobe = np, topK = 16)
      .collect().map(_.getLong(1)).toSet
    val n1 = neighbors(1)
    val n2 = neighbors(2)
    assert(n1.subsetOf(n2))
    assert(n2.size > n1.size, "probing the second cell must add candidates")
  }

  test("encode is deterministic across invocations") {
    def run() = Similarity.ivfPqEncode(corpus(), 2, 2, 4, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(run() == run())
  }

  test("residual codebooks equal the one-key squared-L2 loop on each residual slice") {
    val (coarse, books) = Similarity.ivfPqTrain(corpus(), kc = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    val res = Similarity.ivfResiduals(corpus(), coarse)
    assert(books.map(_._1) == (0 until 4))
    books.foreach { case (s, book) =>
      val part = res.select(col("vec_id"), slice(col("embedding"), s * 2 + 1, 2).as("embedding"))
      assert(Similarity.lloydCodebooks(Similarity.l2Metric, part, 2, 2) == Seq(0 -> book),
        s"subspace $s")
    }
  }
}
