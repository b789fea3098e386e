package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Product quantization: complete code coverage, code-range bounds,
  * determinism, ADC finding planted structure, and the joint training
  * loop: per-subspace equality with the one-key loop and a job count
  * that does not grow with m. */
class PqSpec extends SparkSpec {

  import spark.implicits._

  // 12 vectors of 8 dims in two well-separated families so 2-code
  // codebooks must split them
  private def corpus() = {
    val rows = (0 until 12).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, (0 until 8).map(d => base * (1.0f + 0.01f * ((i + d) % 3))).toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("every vector gets exactly one code per subspace, codes within k") {
    val codes = Similarity.pqEncode(corpus(), m = 4, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(codes.length == 12 * 4)
    assert(codes.map(c => (c._1, c._2)).distinct.length == 48)
    assert(codes.forall(c => c._3 >= 0 && c._3 < 2))
    // the two sign families land on different codes in every subspace
    val bySub = codes.groupBy(_._2)
    bySub.values.foreach { cs =>
      val pos = cs.filter(c => c._1 % 2 == 0).map(_._3).toSet
      val neg = cs.filter(c => c._1 % 2 == 1).map(_._3).toSet
      assert(pos.size == 1 && neg.size == 1 && pos != neg,
        "separable families must quantize apart")
    }
  }

  test("ADC ranks same-family vectors ahead of the other family") {
    val out = Similarity.pqAdcTopK(corpus(),
        corpus().filter(col("vec_id") === 0), m = 4, k = 2, iters = 2,
        topK = 5)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out.length == 5)
    // all top-5 neighbors of an even (positive-family) query are even
    assert(out.forall(_._1 % 2 == 0), s"cross-family leak: ${out.toSeq}")
  }

  test("training and encoding are deterministic across invocations") {
    val a = Similarity.pqEncode(corpus(), 2, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Similarity.pqEncode(corpus(), 2, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  // 10 vectors of 4 dims, m = 2: in subspace 1 vectors 0 and 1 share
  // one slice, so the k = 3 init holds two equal centroids, every tie
  // goes to centroid 0, and centroid 1 empties and keeps its init
  private def emptyingCorpus() = (0 until 10).map { i =>
    val head = Array(1.0f + 0.1f * i, if (i % 3 == 0) -0.5f * (i + 1) else 0.3f * i)
    val tail = if (i < 2) Array(1.0f, 0.5f) else Array(1.0f, 0.5f + 0.05f * i)
    (i.toLong, head ++ (if (i == 2) Array(-1.0f, 0.2f) else tail))
  }.toDF("vec_id", "embedding")

  test("the joint loop's codebooks equal lloydTrain on each slice, bit for bit") {
    val e = emptyingCorpus()
    val books = Similarity.pqTrain(e, m = 2, k = 3, iters = 2)
    assert(books.map(_._1) == Seq(0, 1))
    books.foreach { case (s, book) =>
      val part = e.select(col("vec_id"), slice(col("embedding"), s * 2 + 1, 2).as("embedding"))
      assert(book == Similarity.lloydTrain(part, 3, iters = 2), s"subspace $s")
    }
    // the fixture exercises the carry-forward: subspace 1's centroid 1
    // is still vector 1's slice, while centroid 0 moved to a mean
    val sub1 = books(1)._2.toMap
    assert(sub1(1L) == Seq(1.0, 0.5))
    assert(sub1(0L) != Seq(1.0, 0.5))
  }

  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("pqTrain fires as many Spark jobs for m = 4 as for m = 1") {
    // fresh fixtures no other test trains on, so neither call is a memo hit
    def fresh(shift: Float) = corpus().select(col("vec_id"),
      transform(col("embedding"), x => x + lit(shift)).as("embedding"))
    val one = jobsOf(Similarity.pqTrain(fresh(0.25f), m = 1, k = 2, iters = 2))
    val four = jobsOf(Similarity.pqTrain(fresh(0.5f), m = 4, k = 2, iters = 2))
    assert(one > 0)
    assert(four == one, s"m = 1 fired $one jobs, m = 4 fired $four")
  }
}
