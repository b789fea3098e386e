package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The rolling k-gram fingerprint kernel behind ExactSubstr detection:
  * the rolled recurrence must agree with the definitional polynomial,
  * equal windows must collide and (on a hand-checked fixture) distinct
  * windows must not. */
class RollingGramHashSpec extends SparkSpec {

  private def definitional(tokens: Seq[String], k: Int): Seq[Long] = {
    val hs = tokens.map { t =>
      val u = UTF8String.fromString(t)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), RollingGramHash.Seed)
    }
    (0 to tokens.length - k).map { i =>
      hs.slice(i, i + k).foldLeft(0L)((acc, h) => acc * RollingGramHash.Base + h)
    }
  }

  private def viaSpark(text: String, k: Int): Seq[Long] = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(GraftFunctions.grams(split(col("text"), " "), k).as("g"))
      .collect()(0).getSeq[Long](0)
  }

  test("rolled recurrence equals the definitional polynomial") {
    val text = "the quick brown fox jumps over the lazy dog the quick brown fox"
    for (k <- Seq(1, 2, 4, 7)) {
      assert(viaSpark(text, k) == definitional(text.split(" ").toSeq, k))
    }
  }

  test("identical windows collide, distinct windows differ") {
    val out = viaSpark("a b c X a b c Y", 3)
    // windows: [a b c] [b c X] [c X a] [X a b] [a b c] [b c Y] — the
    // two [a b c] occurrences (offsets 0 and 4) must hash identically
    assert(out.length == 6)
    assert(out(0) == out(4))
    assert(out.distinct.length == 5)
  }

  test("documents shorter than k yield no windows") {
    assert(viaSpark("a b", 4).isEmpty)
    assert(viaSpark("a b c d", 4).length == 1)
  }

  test("token identity matters, not concatenation") {
    // "ab c" vs "a bc" would collide under naive char-level hashing of
    // the joined string with its separators dropped; token-wise xxh64
    // into the polynomial keeps them apart
    assert(viaSpark("ab c", 2) != viaSpark("a bc", 2))
  }
}
