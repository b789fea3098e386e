package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operators leave the session they are handed alone: every kernel
  * family builds and runs on a fresh session that has no graft
  * functions, and afterwards that session still has none and no extra
  * optimizer rule. */
class SessionUntouchedSpec extends SparkSpec {

  test("kernel families run on a fresh session and register nothing") {
    val s = spark.newSession()
    import s.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "a completely different sentence about sparks and kernels here",
      4L -> "spam spam spam spam spam spam spam spam spam spam spam spam")
      .toDF("doc_id", "text")
    val pool = docs.withColumn("is_target", col("doc_id") <= 2)
    val pages = Seq(1L -> ("<html><body><p>" + ("main text words " * 20) +
        "</p><a href='/x'>nav</a></body></html>")).toDF("doc_id", "html")
    val urls = Seq("HTTP://Example.COM:80/a/./b/../c?b=2&a=1#frag").toDF("url")
    val fact = (1L to 50L).toDF("fk")
    val dim = (1L to 50L by 7).toDF("dk")
    val emb = Rag.hashEmbed(docs, col("text"), col("doc_id"))

    val frames: Seq[(String, DataFrame)] = Seq(
      "minhash" -> Dedup.minhashSignatures(docs, col("text"), col("doc_id"), 3),
      "simhash" -> Dedup.simhash(docs, col("text"), col("doc_id")),
      "url canon" -> urls.select(Urls.canonicalize(col("url"))),
      "html extract" -> Html.extractMainText(pages, col("html"), col("doc_id")),
      "dsir fit and score" -> Dsir.weights(pool, col("text"), col("doc_id"), col("is_target")),
      "entropy" -> TextAnalysis.entropySignals(docs, col("text"), col("doc_id")),
      "repetition" -> TextAnalysis.repetitionSignals(docs, col("text"), col("doc_id")),
      "hash embed" -> emb,
      "winnow" -> Winnow.fingerprints(docs, col("text"), col("doc_id"), 3, 4),
      "bloom join" -> BloomSemiJoin.prunedJoin(fact, dim, "fk", "dk"),
      "fastDot top-k" -> Similarity.bruteForceTopK(emb, emb, 2))
    frames.foreach { case (family, df) =>
      assert(df.collect().nonEmpty, s"$family returned no rows")
    }

    val graftFunctions = s.catalog.listFunctions().collect().map(_.name)
      .filter(_.startsWith("graft_"))
    assert(graftFunctions.isEmpty, s"functions written into the session: ${graftFunctions.toSeq}")
    assert(s.experimental.extraOptimizations.isEmpty,
      s"optimizer rules installed: ${s.experimental.extraOptimizations}")
  }
}
