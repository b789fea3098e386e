package graft.operators

import graft.SparkSpec
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `graft_rep_stats` against an exploded reference: per n-gram width,
  * every window becomes a row (explode of the rolling gram hashes)
  * and the signals are group-bys over those rows — the relational
  * shape the kernel replaced. The fractions must be bit-equal on
  * randomized documents, documents that copy one segment twice,
  * hand-made ties, documents shorter than the window and
  * self-repeating documents. */
class RepetitionExplodedSpec extends SparkSpec {

  import spark.implicits._

  private val topNs = Seq(2, 3, 4)
  private val dupNs = Seq(5, 10)

  private lazy val docs: Seq[(Long, String)] = {
    val rng = new scala.util.Random(2022)
    // unequal lengths (count ties with different char sums) and
    // multi-byte tokens (chars, not bytes, are counted)
    val vocab = Vector("a", "b", "cc", "dd", "eee", "zz", "q", "é", "日本")
    def words(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
    val random = (1 to 150).map(i => i.toLong -> words(1 + rng.nextInt(40)).mkString(" "))
    val repeating = (1 to 20).map { i =>
      val phrase = words(1 + rng.nextInt(4))
      (1000L + i) -> Seq.fill(2 + rng.nextInt(12))(phrase).flatten.mkString(" ")
    }
    // one segment copied twice into random text: partial coverage
    val embedded = (1 to 20).map { i =>
      val seg = words(5 + rng.nextInt(8))
      (1500L + i) -> (words(rng.nextInt(6)) ++ seg ++ words(rng.nextInt(6)) ++ seg ++
        words(rng.nextInt(6))).mkString(" ")
    }
    val handMade = Seq(
      2001L -> "a b a b c",                      // count tie, equal chars
      2002L -> "zz a zz a bbb c bbb c",          // count tie, unequal chars
      2003L -> "x y z x y z x y",                // overlapping duplicate windows
      2004L -> "q",                              // shorter than every window
      2005L -> "q r s",                          // only the 2- and 3-gram windows
      2006L -> "one two three four five six seven eight nine")  // no repeats, < 10
    random ++ repeating ++ embedded ++ handMade
  }

  private def charSum(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, t) => acc + length(t))

  private def exploded(df: DataFrame): DataFrame = {
    val toks = df.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val totals = toks.select(col("doc_id"), charSum(col("toks")).as("total_chars"))
    def windows(n: Int): DataFrame = toks
      .select(col("doc_id"), col("toks"),
        posexplode(GraftFunctions.grams(col("toks"), n)).as(Seq("off", "h")))
      .select(col("doc_id"), col("off"), col("h"),
        charSum(slice(col("toks"), col("off") + 1, lit(n))).as("adj"))
    val tops = topNs.map { n =>
      windows(n).groupBy("doc_id", "h")
        .agg(count(lit(1)).as("cnt"), max("adj").as("adj"))
        .groupBy("doc_id").agg(max(struct(col("cnt"), col("adj"))).as("best"))
        .select(col("doc_id"), (col("best.cnt") * col("best.adj")).as(s"top_$n"))
    }
    val tokChars = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), length(col("tok")).cast("long").as("chars"))
    val dups = dupNs.map { n =>
      val w = windows(n)
      val repeated = w.groupBy("doc_id", "h").count().filter(col("count") >= 2)
      w.join(repeated, Seq("doc_id", "h"))
        .select(col("doc_id"), explode(sequence(col("off"), col("off") + (n - 1))).as("pos"))
        .distinct()
        .join(tokChars, Seq("doc_id", "pos"))
        .groupBy("doc_id").agg(sum("chars").as(s"dup_$n"))
    }
    def frac(num: String, name: String): Column =
      round(coalesce(col(num), lit(0L)).cast("double") / col("total_chars"), 6).as(name)
    (tops ++ dups).foldLeft(totals)((acc, f) => acc.join(f, Seq("doc_id"), "left"))
      .select(col("doc_id") +:
        (topNs.map(n => frac(s"top_$n", s"top_${n}gram_frac")) ++
          dupNs.map(n => frac(s"dup_$n", s"dup_${n}gram_frac"))): _*)
  }

  private def byDoc(df: DataFrame): Map[Long, Seq[Double]] =
    df.collect().map(r => r.getLong(0) -> (1 to 5).map(r.getDouble)).toMap

  test("graft_rep_stats fractions are bit-equal to the exploded group-by reference") {
    val df = docs.toDF("doc_id", "text")
    val kernel = byDoc(TextAnalysis.repetitionSignals(df, col("text"), col("doc_id"),
      topNs, dupNs))
    val reference = byDoc(exploded(df))
    assert(kernel.keySet == docs.map(_._1).toSet)
    docs.foreach { case (id, text) =>
      assert(kernel(id) == reference(id), s"doc $id: '$text'")
    }
    // the fixture reaches the edges it claims to cover
    assert(reference(2004L) == Seq(0.0, 0.0, 0.0, 0.0, 0.0))
    assert(reference.values.exists(_(4) == 1.0), "some document repeats a 10-gram throughout")
    assert(reference.values.exists(v => v(3) > 0.0 && v(3) < 1.0), "partial 5-gram coverage")
    assert(reference.values.exists(v => v(4) > 0.0 && v(4) < 1.0), "partial 10-gram coverage")
  }
}
