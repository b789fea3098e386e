package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A stream stores each survivor's index columns next to it
  * (`Dedup.incrementalIndexed`) and probes them as plain projections
  * (`Dedup.storedIndex`). Those projections must be bit-equal to
  * `Dedup.indexCorpus` of the same accepted text: the same md5s, the
  * same (doc_id, band, bucket) rows and the same shingle arrays, short
  * documents (no bucket row, no shingle set) included. */
class StoredIndexSpec extends SparkSpec {

  import spark.implicits._

  private val n = 3

  test("stored index projections equal indexCorpus of the accepted text") {
    val rng = new scala.util.Random(77)
    val vocab = Vector("a", "b", "cc", "dd", "eee", "zz", "q", "é", "日本")
    def words(k: Int) = Seq.fill(k)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val novel = (1 to 40).map(i => i.toLong -> words(60))
    val batch = (novel ++ Seq(
      41L -> novel.head._2,            // exact dup: dropped
      42L -> (novel(1)._2 + " zz"),    // near dup: dropped
      43L -> "a b",                    // fewer than n tokens: kept, unbanded
      44L -> "a b c")).toDF("doc_id", "text")
    val corpus = Seq(100L -> words(60)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("stored_index").toString
    Dedup.incrementalIndexed(
        Seq(Dedup.indexCorpus(corpus, col("text"), col("doc_id"), n)),
        batch, col("text"), col("doc_id"), n, 0.3)
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(batch.schema ++ Dedup.indexSchema)
    val accepted = spark.read.schema(schema).parquet(dir)

    val stored = Dedup.storedIndex(accepted, col("doc_id"))
    val rebuilt = Dedup.indexCorpus(accepted.select("doc_id", "text"),
      col("text"), col("doc_id"), n)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

    assert(rows(accepted.select("doc_id")).map(_.getLong(0)).toSet ==
      ((1L to 40L).toSet ++ Set(43L, 44L)))
    assert(rows(stored.md5s) == rows(rebuilt.md5s))
    assert(rows(stored.buckets.select("doc_id", "band", "bucket")) ==
      rows(rebuilt.buckets.select("doc_id", "band", "bucket")))
    assert(rows(stored.shingleSets.select("doc_id", "sh")) ==
      rows(rebuilt.shingleSets.select("doc_id", "sh")))
    assert(stored.buckets.filter(col("doc_id") === 43L).isEmpty)
    assert(stored.shingleSets.filter(col("doc_id") === 43L).isEmpty)
  }

  test("the stored index plans no kernel over the stored rows") {
    val dir = java.nio.file.Files.createTempDirectory("stored_index_plan").toString
    Dedup.withIndexColumns(Seq(1L -> "a b c d").toDF("doc_id", "text"), col("text"), n)
      .write.mode("overwrite").parquet(dir)
    val ix = Dedup.storedIndex(spark.read.parquet(dir), col("doc_id"))
    Seq(ix.md5s, ix.buckets, ix.shingleSets).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_minhash") && !plan.contains("graft_grams") &&
        !plan.contains("md5("), plan)
    }
  }
}
