package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Malformed-input policy of the CSV source: quarantine (PERMISSIVE +
  * corrupt-record capture), drop, and fail-fast — ingest at scale
  * must choose explicitly, not discover rot 90 TB in. */
class SourcesSpec extends SparkSpec {

  private def writeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("csv_bad").toString
    val f = java.nio.file.Paths.get(dir, "rows.csv")
    java.nio.file.Files.write(f,
      "id,qty\n1,10\nnot_a_number,oops\n3,30\n".getBytes)
    dir
  }

  private val base = StructType(Seq(
    StructField("id", LongType), StructField("qty", LongType)))

  test("PERMISSIVE captures the malformed row in _corrupt_record") {
    val dir = writeFixture()
    val schema = base.add(StructField("_corrupt_record", StringType))
    val df = CsvSource(dir, schema).load(spark).cache()
    assert(df.count() == 3)
    val bad = df.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad(0).getAs[String]("_corrupt_record")
      .startsWith("not_a_number"))
    assert(df.filter(col("id").isNotNull).count() == 2)
    df.unpersist()
  }

  test("DROPMALFORMED silently drops the bad row") {
    val dir = writeFixture()
    val df = CsvSource(dir, base, Map("mode" -> "DROPMALFORMED")).load(spark)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("compaction rewrites many small parquet files into few sized ones") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("cmp_in").toString
    val out = java.nio.file.Files.createTempDirectory("cmp_out").toString
    (1L to 2000L).toDF("id").repartition(40).write.mode("overwrite").parquet(in)
    def parts(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts(in) == 40)
    Sinks.compactParquet(spark, in, out, targetFileBytes = 1L * 1024 * 1024)
    assert(parts(out) < 5, s"expected few compacted files, got ${parts(out)}")
    assert(spark.read.parquet(out).count() == 2000)
    assert(spark.read.parquet(out).agg(org.apache.spark.sql.functions.sum("id"))
      .collect()(0).getLong(0) == 2001000L)
  }

  test("FAILFAST surfaces the malformed row as an error") {
    val dir = writeFixture()
    val df = CsvSource(dir, base, Map("mode" -> "FAILFAST")).load(spark)
    intercept[org.apache.spark.SparkException] { df.collect() }
  }

  test("MongoExtJsonSource: wrapped/plain/mixed export round-trips to the target schema") {
    val dir = java.nio.file.Files.createTempDirectory("mongo_ext").toString
    // a mongoexport-shaped NDJSON fixture: canonical $numberLong ids,
    // relaxed plain ints, $date timestamps, an $oid the schema skips,
    // a null qty (the candy data's cancelled-line shape), and one
    // all-plain document (relaxed export) — one reader handles all
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "transactions_20240201.json"),
      ("""{"_id":{"$oid":"65bc0a"},"transaction_id":{"$numberLong":"101"},"customer_id":7,"timestamp":{"$date":"2024-02-01T07:11:31.354001"},"items":[{"product_id":{"$numberLong":"3"},"product_name":"choc","qty":{"$numberLong":"2"}},{"product_id":4,"product_name":"gum","qty":null}]}""" +
        "\n" +
        """{"transaction_id":202,"customer_id":{"$numberLong":"9"},"timestamp":"2024-02-01T08:00:00.000000","items":[{"product_id":5,"product_name":"mint","qty":1}]}""" +
        "\n").getBytes)
    val df = MongoExtJsonSource(
      Seq(s"$dir/transactions_*.json"), graft.pipeline.Model.transactionSchema)
      .load(spark)
    // drop-in contract: the loaded frame has EXACTLY the declared
    // schema, so the candy pipeline runs from it unchanged
    assert(df.schema == graft.pipeline.Model.transactionSchema, df.schema.treeString)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getSeq[org.apache.spark.sql.Row](3).map(i =>
        (i.getLong(0), i.getString(1), if (i.isNullAt(2)) null else i.getLong(2))))).toSeq
    assert(rows.toSet == Set(
      (101L, 7L, "2024-02-01T07:11:31.354001",
        Seq((3L, "choc", 2L), (4L, "gum", null))),
      (202L, 9L, "2024-02-01T08:00:00.000000",
        Seq((5L, "mint", 1L)))), rows.mkString("\n"))
    // and the pipeline's first stage consumes it as-is: explode +
    // null-filter behave exactly as over the JsonSource form
    val items = graft.pipeline.CandyPipeline.normalize(df)
    assert(items.count() == 2, // null-qty line dropped by T3
      items.collect().mkString(";"))
  }

  test("MongoExtJsonSource: canonical epoch $date unwraps alongside relaxed " +
      "ISO — per-leaf, even mixed inside one document") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("mongo_canon").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("tags", ArrayType(StructType(Seq(
        StructField("t", TimestampType), StructField("n", LongType)))))))
    // epoch 1706771491000 ms == 2024-02-01T07:11:31Z — rows 1/2/4's
    // timestamps are the SAME instant spelled three ways; row 4 mixes
    // canonical and relaxed leaves in ONE document (each parse's
    // partial result must keep the other's leaves independent)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "canon.json"),
      ("""{"id":{"$numberLong":"1"},"ts":{"$date":{"$numberLong":"1706771491000"}},"tags":[{"t":{"$date":{"$numberLong":"1706771491000"}},"n":{"$numberLong":"5"}}]}""" +
        "\n" +
        """{"id":2,"ts":{"$date":"2024-02-01T07:11:31Z"},"tags":[{"t":{"$date":"2024-02-01T07:11:31Z"},"n":6}]}""" +
        "\n" +
        """{"id":{"$numberLong":"4"},"ts":{"$date":{"$numberLong":"1706771491000"}},"tags":[{"t":{"$date":"2024-02-01T07:11:31Z"},"n":7}]}""" +
        "\n").getBytes)
    val df = MongoExtJsonSource(Seq(s"$dir/canon.json"), schema).load(spark)
    assert(df.schema == schema, df.schema.treeString)
    val rows = df.collect().map(r => (r.getLong(0), r.getTimestamp(1),
      r.getSeq[org.apache.spark.sql.Row](2).map(i =>
        (i.getTimestamp(0), i.getLong(1))))).sortBy(_._1)
    val want = rows.head._2 // one instant, three spellings
    assert(want != null)
    rows.foreach { case (id, ts, tags) =>
      assert(ts == want, s"row $id: ts=$ts want=$want")
      tags.foreach { case (t, _) => assert(t == want, s"row $id tag ts=$t") }
    }
    assert(rows.toSeq.map(t => (t._1, t._3.map(_._2))) ==
      Seq((1L, Seq(5L)), (2L, Seq(6L)), (4L, Seq(7L))), rows.mkString("\n"))
  }

  test("MongoExtJsonSource refuses to load without PERMISSIVE partial " +
      "results (the per-leaf-null contract the coalesce depends on)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val child = spark.newSession()
    child.conf.set("spark.sql.json.enablePartialResults", "false")
    val e = intercept[IllegalArgumentException] {
      MongoExtJsonSource(Seq("/nonexistent.json"), schema).load(child)
    }
    assert(e.getMessage.contains("enablePartialResults"), e.getMessage)
  }

  test("JsonSource: a glob that matches nothing still fails with PATH_NOT_FOUND") {
    val dir = java.nio.file.Files.createTempDirectory("json_glob_empty").toString
    val schema = StructType(Seq(StructField("transaction_id", LongType)))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      JsonSource(Seq(s"$dir/transactions_*.json"), schema).load(spark)
    }
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }
}
