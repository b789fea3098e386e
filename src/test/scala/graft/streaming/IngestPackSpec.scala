package graft.streaming

import graft.SparkSpec
import graft.io.GlobRead
import graft.operators.Sharding
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming shard packing must equal batch-mode packShards over the
  * concatenated stream, never rewrite an earlier batch's assignments,
  * and reject out-of-order keys.
  */
class IngestPackSpec extends SparkSpec {

  private def toks(n: Int): String = (1 to n).map(i => s"t$i").mkString(" ")

  test("stream assignments equal batch packShards over the full corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_pack").toString

    val b1 = Seq((1L, toks(40)), (2L, toks(70)), (3L, toks(10)))
    val b2 = Seq((4L, toks(95)), (5L, toks(5)))
    val b3 = Seq((6L, toks(100)), (7L, toks(1)))

    val input = MemoryStream[(Long, String)]
    val q = IngestPack.packedIngest(input.toDF().toDF("doc_id", "text"),
      "doc_id", size(split(col("text"), " ")), dir,
      budget = 100L, blockSize = 2L)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      val afterB1 = spark.read.parquet(s"$dir/_assign/batch_0")
        .select("doc_id", "cum", "shard_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      // batch-0's file is byte-stable: later batches never rewrite it
      val b1Again = spark.read.parquet(s"$dir/_assign/batch_0")
        .select("doc_id", "cum", "shard_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(b1Again == afterB1)
    } finally q.stop()

    val streamed = GlobRead.parquet(spark, s"$dir/_assign/batch_*")
      .select("doc_id", "cum", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val want = Sharding.packShards(all, "doc_id",
        size(split(col("text"), " ")), budget = 100L, blockSize = 2L)
      .select("doc_id", "cum", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == want && streamed.size == 7)
  }

  test("assignments survive a settle bit-for-bit; the boundary probe holds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_pack_settle").toString
    val batches = Seq(
      Seq((1L, toks(40)), (2L, toks(70))), Seq((3L, toks(10))),
      Seq((4L, toks(95))), Seq((5L, toks(5)), (6L, toks(100))),
      Seq((7L, toks(1))))
    val input = MemoryStream[(Long, String)]
    val q = IngestPack.packedIngest(input.toDF().toDF("doc_id", "text"),
      "doc_id", size(split(col("text"), " ")), dir,
      budget = 100L, blockSize = 2L, settleEvery = 2)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // deltas folded along the way, and the running token boundary
    // carried through every settle: the result still equals batch mode
    val streamed = Frontier.readLayered(spark, s"$dir/_assign")
      .select("doc_id", "cum", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = batches.flatten.toDF("doc_id", "text")
    val want = Sharding.packShards(all, "doc_id",
        size(split(col("text"), " ")), budget = 100L, blockSize = 2L)
      .select("doc_id", "cum", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == want && streamed.size == 7)
    val names = new org.apache.hadoop.fs.Path(s"$dir/_assign")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/_assign"))
      .map(_.getPath.getName).toSet
    assert(names.count(_.startsWith("frontier_")) == 1,
      s"expected a settled frontier in $names")
    assert(names.count(_.startsWith("batch_")) <= 2, s"tail too long: $names")
  }

  test("out-of-order keys are rejected, monotone keys accepted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_pack_mono").toString
    val input = MemoryStream[(Long, String)]
    val q = IngestPack.packedIngest(input.toDF().toDF("doc_id", "text"),
      "doc_id", size(split(col("text"), " ")), dir,
      budget = 100L, blockSize = 2L)
    try {
      input.addData((10L, toks(5))); q.processAllAvailable()
      // a LOWER key than the settled max must fail the batch
      input.addData((9L, toks(5)))
      val failed = scala.util.Try(q.processAllAvailable()).isFailure
      assert(failed, "out-of-order batch was accepted")
    } finally q.stop()
  }
}
