package graft.streaming

import graft.SparkSpec
import graft.io.GlobRead
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming ingestion loop must enforce all three dedup scopes
  * across micro-batch boundaries: settled corpus, within-batch, and
  * earlier-batch survivors — and its per-batch overwrite layout must
  * make reprocessing idempotent.
  */
class IngestDedupSpec extends SparkSpec {

  private def text(tag: String): String =
    (1 to 40).map(i => s"${tag}$i").mkString(" ")

  test("micro-batches dedup against corpus, themselves, and earlier batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_dedup").toString

    val corpus = Seq((100L, text("a"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)

    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.dedupedIngest(
      input.toDF().toDF("doc_id", "text"), index, dir)
    try {
      input.addData(
        (10L, text("a")),   // exact dup of settled corpus → dropped
        (11L, text("b")),   // novel → kept
        (12L, text("b")))   // within-batch dup of 11 → dropped
      q.processAllAvailable()
      input.addData(
        (20L, text("b")),   // dup of batch-1 SURVIVOR → dropped
        (21L, text("a")),   // corpus dup again → dropped
        (22L, text("c")))   // novel → kept
      q.processAllAvailable()
    } finally q.stop()

    val survivors = GlobRead.parquet(spark, s"$dir/batch_*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(11L, 22L))
  }

  test("the settled frontier is probed in-plan, same verdicts, no index artifacts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_dedup_settle").toString
    val corpus = Seq((100L, text("z"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)

    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.dedupedIngest(
      input.toDF().toDF("doc_id", "text"), index, dir, settleEvery = 2)
    try {
      input.addData((1L, text("b")))
      q.processAllAvailable() // batch 0
      input.addData((2L, text("c")))
      q.processAllAvailable() // batch 1
      input.addData((3L, text("d")))
      q.processAllAvailable() // batch 2: settles 0,1 → frontier_1
      input.addData(
        (10L, text("b")),                       // exact dup of a FRONTIER doc
        (11L, text("c").replace("c40", "qq")),  // near dup of a frontier doc
        (12L, text("d")),                       // exact dup of the TAIL delta
        (13L, text("e")))                       // novel
      q.processAllAvailable() // batch 3: probes frontier INDEX + tail
    } finally q.stop()

    val survivors = Frontier.readLayered(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 3L, 13L), s"survivors: $survivors")
    IngestDedupSpec.assertNoFrontierIndex(spark, dir)
  }

  test("settling every batch: batch 2 probes corpus, frontier and tail in one pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_dedup_post_settle").toString
    val corpus = Seq((100L, text("z"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)

    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.dedupedIngest(
      input.toDF().toDF("doc_id", "text"), index, dir, settleEvery = 1)
    try {
      input.addData((1L, text("b")))
      q.processAllAvailable() // batch 0
      input.addData((2L, text("c")))
      q.processAllAvailable() // batch 1: settles 0 → frontier_0, tail = batch_1
      input.addData(
        (10L, text("z")),                       // exact dup of the settled CORPUS
        (11L, text("b").replace("b40", "qq")),  // near dup of the FRONTIER doc
        (12L, text("c")),                       // exact dup of the TAIL delta
        (13L, text("e")))                       // novel
      q.processAllAvailable() // batch 2: all three scopes at once
    } finally q.stop()

    val survivors = Frontier.readLayered(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 13L), s"survivors: $survivors")
    IngestDedupSpec.assertNoFrontierIndex(spark, dir)
  }

  test("near-duplicates of earlier survivors are dropped too (LSH + verify scope)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_dedup_near").toString
    val corpus = Seq((100L, text("z"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)

    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.dedupedIngest(
      input.toDF().toDF("doc_id", "text"), index, dir)
    try {
      input.addData((1L, text("b")))
      q.processAllAvailable()
      // one token changed: 37/39 shared shingles (J ≈ 0.95) — a near
      // dup of batch-1's survivor, arriving a batch later
      input.addData((2L, text("b").replace("b40", "qq")))
      q.processAllAvailable()
    } finally q.stop()

    val survivors = GlobRead.parquet(spark, s"$dir/batch_*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L))
  }
}

object IngestDedupSpec {

  import org.scalatest.Assertions._

  /** The accepted scope is indexed in the probe plan: a run leaves no
    * `ci_*` catalog table carrying the stream's frontier tag (the
    * per-generation `ci_*_fr<md5(dir)>_<m>` index tables) and no
    * `_frindex_*` dir under the output dir. */
  def assertNoFrontierIndex(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Unit = {
    val tag = "_fr" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString + "_"
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith("ci_") && t.contains(tag))
    assert(tables.isEmpty, s"frontier index tables: ${tables.mkString(", ")}")
    val dirs = Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.startsWith("_frindex_"))
    assert(dirs.isEmpty, s"frontier index dirs under $dir: ${dirs.mkString(", ")}")
  }
}
