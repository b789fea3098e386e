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

  test("a batch probing survivors stored without index columns fails loudly") {
    import spark.implicits._
    // output written before survivors carried their index columns:
    // batch_0 holds (doc_id, text) only, and the next batch's probe
    // must not treat its rows as unbanded, unshingled documents
    val dir = java.nio.file.Files.createTempDirectory("ingest_dedup_old_layout").toString
    Seq((1L, text("b"))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch_0")
    val corpus = Seq((100L, text("z"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)
    val batch = Seq((10L, text("b")), (11L, text("e"))).toDF("doc_id", "text")
    def probe(batchId: Long) = Dedup.incrementalIndexed(
      index +: IngestDedup.acceptedScope(spark, dir, batchId, batch.schema, col("doc_id")).toSeq,
      batch, col("text"), col("doc_id"), 3, 0.3)
    def failsLoudly(batchId: Long): Unit = {
      val e = intercept[Exception](probe(batchId).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("has no index columns")), e)
    }
    failsLoudly(1L)
    // and once a settle folds the old rows in with new-layout ones
    Frontier.settling(1, Frontier.Settle(dir, Seq("doc_id"))) { (_, _) =>
      Dedup.withIndexColumns(Seq((2L, text("c"))).toDF("doc_id", "text"), col("text"), 3)
        .write.mode("overwrite").parquet(s"$dir/batch_1")
    }(spark.emptyDataFrame, 1L)
    Frontier.settling(1, Frontier.Settle(dir, Seq("doc_id"))) { (_, _) => () }(
      spark.emptyDataFrame, 2L)
    assert(Frontier.scopeParts(spark, dir, 3L)._1.map(_._1).contains(1L))
    failsLoudly(3L)
  }

  test("settling every batch, a micro-batch runs a bounded number of Spark jobs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_dedup_jobs").toString
    val corpus = Seq((100L, text("z"))).toDF("doc_id", "text")
    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.dedupedIngest(
      input.toDF().toDF("doc_id", "text"), index, dir, settleEvery = 1)
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val perBatch = try {
      Seq(
        Seq((1L, text("b")), (2L, text("b"))),
        Seq((10L, text("c")), (11L, text("b").replace("b40", "qq"))),
        Seq((20L, text("z")), (21L, text("c")), (22L, text("d"))),
        Seq((30L, text("e")), (31L, text("d")))).map { rows =>
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        val before = jobs.get()
        input.addData(rows: _*)
        q.processAllAvailable()
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        jobs.get() - before
      }
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val survivors = Frontier.readLayered(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 10L, 22L, 30L), s"survivors: $survivors")
    info(s"jobs per batch: ${perBatch.mkString(", ")}")
    assert(perBatch.forall(_ <= JobCeiling), s"jobs per batch: $perBatch")
  }

  /** Jobs one micro-batch may run at `settleEvery = 1`: the probe's
    * query stages and survivor write, and the settle's fold beside it
    * (one schema job for all its inputs, its shuffle and its write).
    * Stored index columns and the one batch projection brought this
    * from 26. */
  private val JobCeiling = 22
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
