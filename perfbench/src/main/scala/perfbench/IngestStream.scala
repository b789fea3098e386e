package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.streaming.{Frontier, IngestDedup}

/** `ingest_stream`: `IngestDedup.dedupedIngest` against a persisted
  * corpus index, fed fixed-size micro-batches through a memory stream.
  *
  * Set-up builds the corpus index with `Dedup.ensurePersistedIndex`
  * (the steady state the README documents: the index is an artifact of
  * an earlier run). One unit is a fresh stream over all batches into a
  * fresh survivor dir; a batch is timed from `addData` until
  * `processAllAvailable` returns. `settleEvery` is 1, so a unit
  * crosses several settles of the survivor frontier, and batches are
  * reported before, at and after the first one.
  *
  * Inputs (`--data`): `corpus.jsonl` and `batches.jsonl`, lines of
  * `{"batch": b, "doc_id": id, "text": t}` (corpus lines have no
  * batch). The unit writes the doc ids of `Frontier.readLayered` to
  * `survivors_<unit>.txt` for the correctness check. */
final class IngestStream(data: String, work: String) extends Workload {

  /** One stream per run: its post-settle batches cost over ten seconds
    * each, so a second, warm stream would not fit a run. */
  def units(traced: Boolean): Int = 1

  /** A settle at the end of every batch from the second on: batch 0
    * runs with no earlier survivors, batch 1 probes batch 0 and then
    * makes the first frontier, and every later batch probes a frontier
    * (and settles again). No batch can probe a frontier earlier, so
    * this puts the most batches of a run behind a settle. */
  private val settleEvery = 1
  private val ngram = 3
  private val threshold = 0.3
  private var index: Dedup.CorpusIndex = _
  private var indexBuildS = 0.0
  private var settleBatches = Set.empty[Int]
  private var survivors = 0

  private var batches: Seq[Seq[(Long, String)]] = Nil

  private def loadBatches(spark: SparkSession): Unit = if (batches.isEmpty) {
    val rows = spark.read.schema("batch INT, doc_id LONG, text STRING")
      .json(s"$data/batches.jsonl").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    batches = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.toSeq.sortBy(_._2).map(r => (r._2, r._3)))
  }

  override def setup(spark: SparkSession): Double = {
    val corpus = spark.read.schema("doc_id LONG, text STRING").json(s"$data/corpus.jsonl")
    val t0 = System.nanoTime()
    index = Dedup.ensurePersistedIndex(spark, s"$work/index", "pbidx") {
      Dedup.indexCorpus(corpus, col("text"), col("doc_id"), ngram)
    }
    indexBuildS = (System.nanoTime() - t0) / 1e9
    Main.progress(f"set-up: index built in $indexBuildS%.2f s")
    indexBuildS
  }

  private def frontiers(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(n => n.startsWith("frontier_") &&
        new java.io.File(s"$dir/$n/_SUCCESS").exists()).toSet

  def unit(spark: SparkSession, i: Int, trace: Trace): Seq[Op] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = s"$work/stream_$i"
    loadBatches(spark)
    val input = MemoryStream[(Long, String)]
    val q = trace.span("streaming.dedupedIngest") {
      IngestDedup.dedupedIngest(input.toDF().toDF("doc_id", "text"), index, dir,
        ngram, threshold, settleEvery)
    }
    val ops = ArrayBuffer[Op]()
    val settled = ArrayBuffer[Int]()
    try {
      for ((b, k) <- batches.zipWithIndex) {
        val before = frontiers(dir)
        val t0 = System.nanoTime()
        val error =
          if (ops.exists(_.error.isDefined)) Some("not run: an earlier batch failed")
          else try {
            trace.span("streaming.batch") {
              input.addData(b)
              q.processAllAvailable()
            }
            None
          } catch { case NonFatal(e) => Some(Main.describe(e)) }
        ops += Op(i, s"batch_$k", (System.nanoTime() - t0) / 1e9, error)
        if (frontiers(dir) != before) settled += k
        Main.progress(f"unit $i batch $k: ${ops.last.seconds}%.2f s" +
          (if (settled.lastOption.contains(k)) " (settled)" else ""))
      }
    } finally q.stop()
    if (i == 0) settleBatches = settled.toSet
    val ids = Frontier.readLayered(spark, dir).select("doc_id").as[Long].collect()
    if (i == 0) survivors = ids.length
    Files.write(Paths.get(s"$work/survivors_$i.txt"),
      ids.sorted.mkString("\n").getBytes(UTF_8))
    ops.toSeq
  }

  override def facts: Map[String, Any] = Map(
    "settle_batches" -> settleBatches.toSeq.sorted,
    "batches" -> batches.size, "settle_every" -> settleEvery)

  def layers(t: Trace): Map[String, Double] = {
    val spans = t.named("streaming.batch", 0)
    val firstSettle = if (settleBatches.isEmpty) Int.MaxValue else settleBatches.min
    def med(ks: Seq[Int]) = Main.median(ks.filter(_ < spans.size).map(spans(_).seconds))
    val ks = spans.indices
    // progress of the cold unit's query: the first query the session ran
    val progress = t.progress.batches.asScala.toSeq
    val firstRun = progress.headOption.map(_.progress.runId)
    val cold = progress.filter(p => firstRun.contains(p.progress.runId))
      .map(_.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap)
    Map(
      "stream.index_build_s" -> indexBuildS,
      // before any frontier exists; the batch that makes the first
      // one; the batches that probe a frontier (and settle again)
      "stream.batch_pre_settle_s" -> med(ks.filter(_ < firstSettle)),
      "stream.settle_batch_s" -> med(ks.filter(_ == firstSettle)),
      "stream.batch_post_settle_s" -> med(ks.filter(_ > firstSettle)),
      "stream.add_batch_ms" -> Main.median(cold.flatMap(_.get("addBatch"))),
      "stream.planning_ms" -> Main.median(cold.flatMap(_.get("queryPlanning"))),
      "stream.jobs_per_batch" -> Main.median(spans.map(_.counts.getOrElse("jobs", 0.0))),
      "stream.settles" -> settleBatches.size.toDouble,
      "stream.survivors" -> survivors.toDouble,
      "stream.bytes_written" -> spans.map(_.counts.getOrElse("bytes_written", 0.0)).sum)
  }
}
