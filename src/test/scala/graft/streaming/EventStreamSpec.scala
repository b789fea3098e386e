package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.io.GlobRead
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import EventStream.Event

/** Drives the streaming operators through a real micro-batch engine
  * (MemoryStream source → memory sink), verifying window results,
  * late-data handling under the watermark, and stateful session
  * closure across triggers.
  */
class EventStreamSpec extends SparkSpec {

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("windowed agg over a stream matches the batch plan on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedAgg(input.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(2), 1, "click", 2.0),
      Event(3, ts(6), 2, "view", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the 10:00 + 10:05 windows
    input.addData(Event(4, ts(30), 1, "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 10:05:00.0", "view", 1L, 5.0)))
  }

  test("parquet file-source stream reproduces the batch windowed aggregation") {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val src = graft.Tables.eventsNanos(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("ev_stream").toString
    src.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(src.schema).parquet(dir)
    val q = EventStream.windowedAgg(stream).writeStream.format("memory")
      .queryName("file_win").outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    val streamed = spark.table("file_win").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()

    val batch = EventStream.windowedAgg(src).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"stream/batch divergence: ${streamed.size} vs ${batch.size}")
  }

  test("streaming dedup drops redelivered event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.dedupWithinWatermark(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(Event(1, ts(0), 1, "click", 1.0), Event(1, ts(1), 1, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(1, ts(2), 1, "click", 1.0), Event(2, ts(3), 1, "view", 2.0))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0)).toSeq.sorted
    q.stop()
    assert(ids == Seq(1L, 2L), s"expected one row per event id, got $ids")
  }

  test("stream-static enrichment joins each micro-batch against the dim table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = EventStream.enrichWithDim(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "view", 2.0),
      Event(3, ts(2), 9, "view", 3.0)) // user 9 absent from dim → null tier
    q.processAllAvailable()
    val got = spark.table("enrich_out").collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier"))).toMap
    q.stop()
    assert(got == Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
  }

  test("foreachBatch sink lands deduped micro-batches as parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("fb_sink").toString
    val input = MemoryStream[Event]
    val q = EventStream.dedupWithinWatermark(input.toDF())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.io.Sinks.parquet(batch.toDF(), s"$dir/batch_$id")
      }
      .outputMode(OutputMode.Append()).start()
    input.addData(Event(1, ts(0), 1, "click", 1.0), Event(1, ts(1), 1, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(2, ts(2), 2, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val ids = GlobRead.parquet(spark, s"$dir/batch_*").collect()
      .map(_.getAs[Long]("event_id")).toSeq.sorted
    assert(ids == Seq(1L, 2L), s"expected deduped ids in the sink, got $ids")
  }

  test("stream-stream interval join attributes clicks to preceding views per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStream.viewClickJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("vc_out")
      .outputMode(OutputMode.Append()).start()
    views.addData(Event(10, ts(0), 1, "view", 0.0), Event(11, ts(0), 2, "view", 0.0))
    clicks.addData(
      Event(20, ts(3), 1, "click", 0.0),   // 3 min after user 1's view → match
      Event(21, ts(25), 2, "click", 0.0))  // 25 min after user 2's view → outside window
    q.processAllAvailable()
    val got = spark.table("vc_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
      .toSet
    q.stop()
    assert(got == Set((1L, 10L, 20L)))
  }

  test("sessionize closes a session on gap and keeps one open across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapUs = 10L * 60 * 1000000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()

    // user 1: two events 2 min apart (one session), then a 50-min gap
    input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(2), 1, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(3, ts(52), 1, "click", 1.0))
    q.processAllAvailable()
    // the 50-min jump closes session 1 (2 events); session 2 stays open
    val afterGap = spark.table("sess_out").as[EventStream.SessionOut].collect()
    assert(afterGap.exists(s => s.user_id == 1 && s.session_id == 1 && s.n_events == 2),
      s"expected closed first session, got ${afterGap.toSeq}")
    assert(!afterGap.exists(s => s.session_id == 2), "second session must still be open")
    q.stop()
  }
}
