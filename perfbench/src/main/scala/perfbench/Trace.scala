package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-level counters, fed by a listener the benchmark registers on
  * each session it creates. Read them through [[snapshot]], which first
  * drains the listener bus. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, shuffleWriteBytes, spillBytes, executorCpuNs,
      executorRunMs, recordsRead, bytesWritten, recordsWritten = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      executorCpuNs.addAndGet(m.executorCpuTime)
      executorRunMs.addAndGet(m.executorRunTime)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble,
      "shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
      "spill_bytes" -> spillBytes.get.toDouble,
      "executor_cpu_s" -> executorCpuNs.get / 1e9,
      "executor_run_s" -> executorRunMs.get / 1e3,
      "records_read" -> recordsRead.get.toDouble,
      "bytes_written" -> bytesWritten.get.toDouble,
      "records_written" -> recordsWritten.get.toDouble,
      "gc_s" -> Jvm.gcSeconds)
  }
}

/** Per-micro-batch progress of the streaming queries of one session. */
final class StreamProgress extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    batches.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private val peakBytes = new AtomicLong
  private val collections = new AtomicLong

  /** Start keeping the peak of the heap in use right after each
    * collection (young, mixed or full), summed over the heap pools: the
    * live heap as each collector left it, over the whole run and during
    * the units, not only at their boundaries. */
  def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakBytes.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
          collections.incrementAndGet()
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def gcCount: Long = collections.get

  /** The peak seen by [[watchHeap]]; a run that never collected gets
    * one full collection first, so the figure is never empty. */
  def heapPeakMb: Double = {
    if (collections.get == 0) {
      System.gc()
      val end = System.nanoTime() + 2000000000L
      while (collections.get == 0 && System.nanoTime() < end) Thread.sleep(20)
    }
    peakBytes.get / 1048576.0
  }
}

/** One span: a named interval, the span that encloses it, and the
  * Spark counter deltas over the interval. `unit` is the index of the
  * workload repetition the span belongs to (0 is the cold one). */
final case class Span(id: Int, parent: Int, unit: Int, name: String,
                      startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans wrap the benchmark's calls into the
  * engine's public functions; nothing is recorded inside the engine.
  * With `enabled = false` a span is just its body. Spans are written
  * out only when the run ends. */
final class Trace(var enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  private var nextId = 0
  var unit = 0
  val counters = new SparkCounters
  val progress = new StreamProgress
  private var sc: Option[SparkContext] = None

  /** Start counting on this session's Spark context. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    sc = Some(spark.sparkContext)
  }

  def counts(): Map[String, Double] = sc.map(counters.snapshot).getOrElse(Map.empty)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      val before = counts()
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val after = counts()
        spans += Span(id, parent, unit, name, t0, t1,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }

  def named(name: String, unit: Int): Seq[Span] =
    spans.toSeq.filter(s => s.name == name && s.unit == unit)

  def total(name: String, unit: Int): Double = named(name, unit).map(_.seconds).sum

  def count(name: String, key: String, unit: Int): Double =
    named(name, unit).map(_.counts.getOrElse(key, 0.0)).sum

  /** Duration minus the time covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.sortBy(_.startNs).map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "unit" -> s.unit,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfSeconds(s), "counts" -> s.counts))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
