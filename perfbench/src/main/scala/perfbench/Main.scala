package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation of a workload (a pipeline run, a micro-batch, a
  * query) and how it ended. */
final case class Op(unit: Int, name: String, seconds: Double,
                    error: Option[String])

/** A workload: optional extra set-up on the fresh session, and one
  * repeatable unit of timed work. The harness runs a fixed number of
  * units, the cold one first. */
trait Workload {
  /** Units a run makes: the cold one, then warm ones. */
  def units(traced: Boolean): Int
  /** Extra set-up after the session exists (returns its seconds). */
  def setup(spark: SparkSession): Double = 0.0
  /** One unit of work, as operations; unit `i` writes under `work`. */
  def unit(spark: SparkSession, i: Int, trace: Trace): Seq[Op]
  /** Per-layer metrics from the traced cold unit. */
  def layers(trace: Trace): Map[String, Double]
  /** Facts about the run for its record. */
  def facts: Map[String, Any] = Map.empty
}

/** The benchmark's JVM side. It sets up the workload once, cold (the
  * session and the workload's own set-up, as a first run pays them),
  * runs the workload's fixed units, and writes one JSON record to
  * `--result`. With `--trace 1` the cold unit is traced, warm units
  * alternate untraced and traced, a sample of the registered queries
  * runs last when `--queries` names one, and the spans go to `--spans`.
  * `--seconds` is recorded but does not change the work: every run
  * makes the same units.
  *
  * Usage: perfbench.Main --workload candy_year|ingest_stream
  *   --data DIR --work DIR --seconds N --trace 0|1 --result FILE
  *   [--spans FILE] [--cpus N] [--queries FILE --tables DIR] */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val traced = opts("trace") == "1"
    val work = opts("work")
    val workload: Workload = opts("workload") match {
      case "candy_year" => new CandyYear(opts("data"), work)
      case "ingest_stream" => new IngestStream(opts("data"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Jvm.watchHeap()
    val trace = new Trace(false)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create("perfbench",
      cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + workload.setup(spark)
    if (traced) trace.attach(spark)

    // the cold unit, then the warm ones; a traced run alternates traced
    // and untraced warm units to measure the tracing overhead
    val ops = ArrayBuffer[Op]()
    val unitS = ArrayBuffer[(Int, Boolean, Double)]()
    var coldSpark = Map.empty[String, Double]
    for (i <- 0 until workload.units(traced)) {
      trace.unit = i
      trace.enabled = traced && i % 2 == 0
      val before = trace.counts()
      val t0 = System.nanoTime()
      val unitOps = try workload.unit(spark, i, trace) catch {
        case NonFatal(e) => Seq(Op(i, "unit", (System.nanoTime() - t0) / 1e9,
          Some(describe(e))))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (i == 0) coldSpark = trace.counts().map { case (k, v) =>
        k -> (v - before.getOrElse(k, 0.0)) } + ("wall_s" -> wall)
      unitS += ((i, trace.enabled, wall))
      progress(f"unit $i${if (trace.enabled) " (traced)" else ""}: $wall%.2f s")
      ops ++= unitOps
      spark.catalog.clearCache()
    }

    val sample = for (list <- opts.get("queries") if traced) yield {
      trace.unit = unitS.size
      trace.enabled = true
      val names = new String(Files.readAllBytes(Paths.get(list)), UTF_8)
        .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      val q = new QuerySample(opts("tables"), names, s"$work/queries")
      ops ++= q.run(spark, trace)
      q
    }
    trace.enabled = false

    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val cores = spark.sparkContext.defaultParallelism.toDouble
        val s = coldSpark
        val tracedWarm = unitS.filter(u => u._1 > 0 && u._2).map(_._3).toSeq
        val plainWarm = unitS.filter(u => u._1 > 0 && !u._2).map(_._3).toSeq
        workload.layers(trace) ++ sample.map(_.layers(trace)).getOrElse(Map.empty) ++ Map(
          "session.create_s" -> sessionS,
          "spark.jobs" -> s("jobs"), "spark.stages" -> s("stages"),
          "spark.tasks" -> s("tasks"),
          "spark.shuffle_write_bytes" -> s("shuffle_write_bytes"),
          "spark.spill_bytes" -> s("spill_bytes"),
          "spark.executor_cpu_s" -> s("executor_cpu_s"),
          "spark.gc_s" -> s("gc_s"),
          "spark.busy_ratio" -> s("executor_run_s") / (s("wall_s") * cores),
          "trace.overhead_s" ->
            (if (tracedWarm.isEmpty || plainWarm.isEmpty) 0.0
             else median(tracedWarm) - median(plainWarm)))
      }
    if (traced) opts.get("spans").foreach(p =>
      Files.write(Paths.get(p), trace.toJson.getBytes(UTF_8)))

    val record = Seq(
      "workload" -> opts("workload"),
      "seconds" -> opts("seconds").toDouble,
      "setup_s" -> setupS, "session_create_s" -> sessionS,
      "units" -> unitS.map { case (u, t, w) =>
        Map("unit" -> u, "traced" -> t, "wall_s" -> w) }.toSeq,
      "ops" -> ops.map(o => Map("unit" -> o.unit, "name" -> o.name,
        "seconds" -> o.seconds, "error" -> o.error)).toSeq,
      "heap_peak_mb" -> Jvm.heapPeakMb, "gc_count" -> Jvm.gcCount,
      "layers" -> layers,
      "facts" -> workload.facts,
      "env" -> Map(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "local_cores" -> spark.sparkContext.defaultParallelism))
    spark.stop()
    Files.write(Paths.get(opts("result")), Json.obj(record).getBytes(UTF_8))
  }

  /** A progress line on the run's log (not the result). */
  def progress(msg: String): Unit = println(s"[perfbench] $msg")

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
