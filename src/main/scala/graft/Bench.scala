package graft

import graft.queries.Registry
import org.apache.spark.sql.DataFrame

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric","value","unit","queries","sf"}.
  *
  * SPARK_GRAFT_MULT (default 1) runs the same queries at scale: above
  * 1 the tables are first replicated ×MULT with salted keys and
  * vocabularies (`Tables.replica`, written once, untimed) and the
  * queries read that copy; `sf` then reads `<sf dir basename>x<MULT>`.
  *
  * A short warmup (schema reads + one full query) runs untimed first
  * so codegen/JIT startup isn't charged to whichever query happens to
  * run first; queries then execute in name order for run-to-run
  * comparability, through [[Registry.sweep]] (which also reads the
  * `SPARK_GRAFT_ONLY` filter for focused A/B timing). Each timing
  * covers building the query and [[timedAction]].
  *
  * Artifacts: the stdout line must survive the driver's bounded
  * 2000-char tail capture WITH sbt's ~76-char "[success]" trailer
  * after it — six rounds of BENCH_r0N.json carried `parsed: null`
  * because the 3dp/full-path line ran ~1940+ chars and lost its
  * opening brace to the buffer edge. The line therefore keeps
  * timings to 2 decimals, abbreviates the sf dir to its basename,
  * omits the errors array when empty, drops to 1 decimal if the query
  * count pushes it past the budget, and as a last resort drops the
  * per-query map (total + nqueries + errors still parse). The FULL
  * record —
  * per-run times, not just the min, plus per-query session-state
  * diagnostics (heap, cumulative GC, loaded classes, persisted
  * RDDs) — goes to its own file (SPARK_GRAFT_BENCH_OUT, default
  * BENCH_FULL.json in the repo).
  */
object Bench {
  private def gcMillis: Long = {
    import scala.collection.JavaConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** One /proc/loadavg line ("1m 5m 15m running/total lastpid") — the
    * box-state evidence the artifact carries so a slow record is
    * attributable to ambient load without a code bisect (the r11
    * +14% drift needed one). Empty string off-Linux. */
  private def loadavg: String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Throwable => "" }

  /** Locale-pinned fixed-point render: the JVM default locale may use
    * a comma decimal separator, which corrupts the JSON artifact. */
  private def fp(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** The bounded stdout artifact. Degrades gracefully as the query
    * count grows — 2dp full map → 1dp full map → 1dp PARTIAL map
    * (slowest entries first until the budget is spent, `nqueries`
    * recording the true count; the fastest queries are the ones a
    * round-over-round comparison can afford to read from
    * BENCH_FULL.json instead) → bare total+nqueries — rather than
    * silently reintroducing the truncated-line failure that cost
    * seven rounds of `parsed: null`. Factored out of main so
    * BenchLineSpec can pin the budget invariant at synthetic query
    * counts. */
  private[graft] def renderStdoutLine(results: Seq[(String, Double)],
                                      sfName: String,
                                      budget: Int = 1900): String = {
    val errList = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val errField =
      if (errList.isEmpty) "" else s""","errors":${errList.mkString("[", ",", "]")}"""
    // Total rendered at the same precision as the per-query values so a
    // consumer cross-checking sum(queries) ≈ value sees only rounding of
    // the individual entries, not a precision mismatch.
    val total = results.map(_._2).filter(_ >= 0).sum
    def line(decimals: Int): String = {
      val qs = results.map { case (k, v) => s""""$k":${fp(v, decimals)}""" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fp(total, decimals)},"unit":"sec","queries":$qs$errField,"sf":"$sfName"}"""
    }
    def partial: Option[String] = {
      val prefix = s"""{"metric":"total","value":${fp(total, 1)},"unit":"sec","nqueries":${results.size},"queries":{"""
      val suffix = s"""}$errField,"sf":"$sfName"}"""
      // slowest first (ties by name): the entries a round-over-round
      // comparison reads; failed (-1) rows sort last and live in errors
      val entries = results.sortBy { case (k, v) => (-v, k) }
        .map { case (k, v) => s""""$k":${fp(v, 1)}""" }
      // stop at the first entry that doesn't fit, so the map is exactly
      // "the K slowest queries" — no cherry-picking by name length
      val fixed = prefix.length + suffix.length
      val kept = scala.collection.mutable.ListBuffer.empty[String]
      var len = fixed
      var full = false
      entries.foreach { e =>
        val add = e.length + (if (kept.isEmpty) 0 else 1)
        if (!full && len + add <= budget) { kept += e; len += add } else full = true
      }
      if (kept.isEmpty) None else Some(prefix + kept.mkString(",") + suffix)
    }
    Seq(line(2), line(1)).find(_.length <= budget)
      .orElse(partial.filter(_.length <= budget))
      .getOrElse(
        s"""{"metric":"total","value":${fp(total, 2)},"unit":"sec","nqueries":${results.size}$errField,"sf":"$sfName"}""")
  }

  /** The timed action: a `noop` write runs the whole plan and reads
    * every column, at no output cost. A `count()` would let Catalyst
    * prune whatever it never reads — a window, a join, a kernel call —
    * and time less than the query computes. */
  private[graft] def timedAction(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.get("SPARK_GRAFT_MULT").flatMap(_.toIntOption).getOrElse(1)
    val spark = GraftSession.create("graft-bench")
    val tablesDir = Tables.replica(spark, sfDir, mult)

    // Warmup: file listing + parquet footers + codegen/JIT paths.
    Tables.names.foreach { t =>
      try Tables(spark, tablesDir, t).schema catch { case _: Throwable => }
    }
    try timedAction(SparkEntry.queries("q5_pricing_summary")(spark, tablesDir))
    catch { case _: Throwable => }

    // Runs per query: the reported number is the MIN across runs, so a
    // background-load spike doesn't masquerade as a regression. Min,
    // not mean: the minimum is the best estimate of the plan's
    // intrinsic cost. The runs are full PASSES over the whole query
    // list, not back-to-back repeats of each query: a multi-minute
    // ambient spike (this box carries ~2 cores of bursty background
    // load) inflates BOTH back-to-back repetitions of a contiguous
    // alphabetical band — the r4/r5 "mid-sweep inflation", which the
    // r6 diagnostics traced to exactly such spikes (heap/GC/class
    // counts stay flat across the sweep; see BASELINE.md) — but lands
    // on different queries in different passes, so min-across-passes
    // removes it.
    val runs = sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption).getOrElse(2).max(1)
    val classMx = java.lang.management.ManagementFactory.getClassLoadingMXBean
    val rt = Runtime.getRuntime
    val runTimes = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val diags = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    // box-state samples: before the sweep and after each pass
    val boxSamples = scala.collection.mutable.ListBuffer(loadavg)
    (1 to runs).foreach { _ =>
      Registry.sweep { d =>
        val t0 = System.nanoTime()
        timedAction(d.build(spark, tablesDir))
        (System.nanoTime() - t0) / 1e9
      }.foreach { case (name, outcome) =>
        // A failed query is recorded as -1.0 so crashes are visibly distinct
        // from fast successes in the JSON line.
        val t = outcome match {
          case Right(secs) => secs
          case Left(e) => System.err.println(s"BENCH FAIL $name: ${e.getMessage}"); -1.0
        }
        runTimes(name) = runTimes.getOrElse(name, Vector.empty) :+ t
        // Session-state snapshot AFTER this query: what accumulates
        // across the sweep shows up as a trend in these columns.
        diags(name) = Map(
          "heap_mb" -> (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024),
          "gc_ms" -> gcMillis,
          "classes" -> classMx.getLoadedClassCount.toLong,
          "rdds" -> spark.sparkContext.getPersistentRDDs.size.toLong)
      }
      boxSamples += loadavg
    }
    val results = runTimes.keys.toSeq.sorted.map { name =>
      val times = runTimes(name)
      (name, if (times.exists(_ < 0)) -1.0 else times.min, times, diags(name))
    }
    val errs = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // "errors" only when non-empty, sf as basename: every byte on this
    // line competes with the tail-capture budget (see scaladoc).
    // getFileName is null for "/" or "" — fall back to the raw string.
    val sfName = Option(java.nio.file.Paths.get(sfDir).getFileName)
      .fold(sfDir)(_.toString) + (if (mult > 1) s"x$mult" else "")
    println(renderStdoutLine(results.map { case (k, v, _, _) => (k, v) }, sfName))

    val fullRows = results.map { case (k, v, ts, diag) =>
      val d = diag.toSeq.sortBy(_._1).map { case (dk, dv) => s""""$dk":$dv""" }.mkString(",")
      s""""$k":{"min":$v,"runs":[${ts.mkString(",")}],$d}"""
    }.mkString("{", ",", "}")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    // `sf` matches the stdout line's basename so the two artifacts join on
    // it; the full path is preserved separately as `sf_dir`.
    // box context: core count + /proc/loadavg sampled before the sweep
    // and after each pass — enough to attribute a slow record to
    // ambient load (the r11 drift) without re-running the other side
    val box = s""""box":{"cpus":${rt.availableProcessors()},"loadavg":${
      boxSamples.map(s => "\"" + s + "\"").mkString("[", ",", "]")}}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfName","sf_dir":"$tablesDir","runs_per_query":$runs,$box,"queries":$fullRows,"errors":$errs}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"BENCH_OUT write failed: $e") }
    spark.stop()
  }
}
