package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, date_format}

/** Retry + resume semantics of the stage orchestrator. */
class OrchestrateSpec extends SparkSpec {

  private def freshCkpt(): String =
    java.nio.file.Files.createTempDirectory("graft_stages").toString

  test("a flaky stage succeeds within its retry budget") {
    val ckpt = freshCkpt()
    var calls = 0
    val r = Orchestrate.runStage(spark, ckpt, "flaky", attempts = 3) {
      calls += 1
      if (calls < 3) sys.error(s"transient failure $calls")
    }
    assert(r == Orchestrate.StageResult("flaky", 3, skipped = false))
    assert(Orchestrate.isComplete(spark, ckpt, "flaky"))
  }

  test("a completed stage is skipped on rerun — resume, don't recompute") {
    val ckpt = freshCkpt()
    var calls = 0
    Orchestrate.runStage(spark, ckpt, "s1")(calls += 1)
    val rerun = Orchestrate.runStage(spark, ckpt, "s1")(calls += 1)
    assert(calls == 1 && rerun.skipped)
    // a new logical run resets and re-executes
    Orchestrate.reset(spark, ckpt)
    val again = Orchestrate.runStage(spark, ckpt, "s1")(calls += 1)
    assert(calls == 2 && !again.skipped)
  }

  test("the last failure propagates once the budget is spent, and no marker lands") {
    val ckpt = freshCkpt()
    var calls = 0
    val e = intercept[RuntimeException] {
      Orchestrate.runStage(spark, ckpt, "doomed", attempts = 2) {
        calls += 1; sys.error(s"boom $calls")
      }
    }
    assert(calls == 2 && e.getMessage == "boom 2")
    assert(!Orchestrate.isComplete(spark, ckpt, "doomed"))
    // the NEXT run retries from scratch rather than skipping
    val r = Orchestrate.runStage(spark, ckpt, "doomed", attempts = 2) { calls += 1 }
    assert(calls == 3 && !r.skipped)
  }

  test("a fatal JVM error propagates immediately — no retry in a damaged process") {
    val ckpt = freshCkpt()
    var calls = 0
    val e = intercept[OutOfMemoryError] {
      Orchestrate.runStage(spark, ckpt, "fatal", attempts = 3) {
        calls += 1; throw new OutOfMemoryError("simulated heap exhaustion")
      }
    }
    assert(calls == 1 && e.getMessage == "simulated heap exhaustion")
    assert(!Orchestrate.isComplete(spark, ckpt, "fatal"))
  }

  test("staged pipeline resumes after a failed stage without redoing earlier ones") {
    val ckpt = freshCkpt()
    var ingests = 0
    Orchestrate.runStage(spark, ckpt, "ingest") { ingests += 1 }
    intercept[RuntimeException] {
      Orchestrate.runStage(spark, ckpt, "process", attempts = 1)(sys.error("cluster lost"))
    }
    // restart: ingest skips, process runs
    val r1 = Orchestrate.runStage(spark, ckpt, "ingest") { ingests += 1 }
    val r2 = Orchestrate.runStage(spark, ckpt, "process", attempts = 1) {}
    assert(ingests == 1 && r1.skipped && !r2.skipped)
  }

  test("the staged DAG ingests only its days window") {
    val tmp = freshCkpt()
    val window = Seq("20240202", "20240203")
    val r = Orchestrate.staged(spark, CandyData.inputDir, s"$tmp/_stages", tmp,
      days = Some(window))
    assert(r.map(_.name) == Seq("ingest", "process", "report") && !r.exists(_.skipped))
    val dates = spark.read.parquet(s"$tmp/_stages/daily_summary")
      .select(date_format(col("date"), "yyyyMMdd"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(dates == window, s"daily_summary dates: $dates")
  }
}
