package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Stage orchestration semantics of the reference's Airflow DAG
  * (src/candy_store_dag.py:14-22: `retries: 3` + `retry_delay` in
  * default_args; a failed task re-executes its WHOLE body), made
  * explicit as a library: bounded retries with backoff, plus
  * completion markers so a restarted run resumes from the failed
  * stage instead of recomputing finished ones.
  *
  * Idempotency contract: every graft sink writes `mode=overwrite`
  * into its own directory, so re-executing a stage body after a
  * mid-write crash is safe — the retry simply rewrites the outputs.
  * The marker is written only AFTER the body returns, through the
  * Hadoop FileSystem of the checkpoint path (works on HDFS/object
  * stores, where a restarted driver on another machine must still
  * see it).
  */
object Orchestrate {

  final case class StageResult(name: String, attemptsUsed: Int, skipped: Boolean)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def marker(dir: String, name: String): Path =
    new Path(s"$dir/_markers/_COMPLETE_$name")

  /** True if `name` completed in a previous (or this) run. */
  def isComplete(spark: SparkSession, ckpt: String, name: String): Boolean =
    fs(spark, ckpt).exists(marker(ckpt, name))

  /** Forget completion state — a NEW logical run over the same
    * checkpoint dir (Airflow's new run_id) starts from stage one. */
  def reset(spark: SparkSession, ckpt: String): Unit =
    fs(spark, ckpt).delete(new Path(s"$ckpt/_markers"), true)

  /** Run `body` as stage `name`: skip if already complete, otherwise
    * try up to `attempts` times (sleeping `backoffMs` between tries)
    * and record completion. The last failure propagates once the
    * budget is spent — exactly once per DAG run, like the reference's
    * task-level retry. */
  def runStage(spark: SparkSession, ckpt: String, name: String,
               attempts: Int = 3, backoffMs: Long = 0L)(body: => Unit): StageResult = {
    require(attempts >= 1, s"stage $name needs a positive attempt budget")
    if (isComplete(spark, ckpt, name)) return StageResult(name, 0, skipped = true)
    var used = 0
    var lastFailure: Throwable = null
    while (used < attempts) {
      used += 1
      try {
        body
        val f = fs(spark, ckpt)
        f.mkdirs(new Path(s"$ckpt/_markers"))
        f.create(marker(ckpt, name), true).close()
        return StageResult(name, used, skipped = false)
      } catch {
        // Only retry recoverable failures. Fatal JVM errors (OOM,
        // StackOverflow, linkage) propagate immediately — retrying them
        // inside the same damaged process is what a real scheduler never
        // does; it lets the task die and restarts the worker instead.
        case NonFatal(t) =>
          lastFailure = t
          if (used < attempts && backoffMs > 0) Thread.sleep(backoffMs)
      }
    }
    throw lastFailure
  }

  /** The full staged pipeline under retry + resume semantics — the
    * DAG run `load_data >> batch_processing >> forecasting_and_output`
    * with `retries=3`. A rerun over the same checkpoint dir resumes
    * after the last completed stage; pass a fresh `ckpt` (or call
    * `reset`) for a new logical run. `days` narrows ingestion to those
    * days' transaction files (the MONGO_START_DATE/MONGO_END_DATE
    * window); `None` ingests every day file. */
  def staged(spark: SparkSession, dataDir: String, ckpt: String, outDir: String,
             reloadDaily: Boolean = false, horizon: Int = 1,
             model: () => graft.forecast.Forecaster =
               () => new graft.forecast.LinearTrendForecaster(),
             attempts: Int = 3, backoffMs: Long = 0L,
             log: Option[String => Unit] = None,
             days: Option[Seq[String]] = None): Seq[StageResult] = Seq(
    runStage(spark, ckpt, "ingest", attempts, backoffMs) {
      CandyStages.ingest(spark, dataDir, ckpt, days)
    },
    runStage(spark, ckpt, "process", attempts, backoffMs) {
      CandyStages.process(spark, ckpt, reloadDaily, log)
    },
    runStage(spark, ckpt, "report", attempts, backoffMs) {
      CandyStages.report(spark, ckpt, outDir, horizon, model, log)
    })
}
