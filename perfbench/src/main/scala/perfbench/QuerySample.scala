package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{GraftBridge, SparkSession}

import graft.SparkEntry

/** A sample of the registered queries (`SparkEntry.queries`), each run
  * once over the benchmark's small star-schema tables, for the queries
  * layer of a traced run.
  *
  * Each query is split into three spans, named after its family (the
  * name's prefix: `q`, `ev`, `dd`, ...):
  *  - `registry.<f>.build`: the query function builds its DataFrame
  *    (some run staging jobs here);
  *  - `registry.<f>.plan`: analysis, optimization and physical planning
  *    (`executedPlan`);
  *  - `registry.<f>.exec`: `collect()`, which materializes every column.
  * The collected rows are then written, untimed, to `<out>/<name>` as
  * parquet, for the check against the DuckDB replay of the query's
  * `SparkEntry.oracleSql`, which goes to `<out>/oracle_sql.json`. The
  * name `*` stands for every registered query. */
final class QuerySample(tables: String, sample: Seq[String], out: String) {

  val names: Seq[String] =
    if (sample == Seq("*")) SparkEntry.queries.keys.toSeq.sorted else sample

  val families = Seq("q", "ev", "p", "dd", "sim", "tx", "ds", "mm", "fc", "dq")

  def family(name: String): String = name.takeWhile(_ != '_').reverse
    .dropWhile(_.isDigit).reverse

  def run(spark: SparkSession, t: Trace): Seq[Op] = {
    new java.io.File(out).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    names.map(query(spark, t, _))
  }

  private def query(spark: SparkSession, t: Trace, name: String): Op = {
    val f = family(name)
    val t0 = System.nanoTime()
    val error = try {
      val df = t.span(s"registry.$f.build") { SparkEntry.queries(name)(spark, tables) }
      t.span(s"registry.$f.plan") { df.queryExecution.executedPlan }
      val rows = t.span(s"registry.$f.exec") { df.collect() }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"$out/$name")
      None
    } catch { case NonFatal(e) => Some(Main.describe(e)) }
    finally GraftBridge.releaseStaged()
    val s = (System.nanoTime() - t0) / 1e9
    Main.progress(f"query $name: $s%.2f s${error.fold("")(e => s" FAILED $e")}")
    Op(t.unit, s"query_$name", s, error)
  }

  def layers(t: Trace): Map[String, Double] = {
    def spans(f: String, phase: String) = t.named(s"registry.$f.$phase", t.unit)
    def secs(f: String, phase: String) = spans(f, phase).map(_.seconds).sum
    def cnt(f: String, phase: String, key: String) =
      spans(f, phase).map(_.counts.getOrElse(key, 0.0)).sum
    val perFamily = families.flatMap { f =>
      Seq(
        s"registry.$f.build_s" -> secs(f, "build"),
        s"registry.$f.plan_s" -> secs(f, "plan"),
        s"registry.$f.exec_s" -> secs(f, "exec"),
        s"registry.$f.build_jobs" -> cnt(f, "build", "jobs"),
        s"registry.$f.shuffle_bytes" -> Seq("build", "plan", "exec")
          .map(cnt(f, _, "shuffle_write_bytes")).sum)
    }
    def total(phase: String, g: (String, String) => Double) =
      families.map(g(_, phase)).sum
    perFamily.toMap ++ Map(
      "registry.build_s" -> total("build", secs),
      "registry.plan_s" -> total("plan", secs),
      "registry.exec_s" -> total("exec", secs),
      "registry.build_jobs" -> total("build", cnt(_, _, "jobs")),
      "registry.exec_jobs" -> total("exec", cnt(_, _, "jobs")),
      "registry.queries" -> names.size.toDouble)
  }
}
