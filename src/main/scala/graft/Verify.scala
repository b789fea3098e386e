package graft
import graft.queries.Registry
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/local_verify.py).
  * `SPARK_GRAFT_ONLY` narrows the dump to a comma-separated name list
  * (see [[Registry.sweep]]); the oracle file always lists every query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create("graft-verify")
    new java.io.File(outDir).mkdirs()
    Registry.sweep { d =>
      System.err.println(s"[verify] running ${d.name}")
      d.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${d.name}")
    }.foreach {
      case (name, Left(e)) => System.err.println(s"[verify] $name failed: ${e.getMessage}")
      case _ =>
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
