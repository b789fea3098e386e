package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reads parquet globs the way the file sources do: each glob is
  * listed on the driver ([[Globs.expand]]) and Spark gets the sorted
  * paths. Handed a bare glob, Spark's `FileStreamSink` metadata probe
  * logs a WARN with a stack trace per read. */
object GlobRead {
  def parquet(spark: SparkSession, globs: String*): DataFrame =
    spark.read.parquet(Globs.expand(spark, globs): _*)
}
