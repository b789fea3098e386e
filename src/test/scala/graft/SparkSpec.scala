package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, sbt forks once),
  * built from the engine's own settings so the specs plan and execute
  * the way the engine does. Nothing is registered in it: the graft
  * kernels are typed Columns (graft.plans.GraftFunctions). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .config(GraftSession.settings("4"))
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
