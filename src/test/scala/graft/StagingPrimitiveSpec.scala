package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.sites

/** The engine has one staging primitive, `GraftBridge.stageLocal`: the
  * only local checkpoint under src/main/scala is the one inside it, and
  * nothing writes a reliable checkpoint or sets a checkpoint dir (a dir
  * set on the caller's SparkContext keeps its files after their frames
  * are gone, because Spark does not clean checkpoint files by default).
  * Comments are stripped before the scan, so prose may name the calls. */
class StagingPrimitiveSpec extends AnyFunSuite {

  /** Is `at` inside the body of `GraftBridge.stageLocal`, i.e. between
    * `def stageLocal` and the next `def`? */
  private def inStageLocal(file: String, src: String, at: Int): Boolean =
    file.endsWith("org/apache/spark/sql/GraftBridge.scala") && {
      val start = src.indexOf("def stageLocal")
      val end = src.indexOf("def ", start + 1)
      start >= 0 && at > start && (end < 0 || at < end)
    }

  test("localCheckpoint is called only inside GraftBridge.stageLocal") {
    val outside = sites("\\blocalCheckpoint\\s*\\(", inStageLocal)
    assert(outside.isEmpty, s"local checkpoints outside GraftBridge.stageLocal: $outside")
  }

  test("no reliable checkpoint and no checkpoint dir") {
    val found = sites("\\.checkpoint\\s*\\(") ++ sites("\\bsetCheckpointDir\\b")
    assert(found.isEmpty, s"reliable checkpoint calls or checkpoint dirs: $found")
  }
}
