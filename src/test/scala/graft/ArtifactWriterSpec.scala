package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.sites

/** The engine has one writer for the tables it builds once and then
  * probes, `Bucketing.buildOnce`: under src/main/scala, catalog-table
  * writes (`saveAsTable`) and bucketed layouts (`bucketBy`) appear only
  * in `Bucketing.scala` and in `Frontier.fold`'s generation write,
  * which shares the fold's exchange. A new hand-rolled artifact
  * writer — with its own build-only-when-missing guard — fails here.
  * Comments are stripped before the scan, so prose may name the calls. */
class ArtifactWriterSpec extends AnyFunSuite {

  /** Is `at` in `Bucketing.scala`, or inside the body of
    * `Frontier.fold` (between `def fold` and the next `def`)? */
  private def allowed(file: String, src: String, at: Int): Boolean =
    file.endsWith("graft/operators/Bucketing.scala") ||
      file.endsWith("graft/streaming/Frontier.scala") && {
        val start = src.indexOf("def fold(")
        val end = src.indexOf("def ", start + 1)
        start >= 0 && at > start && (end < 0 || at < end)
      }

  test("saveAsTable and bucketBy appear only in Bucketing and Frontier's generation write") {
    val outside = sites("\\.saveAsTable\\b", allowed) ++ sites("\\.bucketBy\\b", allowed)
    assert(outside.isEmpty, s"artifact writes outside Bucketing.buildOnce: $outside")
  }
}
