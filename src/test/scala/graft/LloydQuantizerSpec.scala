package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.sites

/** The engine has one Lloyd quantizer: `Similarity.lloydCodebooks` is
  * the one training loop (memoized through its one `lloydMemoized`
  * call, whatever the metric or subspace count), and
  * `Similarity.argmin` is the one centroid argmin every assigner,
  * encoder and Lloyd pass runs. A re-added per-metric or per-subspace
  * twin fails here. Comments are stripped before the scan. */
class LloydQuantizerSpec extends AnyFunSuite {

  test("lloydMemoized has exactly one call site") {
    val calls = sites("(?<!def )\\blloydMemoized\\(")
    assert(calls.size == 1, s"lloydMemoized call sites: $calls")
  }

  test("min(struct( appears in Similarity only inside argmin") {
    def allowed(file: String, src: String, at: Int): Boolean =
      !file.endsWith("graft/operators/Similarity.scala") || {
        val start = src.indexOf("def argmin(")
        val end = src.indexOf("def ", start + 1)
        start >= 0 && at > start && (end < 0 || at < end)
      }
    val outside = sites("\\bmin\\(struct\\(", allowed)
    assert(outside.isEmpty, s"argmins outside Similarity.argmin: $outside")
  }
}
