package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** All Gopher-style repetition-signal NUMERATORS of one document in a
  * single compiled pass: `struct(total_chars, top: array<long>,
  * dup: array<long>)` — one `top` entry per requested top-n width
  * (most-frequent n-gram count × its max window char sum) and one
  * `dup` entry per dup-n width (chars at positions covered by any
  * within-doc duplicated n-gram, overlaps merged).
  *
  * This replaces the exploded form of `TextAnalysis.repetitionSignals`
  * — per requested width, a corpus-wide
  * explode → Exchange(doc_id, h) → Exchange(doc_id) chain (the dup
  * widths added a positions-distinct Exchange and a positions join on
  * top) — with ZERO shuffles: every signal is a within-document
  * statistic, so it belongs in a projection, not an aggregation
  * (optimization guide §2.4: remove shuffles outright). At 100 TB the
  * exploded form shuffled every 2- and 5-gram of the corpus twice;
  * this form shuffles nothing and reads each token exactly once
  * (token hash + char prefix sums shared across all widths).
  *
  * EXACTNESS CONTRACT (oracle-checked): gram identity is the same
  * rolling fingerprint as the exploded form ([[RollingGramHash]] —
  * same token XXH64, same Base/Seed recurrence), counts/max are over
  * the same (doc, gram-hash) groups, the top tie-break is the same
  * lexicographic max over (cnt, max adj), and covered positions are
  * the same off+1..off+n set union. Documents with no n-window yield
  * 0 — the value the caller's `coalesce(num, 0)` produced for the
  * exploded form's absent row.
  */
object RepetitionStats {

  def compute(toks: ArrayData, topNs: Array[Int], dupNs: Array[Int]): InternalRow = {
    val t = toks.numElements()
    // one pass: per-token hash (gram identity) + char-count prefix sums
    // (window char sums and covered-position sums become O(1) lookups)
    val tokHash = new Array[Long](t)
    val pre = new Array[Long](t + 1)
    var i = 0
    while (i < t) {
      val s = toks.getUTF8String(i)
      pre(i + 1) = pre(i) + s.numChars()
      tokHash(i) = XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes(), RollingGramHash.Seed)
      i += 1
    }
    val top = new Array[Long](topNs.length)
    i = 0
    while (i < topNs.length) { top(i) = topNum(tokHash, pre, topNs(i)); i += 1 }
    val dup = new Array[Long](dupNs.length)
    i = 0
    while (i < dupNs.length) { dup(i) = dupNum(tokHash, pre, dupNs(i)); i += 1 }
    new GenericInternalRow(Array[Any](
      pre(t), new GenericArrayData(top), new GenericArrayData(dup)))
  }

  /** Rolling window hashes — the identical recurrence as
    * [[RollingGramHash.compute]], off the precomputed token hashes. */
  private def gramHashes(tokHash: Array[Long], n: Int): Array[Long] = {
    val cnt = tokHash.length - n + 1
    val out = new Array[Long](cnt)
    var powB = 1L
    var j = 1
    while (j < n) { powB *= RollingGramHash.Base; j += 1 }
    var h = 0L
    j = 0
    while (j < n) { h = h * RollingGramHash.Base + tokHash(j); j += 1 }
    out(0) = h
    j = 1
    while (j < cnt) {
      h = (h - tokHash(j - 1) * powB) * RollingGramHash.Base + tokHash(j + n - 1)
      out(j) = h
      j += 1
    }
    out
  }

  /** Window offsets 0..cnt-1 sorted by (gram hash, then window char
    * sum) — runs of one hash are contiguous and the run's LAST offset
    * carries its max char sum. */
  private def sortedByHash(hs: Array[Long], pre: Array[Long], n: Int,
                           byAdj: Boolean): Array[Int] = {
    val idx = new Array[Integer](hs.length)
    var i = 0
    while (i < hs.length) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Long.compare(hs(a), hs(b))
        if (c != 0 || !byAdj) c
        else java.lang.Long.compare(pre(a + n) - pre(a), pre(b + n) - pre(b))
      }
    })
    val out = new Array[Int](hs.length)
    i = 0
    while (i < hs.length) { out(i) = idx(i).intValue(); i += 1 }
    out
  }

  /** Most frequent n-gram's count × its max window char sum; ties
    * across hashes break by (cnt, adj) lexicographic max — the same
    * `max(struct(cnt, adj))` the exploded form aggregated. */
  private def topNum(tokHash: Array[Long], pre: Array[Long], n: Int): Long = {
    val cnt = tokHash.length - n + 1
    if (cnt < 1) return 0L
    val hs = gramHashes(tokHash, n)
    val order = sortedByHash(hs, pre, n, byAdj = true)
    var bestCnt = 0L
    var bestAdj = 0L
    var runLen = 0L
    var i = 0
    while (i < cnt) {
      val o = order(i)
      runLen = if (i > 0 && hs(order(i - 1)) == hs(o)) runLen + 1 else 1L
      // within a run the char sum is nondecreasing (secondary sort), so
      // evaluating the candidate at every element makes the run's end
      // dominate — equivalent to comparing per-hash (count, max adj)
      val adj = pre(o + n) - pre(o)
      if (runLen > bestCnt || (runLen == bestCnt && adj > bestAdj)) {
        bestCnt = runLen; bestAdj = adj
      }
      i += 1
    }
    bestCnt * bestAdj
  }

  /** Chars at token positions covered by any n-gram occurring >= 2
    * times in the document, each position counted once. */
  private def dupNum(tokHash: Array[Long], pre: Array[Long], n: Int): Long = {
    val t = tokHash.length
    val cnt = t - n + 1
    if (cnt < 1) return 0L
    val hs = gramHashes(tokHash, n)
    val order = sortedByHash(hs, pre, n, byAdj = false)
    val covered = new Array[Boolean](t)
    var i = 0
    while (i < cnt) {
      // run [i, j) of one hash value
      var j = i + 1
      while (j < cnt && hs(order(j)) == hs(order(i))) j += 1
      if (j - i >= 2) {
        var k = i
        while (k < j) {
          val off = order(k)
          var p = off
          while (p < off + n) { covered(p) = true; p += 1 }
          k += 1
        }
      }
      i = j
    }
    var sum = 0L
    i = 0
    while (i < t) {
      if (covered(i)) sum += pre(i + 1) - pre(i)
      i += 1
    }
    sum
  }
}
