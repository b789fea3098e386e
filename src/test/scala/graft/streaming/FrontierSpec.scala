package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** The settled-frontier protocol: scope excludes the in-flight batch,
  * a settle folds only strictly-earlier deltas (so a retry across the
  * settle boundary sees the identical admitted state), readers ignore
  * folded-but-not-yet-deleted dirs (the crash window never duplicates
  * a read), incomplete frontiers are invisible and re-settled over,
  * and stale dirs are garbage-collected opportunistically. */
class FrontierSpec extends SparkSpec {

  import spark.implicits._

  private def writeBatch(dir: String, id: Long, ids: Seq[Long]): Unit =
    ids.map(i => (i, s"u$i")).toDF("doc_id", "canon_url")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_$id")

  private def urls(paths: Seq[String]): Set[String] =
    spark.read.parquet(paths: _*).select("canon_url")
      .collect().map(_.getString(0)).toSet

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def frontiers(dir: String): Set[String] =
    fs(dir).listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.startsWith("frontier_") && fs(dir).exists(new Path(p, "_SUCCESS")))
      .map(_.getName).toSet

  /** Batch `batchId`'s settle around `body`; whether a new settled
    * frontier committed. */
  private def settle(dir: String, batchId: Long, key: Seq[String], every: Int,
                     buckets: Int = 0, body: => Unit = ()): Boolean = {
    val before = frontiers(dir)
    Frontier.settling(every, Frontier.Settle(dir, key, buckets))((_, _) => body)(
      spark.emptyDataFrame, batchId)
    frontiers(dir) != before
  }

  test("scope excludes the in-flight batch; settle folds only earlier deltas") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_a").toString
    assert(Frontier.scopePaths(spark, dir, 0L).isEmpty, "nothing admitted yet")
    writeBatch(dir, 0, Seq(1, 2))
    writeBatch(dir, 1, Seq(3))
    writeBatch(dir, 2, Seq(4))
    // batch 2 in flight: sees 0 and 1, never itself
    assert(urls(Frontier.scopePaths(spark, dir, 2L).get) == Set("u1", "u2", "u3"))
    val preSettle = urls(Frontier.scopePaths(spark, dir, 2L).get)
    // settle during batch 2: folds 0,1 into frontier_1; batch_2 stays
    assert(settle(dir, 2L, Seq("canon_url"), every = 2))
    val names = fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet
    assert(names == Set("frontier_1", "batch_2"), s"layout: $names")
    // a RETRY of batch 2 sees exactly the pre-settle admitted state
    assert(urls(Frontier.scopePaths(spark, dir, 2L).get) == preSettle)
    // and the next batch sees everything
    assert(urls(Frontier.scopePaths(spark, dir, 3L).get) ==
      Set("u1", "u2", "u3", "u4"))
    assert(Frontier.readLayered(spark, dir).count() == 4)
    // below threshold: no re-settle
    assert(!settle(dir, 3L, Seq("canon_url"), every = 2))
  }

  test("crash window: a folded-but-undeleted delta is invisible and GC'd") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_b").toString
    writeBatch(dir, 0, Seq(1))
    writeBatch(dir, 1, Seq(2))
    assert(settle(dir, 2L, Seq("canon_url"), every = 2))
    // simulate the crash: resurrect a folded delta dir (its rows are
    // already inside frontier_1) — readers must NOT double-count it
    writeBatch(dir, 0, Seq(1))
    assert(Frontier.readLayered(spark, dir).count() == 2,
      "a stale dir below the frontier id must be ignored, not unioned")
    assert(urls(Frontier.scopePaths(spark, dir, 2L).get) == Set("u1", "u2"))
    // the next settle check GCs it even when it does not settle
    writeBatch(dir, 2, Seq(3))
    assert(!settle(dir, 3L, Seq("canon_url"), every = 2))
    val names = fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet
    assert(names == Set("frontier_1", "batch_2"), s"stale batch_0 survived: $names")
  }

  test("an incomplete frontier is invisible; a re-settle overwrites it") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_c").toString
    writeBatch(dir, 0, Seq(1))
    writeBatch(dir, 1, Seq(2))
    // a settle that died mid-write: frontier dir without _SUCCESS
    writeBatch(dir, 99, Seq(42)) // junk content, renamed into place
    val f = fs(dir)
    f.rename(new Path(s"$dir/batch_99"), new Path(s"$dir/frontier_1"))
    f.delete(new Path(s"$dir/frontier_1/_SUCCESS"), false)
    // invisible to scope: both deltas still served raw
    assert(urls(Frontier.scopePaths(spark, dir, 2L).get) == Set("u1", "u2"))
    // the retry's settle overwrites the carcass and commits
    assert(settle(dir, 2L, Seq("canon_url"), every = 2))
    assert(f.exists(new Path(s"$dir/frontier_1/_SUCCESS")))
    assert(urls(Frontier.scopePaths(spark, dir, 2L).get) == Set("u1", "u2"))
  }

  test("the fold is deterministic latest-wins on re-submitted keys") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_lw").toString
    // the same key lands in batches 0 and 2 with different payloads
    // (the IngestScore / IngestAnnIndex re-submission shape): the
    // fold must keep batch 2's row, not an arbitrary one
    Seq((1L, "k", "v0")).toDF("doc_id", "canon_url", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_0")
    Seq((2L, "other", "x")).toDF("doc_id", "canon_url", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_1")
    Seq((3L, "k", "v2")).toDF("doc_id", "canon_url", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_2")
    assert(settle(dir, 3L, Seq("canon_url"), every = 3))
    val got = Frontier.readLayered(spark, dir)
      .collect().map(r => r.getString(1) -> (r.getLong(0), r.getString(2))).toMap
    assert(got == Map("k" -> ((3L, "v2")), "other" -> ((2L, "x"))),
      s"latest batch must win per key, got $got")
    // and a LATER delta supersedes the settled frontier row too
    Seq((4L, "k", "v3")).toDF("doc_id", "canon_url", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_3")
    Seq((5L, "pad", "p")).toDF("doc_id", "canon_url", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_4")
    Seq((6L, "pad2", "p")).toDF("doc_id", "canon_url", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_5")
    assert(settle(dir, 6L, Seq("canon_url"), every = 3))
    val got2 = Frontier.readLayered(spark, dir)
      .filter(col("canon_url") === "k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got2 == Seq((4L, "v3")), s"frontier row must lose to a newer delta: $got2")
  }

  test("a batch id at or below the settled frontier id fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_guard").toString
    writeBatch(dir, 0, Seq(1))
    writeBatch(dir, 1, Seq(2))
    assert(settle(dir, 2L, Seq("canon_url"), every = 2))
    // a restart with a wiped checkpoint restarts ids at 0 — the old
    // behavior silently GC'd the new run's output as "already folded"
    intercept[IllegalArgumentException] {
      Frontier.scopePaths(spark, dir, 0L)
    }
    intercept[IllegalArgumentException] {
      settle(dir, 1L, Seq("canon_url"), every = 2)
    }
    // the frontier id itself is also too low (ids must be ABOVE it)
    intercept[IllegalArgumentException] {
      Frontier.scopePaths(spark, dir, 1L)
    }
    // and the normal continuation is untouched
    assert(urls(Frontier.scopePaths(spark, dir, 2L).get) == Set("u1", "u2"))
  }

  test("bucketed settle: catalog table over the frontier dir, probe reads it") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_bk").toString
    writeBatch(dir, 0, Seq(1, 2))
    writeBatch(dir, 1, Seq(3))
    assert(settle(dir, 2L, Seq("canon_url"), every = 2,
      buckets = 4))
    // same dir layout and commit marker as the plain settle
    val names = fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet
    assert(names == Set("frontier_1"), s"layout: $names")
    assert(fs(dir).exists(new Path(s"$dir/frontier_1/_SUCCESS")))
    // the catalog entry exists and frontierFrame serves it
    assert(spark.catalog.tableExists(Frontier.tableName(dir, 1L)))
    val (front, _) = Frontier.scopeParts(spark, dir, 2L)
    val (m, path) = front.get
    val viaTable = Frontier.frontierFrame(spark, dir, m, path)
    assert(viaTable.select("canon_url").collect().map(_.getString(0)).toSet ==
      Set("u1", "u2", "u3"))
    // plain readers still work on the same files
    assert(Frontier.readLayered(spark, dir).count() == 3)
    // a second settle supersedes: new generation's table, old one dropped
    writeBatch(dir, 2, Seq(4))
    writeBatch(dir, 3, Seq(5))
    assert(settle(dir, 4L, Seq("canon_url"), every = 2,
      buckets = 4))
    assert(spark.catalog.tableExists(Frontier.tableName(dir, 3L)))
    assert(!spark.catalog.tableExists(Frontier.tableName(dir, 1L)),
      "superseded generation's catalog entry must be dropped")
    assert(Frontier.readLayered(spark, dir).count() == 5)
  }

  test("successive settles supersede: one frontier, monotone id, older GC'd") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_d").toString
    var next = 0L
    def batchThenSettle(ids: Seq[Long]): Unit = {
      writeBatch(dir, next, ids)
      settle(dir, next + 1, Seq("canon_url"), every = 2)
      next += 1
    }
    (0 until 7).foreach(i => batchThenSettle(Seq(10L + i)))
    val names = fs(dir).listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => n.startsWith("frontier_") || n.startsWith("batch_")).toSet
    // batches 0..6 written; settles fold everything below the cursor
    assert(names.count(_.startsWith("frontier_")) == 1, s"layout: $names")
    assert(Frontier.readLayered(spark, dir).count() == 7)
    // scope paths stay O(settleEvery) however many batches ran
    assert(Frontier.scopePaths(spark, dir, next).get.size <= 3, s"layout: $names")
  }

  test("the fold runs beside the body; nothing it folds is deleted before the body ends") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_overlap").toString
    writeBatch(dir, 0, Seq(1))
    writeBatch(dir, 1, Seq(2))
    val f = fs(dir)
    def committed = f.exists(new Path(s"$dir/frontier_1/_SUCCESS"))
    var sawCommit = false
    assert(settle(dir, 2L, Seq("canon_url"), every = 2, body = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!committed && System.nanoTime() < deadline) Thread.sleep(20)
      sawCommit = committed
      // the fold committed while the body runs, yet its inputs stay
      // and the body still reads the layout its batch began with
      assert(f.exists(new Path(s"$dir/batch_0")) && f.exists(new Path(s"$dir/batch_1")))
      assert(Frontier.scopeParts(spark, dir, 2L)._1.isEmpty,
        "the body must not see the frontier folded beside it")
      assert(urls(Frontier.scopePaths(spark, dir, 2L).get) == Set("u1", "u2"))
      writeBatch(dir, 2, Seq(3))
    }))
    assert(sawCommit, "the fold did not commit while the body ran")
    val names = f.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    assert(names == Set("frontier_1", "batch_2"), s"layout: $names")
    assert(urls(Frontier.scopePaths(spark, dir, 3L).get) == Set("u1", "u2", "u3"))
  }

  test("a failed body waits for the fold; a failed fold surfaces once the body is done") {
    def twoDeltas(tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString
      writeBatch(dir, 0, Seq(1))
      writeBatch(dir, 1, Seq(2))
      dir
    }
    // the body fails at once: its error surfaces only after the fold
    // committed, and nothing is deleted after a failure
    val a = twoDeltas("frontier_body_fails")
    val e = intercept[IllegalStateException] {
      settle(a, 2L, Seq("canon_url"), every = 2, body = throw new IllegalStateException("body"))
    }
    assert(e.getMessage == "body")
    assert(fs(a).exists(new Path(s"$a/frontier_1/_SUCCESS")))
    assert(fs(a).exists(new Path(s"$a/batch_0")) && fs(a).exists(new Path(s"$a/batch_1")))
    // the fold fails (its key names no column): rethrown after the body ran
    val b = twoDeltas("frontier_fold_fails")
    var bodyRan = false
    intercept[org.apache.spark.sql.AnalysisException] {
      settle(b, 2L, Seq("no_such_column"), every = 2, body = bodyRan = true)
    }
    assert(bodyRan)
    assert(frontiers(b).isEmpty)
    // both fail: the body's error, the fold's suppressed onto it
    val c = twoDeltas("frontier_both_fail")
    val both = intercept[IllegalStateException] {
      settle(c, 2L, Seq("no_such_column"), every = 2,
        body = throw new IllegalStateException("body"))
    }
    assert(both.getSuppressed.exists(_.isInstanceOf[org.apache.spark.sql.AnalysisException]),
      s"suppressed: ${both.getSuppressed.toSeq}")
  }
}
