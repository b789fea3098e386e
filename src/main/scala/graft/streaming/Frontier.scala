package graft.streaming

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, lit, regexp_extract, row_number}

/** Settled-frontier layout for the per-batch-overwrite streams: the
  * base+delta posture the persisted dedup index already uses, applied
  * to the streams' OWN output.
  *
  * Without it, every micro-batch anti-joins against the union of all
  * earlier `batch_*` dirs — O(#batches) listings and file opens per
  * batch, O(N²) over a run: a week-long crawl accretes thousands of
  * small parquet dirs and re-opens all of them every batch. With it,
  * every `settleEvery` batches the accumulated deltas fold into ONE
  * compacted `frontier_<m>` dir (m = the highest batch id folded in,
  * files sized toward the row-group sweet spot), and each batch reads
  * frontier + O(settleEvery) tail deltas — per-batch cost flat in the
  * number of batches (BASELINE.md#crawl_stream).
  *
  * Crash-safety is layout-encoded, no side ledger:
  *  - a frontier is LIVE only when its `_SUCCESS` marker exists (the
  *    normal parquet commit marker); a settle that dies mid-write
  *    leaves an incomplete dir the next settle simply overwrites;
  *  - the fold NEVER includes the in-flight batch (only ids strictly
  *    below it), so a foreachBatch retry across the settle boundary
  *    sees exactly the admitted state the first attempt saw — the
  *    frontier must not eat its own producer ([[scopePaths]]' replay
  *    rule, lifted to the settled layout);
  *  - the dir NAME carries the folded-through id, so readers ignore
  *    any batch dir with id ≤ m even before it is garbage-collected —
  *    a crash between the frontier commit and the delta deletion can
  *    momentarily duplicate rows on disk but never in a read;
  *  - deletion is therefore pure GC, retried opportunistically on
  *    every later settle check;
  *  - a batch id AT OR BELOW the settled frontier id is a protocol
  *    violation (a stream restarted with a wiped checkpoint over an
  *    existing output dir restarts ids at 0): [[scopeParts]] and
  *    [[settling]] fail loudly instead of letting the next settle
  *    silently GC the new run's freshly-admitted batch dirs.
  *
  * The fold is DETERMINISTIC latest-wins: every input dir is tagged
  * with its generation id (the frontier with its folded-through id,
  * each delta with its batch id) and the row from the HIGHEST
  * generation wins per key. For the anti-joined streams (crawl /
  * dedup / curation) deltas are key-disjoint by construction and this
  * changes nothing; for re-submittable streams (a doc re-scored in a
  * later batch, a vec_id re-ingested with an updated embedding) it
  * pins the fold to the newest row, so consumer-visible state is the
  * same before and after a settle given consumers read latest-wins.
  * Within ONE batch dir keys are unique by each producer's contract
  * (every Ingest* twin writes an aggregated or deduped frame).
  *
  * With `buckets > 0` the fold additionally lands the frontier as a
  * catalog-registered parquet table BUCKETED AND SORTED on `key`
  * (same dir, same `_SUCCESS` commit, same crash story — the catalog
  * entry is just metadata over `frontier_<m>`). A per-batch anti-join
  * probe that reads the frontier through [[frontierFrame]] is then
  * co-partitioned: the scan satisfies the join's distribution AND
  * ordering, so the frontier side needs NO exchange and NO sort —
  * only the (small) batch side shuffles. Without this, the probe
  * re-shuffles the whole admitted corpus every micro-batch — the one
  * per-batch cost term that grows without bound over a long crawl.
  *
  * A batch's settle is off its critical path: [[settling]] folds the
  * deltas below the in-flight batch on a pool thread while the batch
  * body runs, and deletes the folded inputs only after both finish.
  *
  * Public surface: [[readLayered]] is the consumer entry (the
  * stream's full admitted output), [[scopeParts]]/[[settling]]
  * the per-batch protocol the Ingest* twins run, [[frontierFrame]]
  * the probe-side read. */
object Frontier {

  /** Target compacted-file size for a settled frontier. */
  val targetFileBytes: Long = 128L * 1024 * 1024

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirHash(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Catalog name of the bucketed settled-frontier table for
    * generation `m` of `dir` (only exists when the settle that wrote
    * `frontier_<m>` ran with `buckets > 0`). */
  def tableName(dir: String, m: Long): String =
    s"graft_frontier_${dirHash(dir)}_$m"

  private final case class Layout(frontier: Option[(Long, Path)],
                                  deltas: Seq[(Long, Path)],
                                  stale: Seq[Path])

  private def numbered(p: Path, prefix: String): Option[(Long, Path)] =
    if (p.getName.startsWith(prefix))
      scala.util.Try(p.getName.stripPrefix(prefix).toLong).toOption.map(_ -> p)
    else None

  private def scan(spark: SparkSession, dir: String): Layout = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(root)) return Layout(None, Nil, Nil)
    val kids = fs.listStatus(root).filter(_.isDirectory).map(_.getPath).toSeq
    val frontiers = kids.flatMap(numbered(_, "frontier_"))
    val complete = frontiers.filter { case (_, p) =>
      fs.exists(new Path(p, "_SUCCESS")) && !folding.contains(p.toString)
    }
    val latest = complete.sortBy(_._1).lastOption
    val m = latest.map(_._1).getOrElse(Long.MinValue)
    val (live, staleBatches) =
      kids.flatMap(numbered(_, "batch_")).partition(_._1 > m)
    // stale: batch dirs already folded into the live frontier, and
    // superseded frontier generations (complete or not) — content the
    // latest frontier fully contains; incomplete dirs ABOVE m are a
    // pending settle's target and are left for its overwrite
    val staleFrontiers = frontiers.filter(_._1 < m).map(_._2)
    Layout(latest, live.sortBy(_._1), staleBatches.map(_._2) ++ staleFrontiers)
  }

  /** Fail loudly when `batchId` is at or below the settled frontier
    * id: ids below m only arise when a restarted stream's checkpoint
    * was wiped while the output dir survived — continuing would let
    * the next settle GC the new run's output as "already folded". */
  private def guardRestart(l: Layout, dir: String, batchId: Long): Unit =
    l.frontier.foreach { case (m, _) =>
      require(batchId > m,
        s"batch id $batchId is at or below the settled frontier id $m " +
          s"under $dir — the stream's checkpoint restarted below its " +
          "output dir's history (wiped checkpoint over a kept output " +
          "dir?); refusing to run: the next settle would silently GC " +
          "this run's batches. Point the stream at a fresh output dir " +
          "or restore the checkpoint.")
    }

  /** The admitted-state scope for batch `batchId`, split into its two
    * layers: the latest settled frontier (folded-through id + path)
    * and the live delta paths — the CURRENT batch id excluded (a
    * retry must not probe its own partial output). */
  def scopeParts(spark: SparkSession, dir: String,
                 batchId: Long): (Option[(Long, String)], Seq[String]) = {
    val l = scan(spark, dir)
    guardRestart(l, dir, batchId)
    (l.frontier.map { case (m, p) => (m, p.toString) },
      l.deltas.collect { case (id, p) if id != batchId => p.toString })
  }

  /** [[scopeParts]] flattened to one path list (frontier first): the
    * admitted-state paths every foreachBatch pipeline here reads for
    * batch `batchId`. None ⇒ nothing admitted yet (first batch of the
    * run).
    *
    * Why not a bare `batch_*` glob: foreachBatch is at-least-once, and
    * a RETRY of batch N re-runs after batch N's (possibly partial)
    * output already landed. A glob that includes `batch_N` feeds the
    * batch's own previous output into its "already admitted / already
    * settled" scope — a keep-first anti-join then empties the batch on
    * replay (the admitted state eats its own producer), and a monotone
    * boundary probe rejects its own keys. Excluding the CURRENT batch
    * id restores true replay idempotence: the retry sees exactly the
    * state the first attempt saw, and the overwrite lands the identical
    * result. Once a stream settles, the scope is the latest
    * `frontier_<m>` dir plus the live tail deltas — O(settleEvery)
    * paths however long the stream has run. */
  def scopePaths(spark: SparkSession, dir: String,
                 batchId: Long): Option[Seq[String]] = {
    val (front, deltas) = scopeParts(spark, dir, batchId)
    val paths = front.map(_._2).toSeq ++ deltas
    if (paths.isEmpty) None else Some(paths)
  }

  /** The settled frontier for the PROBE side of a per-batch join:
    * the bucketed catalog table when generation `m` was settled with
    * `buckets > 0` in this session (scan co-partitioned and
    * pre-sorted on the key — zero exchange above it in an equi-join),
    * the plain path read otherwise (a restarted session loses the
    * in-memory catalog entry; the next settle re-registers it). */
  def frontierFrame(spark: SparkSession, dir: String, m: Long,
                    path: String): DataFrame =
    if (spark.catalog.tableExists(tableName(dir, m))) spark.table(tableName(dir, m))
    else spark.read.parquet(path)

  /** Everything this stream has admitted — for consumers and serving
    * layers (frontier + every live delta, nothing excluded). The read
    * tolerates files GC'd between path resolution and scan
    * (`ignoreMissingFiles`): a concurrent settle deletes folded delta
    * dirs after its frontier commit, and the dir-name rule already
    * guarantees a re-list never duplicates rows — so a serving reader
    * racing a settle skips the vanished files instead of dying
    * mid-scan on FileNotFoundException. The dedup streams' stored
    * index columns ([[graft.operators.Dedup.indexColumns]]) are probe
    * state, not content: the read drops them. */
  def readLayered(spark: SparkSession, dir: String): DataFrame = {
    val l = scan(spark, dir)
    val paths = l.frontier.map(_._2.toString).toSeq ++ l.deltas.map(_._2.toString)
    require(paths.nonEmpty, s"no settled frontier or batch deltas under $dir")
    // mergeSchema: layers may differ by an appended optional column
    // (a mid-run producer upgrade — the r20 `tombstone` marker); the
    // default first-file schema would silently drop it and resurrect
    // erased rows. Footer merging is bounded by the settle cadence
    // (frontier + ≤ settleEvery deltas).
    val raw = spark.read
      .option("ignoreMissingFiles", "true")
      .option("mergeSchema", "true")
      .parquet(paths: _*)
    // tombstone rows (r20 — the erase markers [[settling]]
    // compacts away) are markers, not content: hide them. Erasure of
    // the key's OLDER layers takes effect at the next settle (the
    // fold has the generation order this flat union deliberately does
    // not reconstruct — consumers of a pre-settle layered read see
    // every live version, per this function's contract).
    val content = raw.drop(graft.operators.Dedup.indexColumns: _*)
    if (!raw.columns.contains("tombstone")) content
    else content.filter(!coalesce(col("tombstone"), lit(false)))
      .drop("tombstone")
  }

  /** One output dir a foreachBatch body settles: its row identity
    * `key` and, with `buckets > 0`, the bucket count of its settled
    * frontier table (see the object scaladoc). */
  final case class Settle(dir: String, key: Seq[String], buckets: Int = 0)

  /** Settled-frontier generations whose fold is still running
    * (qualified `frontier_<m>` paths): [[scan]] does not serve them, so
    * a batch body reads the layout its batch began with even after the
    * fold beside it commits. */
  private val folding = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def frontierKey(spark: SparkSession, dir: String, m: Long): String =
    fsOf(spark, dir).makeQualified(new Path(dir, s"frontier_$m")).toString

  /** A foreachBatch body wrapped in the settle protocol for `dirs`.
    * For batch `b` and each dir: fail loudly on a restart below the
    * settled frontier; when ≥ `every` deltas with id < `b` have
    * accumulated, fold frontier + those deltas into `frontier_<m>`
    * (m = the highest folded id, strictly below the in-flight batch)
    * on a pool thread WHILE `body` runs; once both have finished,
    * delete the stale dirs (the folded inputs, superseded frontiers,
    * any dir a crash left behind) and drop the superseded catalog
    * tables.
    *
    * The overlap changes no batch's view: nothing the body reads is
    * deleted before it ends, the fold never includes the in-flight
    * batch, and the new frontier stays hidden from [[scan]] until the
    * body is done, so the body reads exactly the layout the sequential
    * settle at the end of the previous batch left it.
    *
    * Errors: a failed body still waits for the fold, then rethrows
    * (any fold failure added as suppressed); a failed fold is rethrown
    * once the body has finished. Nothing is deleted after a failure:
    * the next batch's check collects it.
    *
    * The fold is DETERMINISTIC latest-wins (see the object scaladoc):
    * every row is tagged with its dir's generation id and the row from
    * the highest generation wins per `key`, riding the fold's own key
    * shuffle; for key-disjoint deltas (the anti-joined streams) this
    * never changes a healthy fold's content. With `buckets > 0` the
    * frontier lands as a bucketed+sorted catalog table with exactly
    * `buckets` files; otherwise file count is sized by bytes toward
    * [[targetFileBytes]]. */
  def settling(every: Int, dirs: Settle*)
              (body: (Dataset[Row], Long) => Unit): (Dataset[Row], Long) => Unit = {
    require(every >= 1, s"settleEvery must be >= 1, got $every")
    (batch, batchId) => {
      val spark = batch.sparkSession
      val folds = dirs.flatMap { s =>
        val l = scan(spark, s.dir)
        guardRestart(l, s.dir, batchId)
        val foldable = l.deltas.filter(_._1 < batchId)
        if (foldable.size < every) None
        else Some(s -> (l.frontier.toSeq ++ foldable))
      }
      if (folds.isEmpty) body(batch, batchId)
      else overlapped(spark, folds, body(batch, batchId))
      dirs.foreach { s =>
        val l = scan(spark, s.dir)
        val fs = fsOf(spark, s.dir)
        l.stale.foreach(p => fs.delete(p, true))
        if (folds.exists(_._1 == s))
          l.frontier.foreach { case (m, _) => dropSupersededTables(spark, s.dir, m) }
      }
    }
  }

  /** Run each fold on its own pool thread while `body` runs on the
    * caller's, with [[settling]]'s error order. */
  private def overlapped(spark: SparkSession, folds: Seq[(Settle, Seq[(Long, Path)])],
                         body: => Unit): Unit = {
    val targets = folds.map { case (s, in) => frontierKey(spark, s.dir, in.map(_._1).max) }
    targets.foreach(folding.add)
    val pool = Executors.newFixedThreadPool(folds.size, (r: Runnable) => {
      val t = new Thread(r, "graft-frontier-settle")
      t.setDaemon(true)
      t
    })
    try {
      val pending = folds.map { case (s, in) => pool.submit[Unit](() => fold(spark, s, in)) }
      val ran = Try(body)
      val failed = pending.flatMap(p => Try(p.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      }.failed.toOption)
      ran.failed.foreach { e => failed.foreach(e.addSuppressed); throw e }
      failed.headOption.foreach(e => throw e)
    } finally {
      pool.shutdown()
      targets.foreach(folding.remove)
    }
  }

  /** Fold `in` (the live frontier, if any, then the foldable deltas)
    * into `frontier_<m>`, m = the highest input id. Deletes nothing. */
  private def fold(spark: SparkSession, s: Settle, in: Seq[(Long, Path)]): Unit = {
    val fs = fsOf(spark, s.dir)
    val m = in.map(_._1).max
    val bytes = in.map { case (_, p) => fs.getContentSummary(p).getLength }.sum
    val nFiles = if (s.buckets > 0) s.buckets
      else math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val key = s.key.map(col)
    // deterministic latest-wins: tag each row with its dir's
    // generation id (the frontier's folded-through id, a delta's batch
    // id, read off the file path), keep the max-generation row per
    // key. One scan over every input, so one schema job rather than
    // one per dir. One exchange (reused by the window) + one sort —
    // the same shuffle the old dropDuplicates paid, now with a pinned
    // winner. mergeSchema: a producer may upgrade its delta schema
    // mid-run (r20: the crawl survivor sink added `tombstone`); dirs
    // written before the upgrade read NULL for the new column, which
    // every consumer of an optional column already coalesces over.
    val tagged = spark.read.option("mergeSchema", "true")
      .parquet(in.map(_._2.toString): _*)
      .withColumn("__gen", regexp_extract(col("_metadata.file_path"),
        "/(?:frontier|batch)_(\\d+)/[^/]*$", 1).cast("long"))
    val w = Window.partitionBy(key: _*).orderBy(col("__gen").desc)
    val folded0 = tagged
      .repartition(nFiles, key: _*)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__gen", "__rk")
    // deletion markers (r20): a delta row with `tombstone = true` is
    // a log-compaction ERASE of its key — when it wins latest-wins,
    // the key leaves the settled frontier entirely (the crawl stream
    // writes one when a refetched page gains `noindex`: compliance
    // says drop the retained copy, not just stop updating it). The
    // column survives in the settled schema (all false) so layered
    // reads stay union-compatible with the live deltas.
    val folded =
      if (!folded0.columns.contains("tombstone")) folded0
      else folded0.filter(!coalesce(col("tombstone"), lit(false)))
    if (s.buckets > 0)
      // repartition(buckets, key) aligns task ↔ bucket (same
      // murmur3-pmod), so each bucket is ONE file and the scan
      // reports its sort order — the Bucketing.writeBucketed layout,
      // inlined here to share the fold's single exchange
      folded.write.mode("overwrite")
        .option("path", s"${s.dir}/frontier_$m")
        .bucketBy(s.buckets, s.key.head, s.key.tail: _*)
        .sortBy(s.key.head, s.key.tail: _*)
        .format("parquet")
        .saveAsTable(tableName(s.dir, m))
    else
      folded.write.mode("overwrite").parquet(s"${s.dir}/frontier_$m")
  }

  /** GC catalog entries of superseded frontier generations (their
    * dirs are deleted above; a dangling table would break a later
    * `tableExists`-guarded read). */
  private def dropSupersededTables(spark: SparkSession, dir: String,
                                   m: Long): Unit = {
    val marker = s"graft_frontier_${dirHash(dir)}_"
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(marker))
      .foreach { t =>
        val gen = scala.util.Try(t.stripPrefix(marker).toLong)
        if (gen.toOption.exists(_ < m)) spark.sql(s"DROP TABLE IF EXISTS $t")
      }
  }
}
