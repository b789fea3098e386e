package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.{Html, Urls}

/** Continuous crawl ingestion: the streaming twin of the ds_crawl
  * composite — the front door a live crawler actually runs. Each
  * micro-batch of raw fetches (doc_id, url, html) is:
  *
  *  1. URL-canonicalized and domain-blocklisted (stateless codegen'd
  *     projections — Urls.canonicalize);
  *  2. keep-FIRST deduplicated on the canonical URL against three
  *     scopes, mirroring IngestDedup's discipline: (a) the SETTLED
  *     url frontier (an immutable artifact of the previous pipeline
  *     run), (b) itself (min doc_id wins within the batch), and
  *     (c) every URL this stream has already admitted — a re-fetch
  *     in a later batch can never re-admit a page;
  *  3. main-text extracted (the shuffle-free graft_html_extract
  *     kernel) and thin-content gated.
  *
  * Survivors land under `survivorDir/batch_<id>` with per-batch
  * overwrite, so foreachBatch's at-least-once retries are idempotent
  * — the admitted-URL state IS the sink, no side ledger for
  * ADMISSION. With `fetchedDir` set, each batch additionally lands a
  * fetched-URL LEDGER row (canon_url, verdict ∈ kept|thin, payload md5,
  * cumulative n_fetches/n_changes, batch id — the recrawlDue inputs) for every
  * gated fetch — thin pages included — in a sibling dir sharing the
  * same settle protocol: the ledger is the "have we fetched this"
  * truth that admission (kept-only) cannot answer, and DISCOVERY
  * scopes against it, so a link to a page fetched earlier but gated
  * as thin is never re-emitted as a frontier candidate (without the
  * ledger it re-enters — wasted refetch work; enable `fetchedDir`
  * from the run's first batch so the ledger covers every fetch).
  *
  * With `discoveredDir` set, each batch ALSO emits its pages'
  * outbound links (Html.linkHrefs → Urls.resolveHref → canonicalize →
  * blocklist, minus the fetched — or, ledger-less, admitted — scope)
  * under `discoveredDir/batch_<id>` — the crawl loop's discovery
  * half, continuously. With `robotsRules` set (host, prefix, allow —
  * [[graft.operators.Urls.robotsRules]] over the hosts' robots.txt
  * bodies), discovered candidates are additionally gated through
  * [[graft.operators.Urls.robotsFilter]] before landing — the batch
  * path provably blocks disallowed URLs (ds_crawl_robots) and the
  * continuous twin must not fetch what batch would refuse. The rules
  * frame is a PLAN, re-executed every micro-batch: back it with a
  * file path and a robots refresh lands on the next batch with no
  * restart.
  * [[nextWave]] then closes the loop: discovered
  * minus fetched, politely scheduled. Discovery is a pure per-batch
  * projection of the batch's own pages against the same replay-safe
  * scope as admission (its own overwrite is idempotent for the same
  * reason), additionally excluding this batch's own fetches; per-URL
  * dedup of the discovered set happens at scheduling time, not per
  * batch.
  *
  * Cross-batch semantics note: "keep-first" here is first ARRIVAL
  * (processing order), the only meaningful order a stream has; batch
  * ds_crawl's min-doc_id tiebreak applies within one batch. Scale
  * shape: scope (c) probes the latest settled [[Frontier]] plus at
  * most `settleEvery` tail deltas — every `settleEvery` batches the
  * deltas fold into one compacted `frontier_<m>` dir, so the
  * per-batch probe cost is flat in the number of BATCHES; and the
  * settle lands the frontier as a table BUCKETED AND SORTED on
  * `canon_url` (`frontierBuckets`), so the anti-join probe is
  * co-partitioned — the frontier side of the join needs NO exchange
  * and NO sort, only the batch side shuffles. Without the bucketed
  * layout the probe re-shuffled the whole admitted corpus every
  * micro-batch: per-batch cost growing with the CORPUS for the life
  * of a run, the engine's one unbounded per-batch term
  * (BASELINE.md#crawl_stream prices the layout). Consumers read the
  * full corpus via [[Frontier.readLayered]]. */
object IngestCrawl {

  /** Anti-join `left` against the admitted scope of `dir` for
    * `batchId` on `canon_url` (left key `keyCol`): the settled
    * frontier probed through its bucketed table when present — zero
    * exchange above the frontier scan — then the short tail of live
    * deltas. No `.distinct()` on any probe side: an anti-join needs
    * only existence, and a distinct would put an exchange back above
    * the frontier scan. */
  private def antiAdmitted(spark: SparkSession, left: DataFrame,
                           keyCol: String, dir: String,
                           batchId: Long): DataFrame = {
    val (front, deltas) = Frontier.scopeParts(spark, dir, batchId)
    val afterFrontier = front match {
      case Some((m, p)) => left.join(
        Frontier.frontierFrame(spark, dir, m, p)
          .select(col("canon_url").as(keyCol)),
        Seq(keyCol), "left_anti")
      case None => left
    }
    if (deltas.isEmpty) afterFrontier
    else afterFrontier.join(
      spark.read.parquet(deltas: _*).select(col("canon_url").as(keyCol)),
      Seq(keyCol), "left_anti")
  }

  /** Latest ledger state per canonical URL from the replay-safe scope
    * (settled frontier + deltas before `batchId`): (canon_url, h,
    * n_fetches, n_changes, b). None ⇒ nothing admitted yet. Latest =
    * max batch id per key — a URL refetched since the last settle has
    * a frontier row AND a delta row, and only the delta's cumulative
    * counters are current. The groupBy keys on `canon_url`, which the
    * settled frontier is bucketed on, so the frontier side aggregates
    * exchange-free; the delta tail is ≤ settleEvery batch dirs. */
  private def ledgerState(spark: SparkSession, dir: String,
                          batchId: Long): Option[DataFrame] = {
    val (front, deltas) = Frontier.scopeParts(spark, dir, batchId)
    val parts = front.map { case (m, p) =>
      Frontier.frontierFrame(spark, dir, m, p) }.toSeq ++
      (if (deltas.isEmpty) Nil else Seq(spark.read.parquet(deltas: _*)))
    // fail FAST on a pre-change-evidence ledger (the r16 row format:
    // canon_url + verdict only): a column-resolution error deep in
    // the union/agg below names the missing attribute, not the cause
    // — and silently backfilling defaults would mint fake evidence
    // (n_fetches=1 for a URL fetched many times) that recrawlDue
    // would then schedule on. r19 adds n_unmod (the consecutive
    // unchanged-observation streak); an r18 ledger lacking it fails
    // the same way — migrate offline with n_unmod=0 (conservative:
    // no streak evidence ⇒ no ladder demotion).
    val need = Seq("canon_url", "verdict", "h", "n_fetches", "n_changes",
      "n_unmod", "n_fail", "b")
    parts.foreach { p =>
      val missing = need.filterNot(p.columns.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"fetched ledger at $dir uses a pre-r17 (if change-evidence " +
          "columns are missing), pre-r19 (only n_unmod missing) or " +
          "pre-r20 (only n_fail missing) row format (missing columns: " +
          s"${missing.mkString(", ")}); scheduling needs the evidence " +
          "columns — run IngestCrawl.migrateLedger(spark, dir) offline " +
          "(conservative defaults: h=NULL, n_fetches=1, n_changes=0, " +
          "n_unmod=0, n_fail=0, b=<dir batch id>), or restart the " +
          "ledger dir")
    }
    if (parts.isEmpty) None
    else Some(parts.reduce(_ unionByName _)
      .groupBy("canon_url")
      .agg(max(struct(col("b"), col("verdict"), col("h"), col("n_fetches"),
        col("n_changes"), col("n_unmod"), col("n_fail"))).as("w"))
      .select(col("canon_url"), col("w.verdict").as("verdict"),
        col("w.h").as("h"),
        col("w.n_fetches").as("n_fetches"),
        col("w.n_changes").as("n_changes"),
        col("w.n_unmod").as("n_unmod"),
        col("w.n_fail").as("n_fail"), col("w.b").as("b")))
  }

  /** Offline migration for fetched-ledger dirs written by earlier
    * row formats (r20, ADVICE): rewrites every `frontier_<m>` /
    * `batch_<id>` dir under `dir` in place, adding the missing
    * change-evidence columns with exactly the conservative defaults
    * the [[ledgerState]] fail-fast prescribes — h = NULL (no payload
    * evidence: the next refetch counts as a first observation, never
    * a spurious change), n_fetches = 1 (it was observed at least
    * once), n_changes = 0, n_unmod = 0 (no streak evidence ⇒ no
    * ladder demotion), b = the dir's own id. Idempotent: dirs already
    * carrying a column keep it untouched; a fully-current ledger is a
    * no-op. Crash-safe: each dir migrates via temp write + rename,
    * and a crash between delete and rename is healed on the next run
    * (the temp dir is detected and renamed into place — its prefix is
    * invisible to the stream's layout scan either way). Run this once
    * BEFORE restarting a stream on an upgraded engine; the next
    * settle re-registers the bucketed frontier table as usual. */
  def migrateLedger(spark: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val defaults: Seq[(String, Column)] = Seq(
      "h" -> lit(null).cast("string"),
      "n_fetches" -> lit(1L),
      "n_changes" -> lit(0L),
      "n_unmod" -> lit(0L),
      "n_fail" -> lit(0L))
    val kids = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
    // heal a previous run's crash window first: a temp dir whose
    // target vanished is a finished migration that missed its rename
    kids.filter(_.getName.startsWith(tmpPrefix)).foreach { t =>
      val target = new org.apache.hadoop.fs.Path(
        root, t.getName.stripPrefix(tmpPrefix))
      if (fs.exists(target)) fs.delete(t, true) // stale partial write
      else fs.rename(t, target)
    }
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(p => !p.getName.startsWith(tmpPrefix)).foreach { p =>
        val id = Seq("frontier_", "batch_").collectFirst {
          case pre if p.getName.startsWith(pre) =>
            scala.util.Try(p.getName.stripPrefix(pre).toLong).toOption
        }.flatten
        id.foreach { b =>
          val cur = spark.read.parquet(p.toString)
          val missing =
            defaults.filterNot { case (n, _) => cur.columns.contains(n) } ++
              (if (cur.columns.contains("b")) Nil else Seq("b" -> lit(b)))
          if (missing.nonEmpty) {
            val migrated = missing.foldLeft(cur) {
              case (d, (n, c)) => d.withColumn(n, c) }
            val tmp = new org.apache.hadoop.fs.Path(
              root, s"$tmpPrefix${p.getName}")
            if (fs.exists(tmp)) fs.delete(tmp, true)
            migrated.write.mode("overwrite").parquet(tmp.toString)
            fs.delete(p, true)
            fs.rename(tmp, p)
          }
        }
      }
  }

  /** Temp-dir prefix for [[migrateLedger]]'s in-place rewrites —
    * starts with a dot so the stream's layout scan and parquet
    * readers never see it as data. */
  private val tmpPrefix = ".__migrate_"

  /** Latest accumulated OPIC cash per url from the cash ledger's
    * replay-safe scope — same latest-wins read as [[ledgerState]]
    * (each batch lands CUMULATIVE rows, so the newest row per url is
    * the whole state and the settle folds history away). */
  private def cashState(spark: SparkSession, dir: String,
                        batchId: Long): Option[DataFrame] = {
    val (front, deltas) = Frontier.scopeParts(spark, dir, batchId)
    val parts = front.map { case (m, p) =>
      Frontier.frontierFrame(spark, dir, m, p) }.toSeq ++
      (if (deltas.isEmpty) Nil else Seq(spark.read.parquet(deltas: _*)))
    // fail FAST on a wrong (or pre-r18) directory handed as cashDir:
    // without this the union/agg below dies deep in analysis with a
    // column-resolution error naming the missing attribute, not the
    // cause (ledgerState's guard, mirrored)
    val need = Seq("url", "cash", "b")
    parts.foreach { p =>
      val missing = need.filterNot(p.columns.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"cash ledger at $dir is not in the cash-ledger row format " +
          s"(missing columns: ${missing.mkString(", ")}); expected " +
          "cumulative (url, cash, b) rows as written by crawledIngest's " +
          "cashDir sink — point cashDir at a fresh dir or the dir a " +
          "previous run's cashDir wrote")
    }
    if (parts.isEmpty) None
    else Some(parts.reduce(_ unionByName _)
      .groupBy("url")
      .agg(max(struct(col("b"), col("cash"))).as("w"))
      .select(col("url"), col("w.cash").as("cash")))
  }

  /** The accumulated-cash priority frame for [[nextWave]]'s
    * `priority` input: (url, cash) — every candidate's OPIC receipts
    * accumulated across ALL waves so far (r18: the actual Abiteboul
    * iteration converging with the crawl, where the pre-r18 loop
    * re-derived one-round cash each wave). Run the stream with
    * `cashDir` to maintain the ledger. */
  def cashReceipts(spark: SparkSession, cashDir: String): DataFrame =
    cashState(spark, cashDir, Long.MaxValue)
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("url"), lit(0L).as("cash")).limit(0))

  /** Interval rungs shared by [[recrawlDue]] and its scaladoc'd
    * contract — the streaming twin of Crawl.dsRecrawl's ladder,
    * on OBSERVED transitions (`n_changes`: refetches whose payload
    * differed from the previous copy — what a real crawler can see)
    * instead of the batch path's distinct-payload count. */
  private def intervalWaves(nFetches: Column, nChanges: Column): Column =
    when(nChanges >= 2, 1L)
      .when(nChanges === 1, 4L)
      .when(nFetches >= 2, 64L)
      .otherwise(8L)

  /** The validator demotion (r19): the base rung backed off
    * exponentially by the consecutive-unchanged streak — each
    * validated-or-identical refetch DOUBLES the interval (Cho &
    * Garcia-Molina's decay, integer-exact: `min(64, rung · 2^min(
    * n_unmod, 6))`, both caps shared with the batch twin
    * Crawl.dsRecrawlValidators). A hot page that stops changing
    * climbs 1→2→4→… instead of being refetched every wave forever;
    * one real change resets the streak to 0 and the rung takes over
    * again. 2^k for k ≤ 6 is exact in the double pow both engines
    * evaluate. */
  private def demoted(base: Column, nUnmod: Column): Column =
    least(lit(64L),
      base * pow(lit(2.0), least(nUnmod, lit(6L))).cast("long"))

  /** The recrawl DUE set at `currentBatch` — the freshness half of
    * the loop ([[nextWave]] schedules forward from discovery; this
    * schedules BACK over the fetched ledger): URLs whose change-rate
    * interval has elapsed since their last fetch. Cho &
    * Garcia-Molina's estimator collapsed to the integer rung ladder
    * of Crawl.dsRecrawl, over observed transitions: 2+ observed
    * changes → every wave, 1 → every 4, static across 2+ fetches →
    * every 64, single observation → every 8 (explore). Yields
    * (canon_url, url, n_fetches, n_changes, b, interval_waves,
    * sitemap_due) — `url` aliased for [[nextWave]]'s surface. One
    * hosts-free ledger aggregate; cost bounded by distinct fetched
    * URLs.
    *
    * `sitemapDue` (r18): the sitemap `<lastmod>` signal, consumed —
    * (canon_url, lastmod_batch) rows where `lastmod_batch` is the
    * announced change instant on the CALLER's batch timeline (a
    * sitemap-refresh loop maps each entry's W3C `lastmod` through its
    * own wave clock — [[graft.operators.Urls.sitemapMeta]] yields the
    * raw values). A URL whose announced change postdates its last
    * fetch (`lastmod_batch > b`) is due NOW regardless of its ladder
    * rung — the protocol signal OVERRIDES the estimator (the batch
    * twin is Crawl.dsRecrawlLastmod); absent or stale announcements
    * fall back to the ladder unchanged. The frame is folded to
    * max(lastmod_batch) per URL first, so duplicate announcements
    * (one per sitemap listing the URL) never duplicate due rows.
    * Sitemap-announced URLs never fetched are nextWave seeds, not
    * recrawls — the inner join scopes the signal to the ledger. */
  def recrawlDue(spark: SparkSession, fetchedDir: String,
                 currentBatch: Long,
                 sitemapDue: Option[DataFrame] = None): DataFrame = {
    val state = ledgerState(spark, fetchedDir, currentBatch)
      .getOrElse(emptyLedgerState(spark))
      // r20: the freshness ladder owns only URLs whose NEWEST
      // observation is content-shaped — a `gone` URL is permanent
      // (404/410: rescheduling it refetches a hole forever) and an
      // `error` URL belongs to [[retryDue]]'s bounded backoff until a
      // success resets it back into this ladder. Alias sources stay
      // schedulable by design (a redirect that later points elsewhere
      // is an observable change).
      .filter(!col("verdict").isin("gone", "error"))
      // r19: interval_waves is the EFFECTIVE rung — the change-rate
      // ladder demoted by the consecutive-unchanged streak (a 304
      // validation or identical refetch doubles the interval, capped;
      // [[demoted]]) — so a validator-confirmed-static URL backs off
      // even from the hot rung without waiting out the full ladder
      .withColumn("interval_waves",
        demoted(intervalWaves(col("n_fetches"), col("n_changes")),
          col("n_unmod")))
    val announced = sitemapDue match {
      case Some(sd) => state.join(
        broadcast(sd.groupBy("canon_url")
          .agg(max(col("lastmod_batch")).as("__lmb"))),
        Seq("canon_url"), "left")
      case None => state.withColumn("__lmb", lit(null).cast("long"))
    }
    announced
      .withColumn("sitemap_due",
        coalesce(col("__lmb") > col("b"), lit(false)))
      .filter(col("sitemap_due") ||
        lit(currentBatch) - col("b") >= col("interval_waves"))
      .select(col("canon_url"), col("canon_url").as("url"),
        col("n_fetches"), col("n_changes"), col("b"),
        col("interval_waves"), col("sitemap_due"), col("n_unmod"))
  }

  private def emptyLedgerState(spark: SparkSession): DataFrame =
    spark.emptyDataFrame
      .select(lit("").as("canon_url"), lit("").as("verdict"),
        lit("").as("h"), lit(0L).as("n_fetches"), lit(0L).as("n_changes"),
        lit(0L).as("n_unmod"), lit(0L).as("n_fail"), lit(0L).as("b"))
      .limit(0)

  /** Exponential retry backoff in waves for a transient-failure
    * streak: `min(64, 2^min(n_fail−1, 6))` — first failure retries
    * next wave, each further failure doubles the wait, both caps
    * shared with the recrawl ladder. PUBLIC column arithmetic: the
    * batch twin (Crawl.dsRetryLadder) evaluates the same function so
    * the driver's oracle hash gates it every round. */
  def backoffWaves(nFail: Column): Column =
    least(lit(64L),
      pow(lit(2.0), least(greatest(nFail - 1L, lit(0L)), lit(6L)))
        .cast("long"))

  /** The retry DUE set at `currentBatch` (r20) — the failure half of
    * the scheduling loop, owning exactly the URLs [[recrawlDue]]
    * disowns: ledger rows whose newest observation is a transient
    * `error`, due once their [[backoffWaves]] interval has elapsed,
    * and DROPPED for good past `maxAttempts` consecutive failures
    * (a host that 503s five times across doubling waits is down or
    * blocking us — rescheduling it forever is the politeness bug).
    * Feed the result to [[nextWave]]'s `recrawl` union: a retry is a
    * refetch like any other, and its success writes a content verdict
    * that resets `n_fail` and returns the URL to the freshness
    * ladder. Same hosts-free single ledger aggregate as recrawlDue. */
  def retryDue(spark: SparkSession, fetchedDir: String,
               currentBatch: Long, maxAttempts: Int = 4): DataFrame =
    ledgerState(spark, fetchedDir, currentBatch)
      .getOrElse(emptyLedgerState(spark))
      .filter(col("verdict") === "error")
      .withColumn("backoff_waves", backoffWaves(col("n_fail")))
      .filter(col("n_fail") <= maxAttempts &&
        lit(currentBatch) - col("b") >= col("backoff_waves"))
      .select(col("canon_url"), col("canon_url").as("url"),
        col("n_fail"), col("b"), col("backoff_waves"))

  def crawledIngest(fetches: DataFrame, settledUrls: Option[DataFrame],
                    survivorDir: String, blockedDomains: Seq[String],
                    minTokens: Int = graft.queries.Crawl.crawlMinTokens,
                    settleEvery: Int = 16,
                    discoveredDir: Option[String] = None,
                    fetchedDir: Option[String] = None,
                    frontierBuckets: Int = 32,
                    robotsRules: Option[DataFrame] = None,
                    recrawlScope: Option[DataFrame] = None,
                    cashDir: Option[String] = None,
                    opicInit: Long = graft.queries.Crawl.opicCash,
                    recrawlSnapshotDir: Option[String] = None)
      : StreamingQuery = {
    // Pin the recrawl scope EAGERLY at stream construction: the due
    // set is typically a plan over the fetched ledger this very
    // stream rewrites per batch ([[recrawlDue]]), so re-executing it
    // lazily inside a batch would read files the batch's own ledger
    // overwrite just deleted (measured as FAILED_READ_FILE on the
    // batch-0 replay). The scope is a DECISION taken when the wave
    // was planned, not a live view.
    //
    // r19 — the pin is DIR-BACKED by default when the caller hands a
    // `recrawlSnapshotDir`: the due set is written ONCE to a parquet
    // snapshot when the stream is constructed (the wave-plan instant)
    // and every batch probes the snapshot files — never the live
    // ledger, never driver memory. The snapshot is immutable for the
    // stream's life (the one overwrite happens before batch 0), so a
    // batch replay reads exactly the bytes the first attempt read,
    // and an executor loss recovers from disk like any other scan.
    // This removes the engine's one data-dependent hot-loop collect:
    // the r18 driver pin (collect + re-create, kept below for
    // in-memory scopes without a snapshot dir) bounds the due set by
    // driver memory — fine at wave scale, wrong for a hot-ladder wave
    // whose due set is frontier-sized.
    val recrawlPinned = recrawlScope.map { scope =>
      val spark = scope.sparkSession
      val due = scope.select("canon_url").distinct()
      recrawlSnapshotDir match {
        case Some(dir) =>
          due.write.mode("overwrite").parquet(dir)
          spark.read.parquet(dir)
        case None =>
          import spark.implicits._
          val urls = due.as[String].collect().toSeq
          urls.toDF("canon_url")
      }
    }
    // fold accumulated deltas into the settled frontiers (never the
    // in-flight batch — replay safety, see Frontier); the survivor +
    // ledger frontiers land bucketed on the probe key
    val settles = Frontier.Settle(survivorDir, Seq("canon_url"), frontierBuckets) +:
      (fetchedDir.map(Frontier.Settle(_, Seq("canon_url"), frontierBuckets)) ++
        cashDir.map(Frontier.Settle(_, Seq("url"), frontierBuckets))).toSeq
    fetches.writeStream
      .foreachBatch(Frontier.settling(settleEvery, settles: _*) { (batch, batchId) =>
        val spark = batch.sparkSession
        // batch-bounded caches (keyed/staged/links below) register
        // here and unpersist in the `finally`: a mid-batch exception
        // (the ledger-format fail-fast, a sink write error) must not
        // leak cached partitions — on a long-running stream with
        // retries those leaks accumulate in executor storage memory
        // (r20, ADVICE).
        val batchCaches =
          scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
        def tracked[T](ds: Dataset[T]): Dataset[T] = {
          ds.persist(); batchCaches += ds; ds
        }
        try {
          // redirect awareness (r18): a fetch frame may carry a
          // `final_url` column — the fetcher's observed post-redirect
          // location (empty/null = no redirect). Admission then keys on
          // the FINAL canonical URL (the same page behind two requested
          // URLs admits once), and the (requested → final) pairs land
          // in the fetched ledger as `alias` rows below, so discovery
          // and nextWave never re-schedule a known redirect source.
          //
          // rel=canonical (r19): the in-document half of the SAME
          // signal — a page declaring `<link rel="canonical">`
          // (Html.canonicalHref; possibly relative, resolved against
          // the redirect-final base) keys its
          // admission on the DECLARED canonical, the most specific
          // aliasing statement available (it overrides the transport
          // final: the site says what the fetched content IS). Both the
          // requested URL and the redirect final become alias sources of
          // the declared key, so neither ever re-schedules. Cost: one
          // regex extract over bytes the batch already holds.
          val hasFinal = batch.columns.contains("final_url")
          val eff =
            if (hasFinal) coalesce(nullif(col("final_url"), lit("")), col("url"))
            else col("url")
          // not-modified verdicts (r19): a fetch frame may carry a
          // `not_modified` column — the fetcher's validator outcome
          // (HTTP 304 / ETag match: the server confirmed the payload is
          // unchanged WITHOUT sending it). Such a fetch counts in the
          // ledger (n_fetches+1, the unchanged streak +1, the previous
          // hash carried — "validated unchanged" is evidence, not a
          // change) but never reaches admission or extraction: there is
          // no payload to extract, and the corpus already holds the
          // newest copy. recrawlDue's ladder then demotes the streak.
          val hasNotMod = batch.columns.contains("not_modified")
          // fetch-failure verdicts (r20): a fetch frame may carry an
          // `http_status` column (null/absent = 200). Non-content
          // outcomes classify into three channels — 304 joins the
          // validator path (same semantics as `not_modified`), 404/410
          // are PERMANENT (`gone`: observed once, never rescheduled,
          // and a due refetch that 410s erases the retained copy —
          // the tombstone discipline noindex established), everything
          // else is TRANSIENT (`error`: the n_fail streak grows and
          // [[retryDue]]'s bounded exponential backoff owns the
          // rescheduling until a success resets the streak). Failed
          // fetches never reach admission or extraction — there is no
          // payload worth decoding (the batch ds_crawl_warc twin
          // status-gates identically).
          val hasStatus = batch.columns.contains("http_status")
          val st =
            if (hasStatus) coalesce(col("http_status"), lit(200))
            else lit(200)
          val stGone: Column =
            if (hasStatus) st === 404 || st === 410 else lit(false)
          val stErr: Column =
            if (hasStatus) st =!= 200 && st =!= 304 && st =!= 404 && st =!= 410
            else lit(false)
          val nmCond =
            (if (hasNotMod) coalesce(col("not_modified"), lit(false))
             else lit(false)) || (if (hasStatus) st === 304 else lit(false))
          // gate placement per Urls.dedupByUrl's r16 note: conservative
          // raw-host gate before the exchange (references only the raw
          // url column — bulk blocked volume never shuffles), exact
          // canonical gate after the keep-first aggregate (one row per
          // distinct URL; host is a function of canon_url, so the
          // filter commutes with the aggregate)
          val gatedAll = batch.toDF()
            .filter(!Urls.hostBlocked(Urls.rawHostLower(col("url")),
              blockedDomains))
          val gatedRaw =
            if (!hasNotMod && !hasStatus) gatedAll
            else gatedAll.filter(!nmCond && st === 200)
          // non-content keys share one shape: no document, so the key
          // is the transport final's canon (no payload can declare a
          // canonical); distinct — one ledger observation per URL per
          // batch. min doc_id rides along for the gone tombstones.
          def statusKeys(cond: Column): DataFrame = gatedAll
            .filter(cond)
            .select(Urls.canonicalize(eff).as("canon_url"), col("doc_id"))
            .filter(!Urls.hostBlocked(Urls.hostOf(col("canon_url")),
              blockedDomains))
            .groupBy("canon_url").agg(min(col("doc_id")).as("doc_id"))
          val notModKeys =
            if (!hasNotMod && !hasStatus) None
            else Some(statusKeys(nmCond).select("canon_url"))
          val goneKeys = if (!hasStatus) None else Some(statusKeys(stGone))
          val errKeys =
            if (!hasStatus) None else Some(statusKeys(stErr).select("canon_url"))
          // one projection computes every key the batch needs: __src
          // (the requested canon), __base (the redirect-final canon —
          // the same expression as __src when no final_url column, so
          // codegen CSE evaluates the cascade once) and __key (the
          // admission key: declared canonical when present, else base)
          val keyed = gatedRaw.select(col("doc_id"), col("html"),
              Urls.canonicalize(col("url")).as("__src"),
              Urls.canonicalize(eff).as("__base"))
            // __ch as its own column: resolveHref references the href
            // ~8 times, and inlined each reference re-runs the two
            // extraction regexes over the page (CollapseProject keeps
            // the boundary — non-cheap, multi-referenced)
            .withColumn("__ch", Html.canonicalHref(col("html")))
            // declared-href gate: pages without a declaration (the
            // vast majority) skip the resolve + canonicalize chain
            // entirely — CaseWhen evaluates branches lazily
            .withColumn("__key", when(col("__ch").isNotNull, coalesce(
                Urls.canonicalize(Urls.resolveHref(col("__base"), col("__ch"))),
                col("__base")))
              .otherwise(col("__base")))
          // the keyed frame is read by UP TO four consumers in a full
          // configuration — admission's keep-first, the alias-pair
          // union's TWO branches, and discovery's own-batch exclusion —
          // and each re-execution re-runs the batch scan, the canon
          // cascade and the canonical extraction. Cache it per batch
          // when a second consumer exists (batch-bounded; unpersisted
          // in the batch epilogue). Measured at the 100× streaming
          // decade with the ledger on: early-mean 3.15 → 2.40 s/batch.
          val keyedCached = fetchedDir.isDefined || discoveredDir.isDefined ||
            cashDir.isDefined
          val keyedC = if (keyedCached) tracked(keyed) else keyed
          val firstInBatch = keyedC
            .select(col("doc_id"), col("html"), col("__key").as("canon_url"))
            .groupBy("canon_url")
            .agg(min(struct(col("doc_id"), col("html"))).as("w"))
            .filter(!Urls.hostBlocked(Urls.hostOf(col("canon_url")),
              blockedDomains))
            .select(col("canon_url"), col("w.doc_id").as("doc_id"),
              col("w.html").as("html"))
          // the batch's alias pairs — every observed spelling of the
          // admission key (requested canon AND redirect-final canon)
          // maps to it; batch-content-only, so replay-stable like
          // firstInBatch; bounded by the batch's redirected or
          // canonical-declaring fetches after the src =!= dst filter
          val aliasPairs = keyedC
            .select(col("__src").as("src"), col("__key").as("dst"))
            .unionByName(keyedC
              .select(col("__base").as("src"), col("__key").as("dst")))
            .filter(col("src") =!= col("dst"))
            .filter(!Urls.hostBlocked(Urls.hostOf(col("src")),
              blockedDomains))
            .distinct()
          // admitted frontier: settled run artifact + this run's EARLIER
          // batches (the current id excluded — a retry must not
          // anti-join its own partial output, see Frontier.scopePaths)
          val afterOwn = antiAdmitted(spark, firstInBatch, "canon_url",
            survivorDir, batchId)
          val fresh = settledUrls match {
            case Some(sn) =>
              afterOwn.join(sn.select("canon_url"), Seq("canon_url"), "left_anti")
            case None => afterOwn
          }
          // recrawl scope (r17): URLs whose freshness interval has
          // elapsed ([[recrawlDue]]) RE-ENTER admission past every
          // fetched-scope exclusion — the refetch lands as a new
          // survivor version (the survivor settle's latest-wins fold
          // keeps the corpus at the newest copy) and increments the
          // ledger's change evidence below. The scope contract: due
          // URLs derive from the fetched ledger, so they are disjoint
          // from `fresh` by construction; the anti-join enforces it
          // against a caller handing never-fetched URLs (which must
          // admit as fresh ONCE, not twice).
          val admitted = recrawlPinned match {
            case Some(due) => fresh.unionByName(
              firstInBatch
                .join(due, Seq("canon_url"), "left_semi")
                .join(fresh.select("canon_url"), Seq("canon_url"), "left_anti"))
            case None => fresh
          }
          // meta-robots at ADMISSION (r19): `noindex` is the compliance
          // sibling of robots.txt — RFC 9309 governs fetching, noindex
          // governs RETENTION. A declaring page is excluded from
          // survivors under its own verdict (compliance outranks the
          // thin cut), while its links still feed discovery below —
          // unless `nofollow` gates them there. __mr as its own column:
          // both token flags reference it (CollapseProject boundary).
          val withMeta = admitted
            .withColumn("__mr", Html.metaRobots(col("html")))
            .withColumn("__noidx", Html.robotsContentHas(col("__mr"), "noindex"))
          val ext = Html.extractMainText(withMeta, col("html"), col("doc_id"),
            carry = Seq(col("canon_url"), col("__noidx")))
          val nTok = when(col("main_text") === "", 0L)
            .otherwise(size(split(col("main_text"), "[ \\n]")).cast("long"))
          val gated = ext.select(col("doc_id"), col("canon_url"), col("main_text"),
              col("kept_blocks"), nTok.as("n_tokens"), col("__noidx"))
            .withColumn("verdict",
              when(col("__noidx"), "noindex")
                .when(col("n_tokens") >= minTokens, "kept")
                .otherwise(lit("thin")))
            .drop("__noidx")
          // the batch is bounded: stage it so the survivor write and
          // the ledger write don't each re-run extraction + the probe
          // anti-joins (discovery reads `fresh` pre-extraction — links
          // come from ALL gated fetches, thin included)
          val staged = if (fetchedDir.isDefined) tracked(gated) else gated
          // noindex gained on REFETCH (r20): the first fetch's copy is
          // already retained, and the site now says don't retain it —
          // compliance demands the old copy LEAVE the corpus, not just
          // stop updating. The survivor delta lands a TOMBSTONE row
          // (content nulled — retaining the text on the erase marker
          // would defeat the directive) that the settle's latest-wins
          // fold compacts into a deletion (Frontier.settling) and
          // layered reads hide. Scoped to the due set: a FIRST-fetch
          // noindex page never wrote a survivor row, so it needs no
          // erase marker — and ledger-less admission scope semantics
          // stay unchanged for it. Kept rows carry tombstone=false so
          // each delta's schema is uniform.
          val keptRows = staged.filter(col("verdict") === "kept")
            .drop("verdict").withColumn("tombstone", lit(false))
          val survivorRows = recrawlPinned match {
            case Some(due) =>
              // erase markers for due refetches whose page must LEAVE
              // the corpus: a gained noindex (compliance says don't
              // retain) and a 404/410 (the content is gone — r20,
              // same tombstone discipline)
              val noidxTomb = staged.filter(col("verdict") === "noindex")
                .join(due, Seq("canon_url"), "left_semi")
                .select(col("doc_id"), col("canon_url"))
              val tombs = goneKeys match {
                case Some(gk) => noidxTomb.unionByName(
                  gk.join(due, Seq("canon_url"), "left_semi")
                    .select(col("doc_id"), col("canon_url")))
                case None => noidxTomb
              }
              keptRows.unionByName(tombs
                .select(col("doc_id"), col("canon_url"),
                  lit(null).cast("string").as("main_text"),
                  lit(0L).as("kept_blocks"), lit(0L).as("n_tokens"),
                  lit(true).as("tombstone")))
            case None => keptRows
          }
          survivorRows
            .write.mode("overwrite").parquet(s"$survivorDir/batch_$batchId")
          // fetched-URL ledger: EVERY gated fetch, thin included — the
          // discovery scope's truth (same per-batch-overwrite replay
          // contract: `staged` derives from the replay-stable scope).
          // r17: rows carry cumulative change evidence — payload md5,
          // fetch count, observed-transition count, batch id — the
          // [[recrawlDue]] inputs. The settle's latest-wins fold keeps
          // exactly the newest cumulative row per URL, so history
          // survives compaction as counters, not as rows. The prev-state
          // probe is one more co-partitioned join against the bucketed
          // frontier per batch (batch side shuffles, ledger side
          // doesn't); n_fetches/n_changes derive from the scope BEFORE
          // this batch, so a batch retry recomputes identical rows.
          fetchedDir.foreach { fd =>
            // alias rows (r18): one ledger row per redirect SOURCE,
            // verdict 'alias', h = md5 of the final canonical URL — so
            // the change-evidence counters track the TARGET: a source
            // whose redirect later points elsewhere counts an observed
            // change, and recrawlDue re-checks it like any other URL.
            // Discovery's ledger scope then excludes alias sources the
            // same way it excludes thin pages.
            val contentNow = staged.select(col("canon_url"), col("verdict"),
              md5(col("main_text").cast("binary")).as("h"))
            // r19: same-batch duplicates resolve by POLICY, not by the
            // latest-wins fold's struct ordering — a URL observed both
            // serving content (a final/non-redirecting fetch) and as an
            // alias source of another fetch in ONE batch previously
            // landed two rows with the same batch id, so the surviving
            // hash was whichever struct compared higher (arbitrary) and
            // the next refetch could spuriously count or miss an
            // n_changes transition. Content wins over alias (the page
            // demonstrably served a payload this batch); among alias
            // dups of one source (two fetches redirected to different
            // finals in one batch) the min target-hash wins —
            // deterministic on replay. The fold's exchange is keyed on
            // the ALIAS frame only (bounded by the batch's redirected
            // fetches), never the whole batch.
            val now = contentNow.unionByName(
              aliasPairs.groupBy(col("src").as("canon_url"))
                .agg(min(md5(col("dst").cast("binary"))).as("h"))
                .withColumn("verdict", lit("alias"))
                .join(contentNow.select("canon_url"),
                  Seq("canon_url"), "left_anti")
                .select(col("canon_url"), col("verdict"), col("h")))
            // not_modified rows (r19): one observation per validated
            // URL — h CARRIES the previous hash (the server confirmed
            // that exact payload), the fetch counts, the change count
            // does not, and the unchanged streak grows. Same-batch
            // policy as the alias fold: a content/alias observation of
            // the same URL wins (it carries strictly more information).
            // the non-content channels stack under the same same-batch
            // precedence rule (a stronger observation of the URL wins:
            // content/alias > validated-unchanged > gone > error),
            // each tagged with its channel for the evidence arithmetic
            // below. All three key frames are batch-bounded.
            val now0 = now.withColumn("__kind", lit("content"))
            def layer(base: DataFrame, keys: Option[DataFrame],
                      verdict: String, kind: String): DataFrame =
              keys match {
                case Some(k) => base.unionByName(
                  k.select("canon_url")
                    .join(base.select("canon_url"), Seq("canon_url"),
                      "left_anti")
                    .select(col("canon_url"), lit(verdict).as("verdict"),
                      lit(null).cast("string").as("h"),
                      lit(kind).as("__kind")))
                case None => base
              }
            val nowFull = layer(layer(layer(now0,
              notModKeys.map(_.select("canon_url")), "not_modified", "nm"),
              goneKeys.map(_.select("canon_url")), "gone", "gone"),
              errKeys, "error", "err")
            // evidence arithmetic per channel — n_unmod: the
            // consecutive-unchanged streak (0 on a first observation
            // or an observed change, +1 on a validated or
            // identical-payload refetch; recrawlDue demotes the ladder
            // on it); n_fail: the consecutive-failure streak (r20 —
            // +1 per transient error, reset by ANY successful
            // observation; retryDue backs off on it); `error` rows
            // CARRY the last known hash so the eventual recovery
            // fetch counts its change against the last real copy,
            // `gone` rows carry nothing — the content is gone.
            val row = ledgerState(spark, fd, batchId) match {
              case Some(prev) => nowFull.join(
                  prev.select(col("canon_url"), col("h").as("__ph"),
                    col("n_fetches").as("__pf"), col("n_changes").as("__pc"),
                    col("n_unmod").as("__pu"), col("n_fail").as("__pn")),
                  Seq("canon_url"), "left")
                .select(col("canon_url"), col("verdict"),
                  when(col("__kind") === "nm" || col("__kind") === "err",
                      col("__ph"))
                    .when(col("__kind") === "gone",
                      lit(null).cast("string"))
                    .otherwise(col("h")).as("h"),
                  (coalesce(col("__pf"), lit(0L)) +
                    when(col("__kind") === "err", 0L).otherwise(1L))
                    .as("n_fetches"),
                  (coalesce(col("__pc"), lit(0L)) +
                    when(col("__kind") === "content" &&
                      col("__ph").isNotNull && col("__ph") =!= col("h"), 1L)
                      .otherwise(0L)).as("n_changes"),
                  when(col("__kind") === "err",
                      coalesce(col("__pu"), lit(0L)))
                    .when(col("__kind") === "gone", 0L)
                    .when(col("__kind") === "content" &&
                      (col("__ph").isNull || col("__ph") =!= col("h")), 0L)
                    .otherwise(coalesce(col("__pu"), lit(0L)) + 1L)
                    .as("n_unmod"),
                  when(col("__kind") === "err",
                      coalesce(col("__pn"), lit(0L)) + 1L)
                    .otherwise(0L).as("n_fail"))
              case None => nowFull.select(col("canon_url"), col("verdict"),
                col("h"),
                when(col("__kind") === "err", 0L).otherwise(1L)
                  .as("n_fetches"),
                lit(0L).as("n_changes"),
                when(col("__kind") === "nm", 1L).otherwise(0L).as("n_unmod"),
                when(col("__kind") === "err", 1L).otherwise(0L).as("n_fail"))
            }
            row.withColumn("b", lit(batchId))
              .write.mode("overwrite").parquet(s"$fd/batch_$batchId")
          }
          // discovery half (optional): this batch's outbound links as
          // next-wave candidates — raw-href gate BEFORE the resolve
          // chain (the filter-pushdown clone trap), blocklist before
          // the write, already-FETCHED (ledger-less: already-admitted)
          // URLs excluded via the same replay-safe scope as admission
          // the batch's canon-gated outbound-link frame, shared by the
          // discovery sink and the OPIC cash distribution; persisted
          // when BOTH consume it so the admission anti-joins + link
          // explode run once per batch, not twice
          val linksNeeded = discoveredDir.isDefined || cashDir.isDefined
          val linksCached = if (!linksNeeded) None else {
            val l = admitted
              // nofollow (r19): a page declaring it contributes NO
              // frontier candidates (and, downstream, no OPIC cash
              // shares — the distribution reads this frame). noindex
              // alone does NOT gate here: links from an unretained page
              // are still followable per the directive's semantics.
              .filter(!Html.robotsContentHas(Html.metaRobots(col("html")),
                "nofollow"))
              .select(col("canon_url").as("referrer"),
                explode(Html.linkHrefs(col("html"))).as("href"))
              .filter(Urls.hrefIsCandidate(col("href")))
              .select(col("referrer"), Urls.canonicalize(
                Urls.resolveHref(col("referrer"), col("href"))).as("url"))
              .withColumn("h", Urls.hostOf(col("url")))
              .filter(!Urls.hostBlocked(col("h"), blockedDomains))
              .select("url", "referrer")
            Some(if (discoveredDir.isDefined && cashDir.isDefined) tracked(l)
                 else l)
          }
          discoveredDir.foreach { dd =>
            val links = linksCached.get
            val scopeDir = fetchedDir.getOrElse(survivorDir)
            val notSeen = antiAdmitted(spark, links, "url", scopeDir, batchId)
            val notExternal = settledUrls match {
              case Some(sn) => notSeen.join(
                sn.select(col("canon_url").as("url")), Seq("url"), "left_anti")
              case None => notSeen
            }
            val notOwn0 = notExternal
              .join(firstInBatch.select(col("canon_url").as("url")),
                Seq("url"), "left_anti")
            // this batch's own alias SOURCES are fetched too (their
            // ledger rows land below this batch) — a page linking to a
            // just-redirected URL must not re-emit it as a candidate
            val notOwn = notOwn0.join(
              aliasPairs.select(col("src").as("url")), Seq("url"), "left_anti")
            // robots gate LAST (fewest candidates left): a disallowed
            // URL is never EMITTED as a candidate, so no later stage —
            // nextWave, an external scheduler draining the dir — can
            // fetch it. The batch path's dsCrawlRobots posture, live.
            val polite = robotsRules match {
              case Some(r) => Urls.robotsFilter(notOwn, col("url"), r)
              case None => notOwn
            }
            polite.write.mode("overwrite").parquet(s"$dd/batch_$batchId")
          }
          // OPIC cash ledger (r18 — the Abiteboul iteration riding the
          // crawl itself, not a per-wave one-round recompute): each
          // (interplay with redirects: shares are keyed on the link's
          // canonical TARGET as written; cash landing on a URL later
          // learned to be an alias source stays parked there — inert,
          // since the ledger excludes alias sources from scheduling —
          // bounded by the moved fraction; forwarding parked cash to
          // the final URL would need the ledger to carry final_url,
          // a deliberate non-goal while h = md5(target) is the
          // change-tracking contract)
          // admitted page distributes its cash — the initial allotment
          // plus everything it ACCUMULATED as a candidate — in integer
          // floor shares over its outlinks (dsFrontierOpic's share
          // rule); receipts accrue per target as CUMULATIVE rows (the
          // fetch ledger's counter pattern, so the settle's latest-wins
          // fold keeps exactly the newest total), and a distributing
          // page's own balance resets to its floor-division REMAINDER
          // (r19: what it could not split evenly stays with it — cash
          // MOVES without leaking, and a recrawl can never redistribute
          // the same receipts twice). Cost: one
          // more co-partitioned state probe + one link-keyed aggregate
          // per batch; [[cashReceipts]] is the read surface nextWave
          // ranks on. Replay-safe: state reads scope to batches < this
          // one, so a retry recomputes identical rows.
          cashDir.foreach { cd =>
            val lk = linksCached.get
            val prev = cashState(spark, cd, batchId)
            val withAcc = prev match {
              case Some(st) => lk.join(st.select(col("url").as("referrer"),
                  col("cash").as("__acc")), Seq("referrer"), "left")
              case None => lk.withColumn("__acc", lit(null).cast("long"))
            }
            val shares = withAcc
              .withColumn("__outdeg", count(lit(1)).over(
                org.apache.spark.sql.expressions.Window.partitionBy("referrer")))
              .withColumn("__share",
                expr(s"(${opicInit}L + coalesce(__acc, 0L)) div __outdeg"))
            val received = shares.groupBy("url")
              .agg(sum(col("__share")).as("__recv"))
            // r19 — cash is CONSERVED: a distributing page keeps its
            // floor-division remainder ((opicInit + acc) mod outdeg)
            // instead of resetting to zero. The pre-r19 reset destroyed
            // the remainder every wave, so total system cash drained
            // monotonically — Abiteboul's convergence argument assumes
            // distribution moves cash without losing it (what a page
            // cannot split evenly stays on the page for its next
            // distribution). The remainder is constant per referrer
            // (same acc and outdeg on every link row), so max() reads
            // it off the shares frame without a second window; the
            // aggregate is keyed on the batch's referrers — bounded by
            // the batch, never the ledger. First-fetch distributors
            // (never in the ledger) keep opicInit mod outdeg the same
            // way — pre-r19 that remainder leaked silently because no
            // reset row landed at all.
            val kept = shares.groupBy(col("referrer").as("url"))
              .agg(max(expr(
                s"(${opicInit}L + coalesce(__acc, 0L)) % __outdeg")).as("__rem"))
            val changed = received.join(kept, Seq("url"), "full_outer")
            val row = (prev match {
              case Some(st) => changed.join(
                st.select(col("url"), col("cash").as("__pc")), Seq("url"), "left")
              case None => changed.withColumn("__pc", lit(null).cast("long"))
            }).select(col("url"),
              (coalesce(col("__recv"), lit(0L)) +
                coalesce(col("__rem"), coalesce(col("__pc"), lit(0L)))).as("cash"))
            row.withColumn("b", lit(batchId))
              .write.mode("overwrite").parquet(s"$cd/batch_$batchId")
          }
        } finally {
          batchCaches.foreach(_.unpersist())
        }
      })
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Close the crawl loop: the next fetch wave's candidates — every
    * discovered URL minus every URL already fetched (the ledger when
    * the stream ran with `fetchedDir`; pass the survivor dir for a
    * ledger-less run) — with in-link evidence, politely scheduled.
    * The fetched probe reads the settled frontier through its
    * bucketed table when present, so the big anti-join's frontier
    * side scans exchange-free.
    *
    * Robots posture (r16): `robotsRules` re-filters the candidates at
    * scheduling time — belt to discovery's suspenders: rules may have
    * been refreshed since a candidate was discovered, and a run that
    * streamed WITHOUT the discovery-side gate still schedules
    * politely. `hostCaps` (host, cap — e.g. derived from
    * [[graft.operators.Urls.robotsDelays]] as max(1, wavePeriod /
    * delay)) switches the schedule to [[graft.operators.Urls
    * .politeWavesCapped]]: each host's per-wave multiplicity is ITS
    * cap (`perHostPerWave` for hosts publishing none), and the output
    * carries the applied `cap` column; capless runs keep the global
    * [[graft.operators.Urls.politeWaves]] shape. */
  /** Per-host quality over the fetched LEDGER — the streaming twin of
    * the batch domain gate (Crawl.dsCurateDomain), same integer
    * keep-rate verdict: (host, n_pages, n_kept, quality_ok). Reads
    * the ledger LAYERED (settled frontier + live batch deltas), so
    * each evaluation sees every verdict landed so far — the stats
    * refresh as batches land and compact at each settle; a plan built
    * here and handed to [[nextWave]] prices one hosts-bounded
    * aggregate over the ledger.
    *
    * r18: the ledger is folded to the LATEST row per canon_url (max
    * batch id — the same latest-wins fold the settle applies) BEFORE
    * the keep rate, so `n_pages` counts distinct URLs and each URL
    * votes its newest verdict exactly once. Unfolded, a refetched URL
    * had one row per fetch across the live deltas but one after the
    * settle's compaction — a host's verdict could flip across a
    * settle boundary with no new evidence, and refetched URLs were
    * weighted more than once-fetched ones. This matches the batch
    * per-page semantics (Crawl.dsCurateDomain) regardless of settle
    * timing. */
  def hostQuality(spark: SparkSession, fetchedDir: String,
                  keepPct: Int = graft.queries.Crawl.domainKeepPct)
      : DataFrame =
    Frontier.readLayered(spark, fetchedDir)
      // only CONTENT-QUALITY verdicts vote: alias rows are redirect
      // observations, not_modified rows are validator confirmations
      // of content already judged, and noindex is a compliance
      // verdict — none of them says anything about the host's text
      // quality, and before the r19 filter a validated-unchanged KEPT
      // page's newest row (not_modified) silently flipped its vote to
      // not-kept. The latest-per-URL fold below therefore reads the
      // newest CONTENT verdict.
      .filter(col("verdict").isin("kept", "thin"))
      .groupBy("canon_url")
      .agg(max(struct(col("b"), col("verdict"))).as("w"))
      .select(Urls.hostOf(col("canon_url")).as("host"),
        when(col("w.verdict") === "kept", 1L).otherwise(0L).as("k"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_pages"), sum(col("k")).as("n_kept"))
      .withColumn("quality_ok",
        col("n_kept") * 100 >= col("n_pages") * keepPct)

  /** Route fetched sitemap BODIES (host, xml) into the two scopes the
    * protocol defines — the step between "fetch what robotsSitemaps
    * lists" and "seed [[nextWave]]":
    *
    *  - a `<urlset>` body's locs are PAGE candidates → returned first,
    *    canonicalized, as `seeds` for [[nextWave]];
    *  - a `<sitemapindex>` body's locs are CHILD SITEMAPS (any site
    *    past the protocol's 50k-URL cap serves an index at its root)
    *    → returned second as (host, sitemap_url) for the caller's
    *    sitemap-FETCH loop; their bodies route through here again.
    *
    * Kind is detected at the FILE level ([[graft.operators.Urls
    * .sitemapKind]] — the protocol forbids mixing entry kinds), so an
    * index child is never scheduled as a page: fetching it as a page
    * would admit an XML file into the corpus and lose every page it
    * lists. Recursion is driver-side by design — sitemap trees are
    * hosts-bounded and at most a few levels; each level is one
    * bounded frame, never a corpus-sized plan. */
  def sitemapSeeds(bodies: DataFrame, host: Column,
                   xml: Column): (DataFrame, DataFrame) = {
    val entries = Urls.sitemapEntries(bodies, host, xml)
    val pages = entries.filter(col("kind") === "urlset")
      .select(Urls.canonicalize(col("loc_url")).as("url")).distinct()
    val children = entries.filter(col("kind") === "index")
      .select(col("host"),
        Urls.canonicalize(col("loc_url")).as("sitemap_url")).distinct()
    (pages, children)
  }

  def nextWave(spark: SparkSession, discoveredDir: String,
               fetchedDir: String,
               perHostPerWave: Int = 2,
               robotsRules: Option[DataFrame] = None,
               hostCaps: Option[DataFrame] = None,
               seeds: Option[DataFrame] = None,
               hostQuality: Option[DataFrame] = None,
               recrawl: Option[DataFrame] = None,
               traps: Option[DataFrame] = None,
               priority: Option[DataFrame] = None,
               ipGroups: Option[DataFrame] = None): DataFrame = {
    // seeds: already-canonical URLs from OUTSIDE link discovery —
    // typically sitemap locs (Urls.robotsSitemaps → fetch →
    // [[sitemapSeeds]], whose page half lands here after index
    // bodies are routed back to the sitemap-fetch loop), the only way
    // pages nothing links to yet enter the loop. They join the
    // candidate pool at
    // in-link evidence 0 (a discovered link always outranks a bare
    // listing within its host) and flow through the SAME fetched
    // scope, robots refilter and politeness window as discoveries —
    // a sitemap is a hint, never a bypass.
    val disc = Frontier.readLayered(spark, discoveredDir)
      .groupBy("url").agg(count(lit(1)).as("n_refs"))
    val cand = seeds match {
      case Some(sd) => disc.unionByName(
          sd.select(col("url"), lit(0L).as("n_refs")))
        .groupBy("url").agg(max(col("n_refs")).as("n_refs"))
      case None => disc
    }
    val scoped = antiAdmitted(spark, cand, "url", fetchedDir, Long.MaxValue)
    // recrawl (r17): DUE fetched URLs ([[recrawlDue]]) re-enter the
    // wave past the fetched-scope exclusion — due ⊆ fetched, so the
    // union is disjoint from `scoped` by construction. A due URL's
    // in-link evidence is 0 unless discovery happens to list it too
    // (the discovery scope excludes fetched URLs, so it normally
    // doesn't); robots, the domain gate and politeness below apply
    // to refetches exactly as to first fetches — freshness is a
    // hint, never a bypass.
    val withDue = recrawl match {
      case Some(due) => scoped.unionByName(
        due.select("url").distinct()
          .join(cand, Seq("url"), "left")
          .select(col("url"), coalesce(col("n_refs"), lit(0L)).as("n_refs")))
      case None => scoped
    }
    val allowed = robotsRules match {
      case Some(r) => Urls.robotsFilter(withDue, col("url"), r)
      case None => withDue
    }
    // domain-quality gate (r17): candidates on hosts the fetched
    // ledger has CONDEMNED (`!quality_ok` — [[hostQuality]]) are
    // dropped before scheduling; hosts with no verdict evidence yet
    // stay schedulable (a gate can't condemn without evidence). The
    // C4 order live: a spam host stops being crawled as soon as its
    // verdict stats land, without waiting for per-doc filters to
    // reject each fetch one by one. Broadcast: bounded by hosts.
    val gated = hostQuality match {
      case Some(hq) => allowed
        .withColumn("__h", Urls.hostOf(col("url")))
        .join(broadcast(hq.select(col("host").as("__h"), col("quality_ok"))),
          Seq("__h"), "left")
        .filter(coalesce(col("quality_ok"), lit(true)))
        .drop("__h", "quality_ok")
      case None => allowed
    }
    // trap gate (r17): candidates whose (host, template) the trap
    // audit flagged (Crawl.dsCrawlTraps' shape — digit runs in the
    // path+query collapsed to N) never reach the politeness window —
    // an infinite URL space can otherwise monopolize its host's wave
    // slots forever. Broadcast anti-join, bounded by hosts×templates.
    val trapGated = traps match {
      case Some(tr) => gated
        .withColumn("__h", Urls.hostOf(col("url")))
        .withColumn("__t", graft.queries.Crawl.urlTemplate(col("url")))
        .join(broadcast(tr.select(col("host").as("__h"),
          col("template").as("__t"))), Seq("__h", "__t"), "left_anti")
        .drop("__h", "__t")
      case None => gated
    }
    // OPIC ranking (r17): when the caller provides cash receipts
    // (Crawl.dsFrontierOpic's shape — (url, cash)), candidates rank
    // by received cash instead of raw in-link count, so a link farm's
    // thousand outlinks no longer outvote a focused page's three.
    // Candidates without receipts (seeds, recrawls) fall back to
    // their in-link evidence. The cash frame is frontier-sized, so
    // this is a plain url-keyed left join, not a broadcast. r18: the
    // receipts are aggregated per url FIRST (max cash) — nothing
    // enforces uniqueness on a caller's priority frame (unlike
    // dsFrontierOpic's grouped output), and a duplicate url would
    // otherwise duplicate candidate rows through the left join,
    // double-scheduling the URL and breaking the per-host
    // wave-density/cap invariant.
    val (pool, prio) = priority match {
      case Some(p) => (trapGated.join(
          p.groupBy("url").agg(max(col("cash")).as("cash")),
          Seq("url"), "left"),
        coalesce(col("cash"), col("n_refs")))
      case None => (trapGated, col("n_refs"))
    }
    // IP/server-level grouping (r20): with `ipGroups` (host →
    // ip_group), grouped hosts share one wave budget under the
    // strictest member cap (Urls.politeWavesCapped's grouped form) —
    // the capless path synthesizes a uniform cap frame so grouping
    // still binds.
    (hostCaps, ipGroups) match {
      case (Some(caps), g) => Urls.politeWavesCapped(pool, col("url"),
        prio, caps, perHostPerWave, ipGroups = g)
      case (None, Some(_)) => Urls.politeWavesCapped(pool, col("url"),
        prio, spark.emptyDataFrame
          .withColumn("host", lit(null).cast("string"))
          .withColumn("cap", lit(null).cast("long")),
        perHostPerWave, ipGroups = ipGroups)
      case (None, None) =>
        Urls.politeWaves(pool, col("url"), prio, perHostPerWave)
    }
  }
}
