package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Charset, Curation, Html, Urls, Warc}

import DataOps._

/** The crawl family, split out of [[DataOps]] (r20 — a mechanical
  * move, zero semantic change, every hash unchanged): the front door
  * (canonicalize → blocklist → keep-first → extract → verdict, batch
  * and byte-fed), link discovery + frontier + OPIC, robots/sitemap
  * parsing, traps, redirects + rel=canonical aliasing, recrawl
  * ladder + validators, meta-robots gates, and the politeness
  * schedules — with their DuckDB oracle SQL. Shared corpus handles
  * and SQL fixture expressions (url/page synthesis, canon cascade,
  * extraction replay) stay in [[DataOps]] (`private[queries]`), since
  * the URL/dedup/text families replay them too. */
object Crawl {

  /** Thin-content cut for the crawl composite. */
  val crawlMinTokens = 20

  /** Domain-gate keep-rate bar (percent) for the gate-first curation
    * composite — corpus-calibrated so both gate branches are live at
    * the oracle scale. */
  val domainKeepPct = 90

  /** The crawl front door COMPOSED (C4's opening stages in one plan):
    * URL canonicalize → domain blocklist → exact-URL keep-first —
    * with the page PAYLOAD riding the min-struct through the one
    * shuffle, so there is no corpus join-back — → HTML main-text
    * extraction over the winners (shuffle-free kernel) → thin-content
    * verdict. Everything downstream of the single keep-first exchange
    * is a projection. */
  def dsCrawl(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Html, Urls}
    // gate placement per Urls.dedupByUrl's r16 note: conservative
    // raw-host gate before the exchange, exact canonical gate after
    // the aggregate (one row per distinct URL, not per fetch)
    val winners = docs(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        Urls.syntheticUrl(col("doc_id"), col("source")).as("url"))
      .filter(!Urls.hostBlocked(Urls.rawHostLower(col("url")),
        blockedDomains))
      .select(col("doc_id"), col("source"), col("text"),
        Urls.canonicalize(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(struct(col("doc_id"), col("source"), col("text"))).as("w"),
        count(lit(1)).as("n_fetches"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("canon_url")),
        blockedDomains))
      .select(col("canon_url"), col("n_fetches"),
        col("w.doc_id").as("doc_id"), col("w.source").as("source"),
        col("w.text").as("text"))
    val pages = winners.select(col("doc_id"), col("canon_url"), col("n_fetches"),
      Html.syntheticPage(col("text"), col("source")).as("html"))
    val ext = Html.extractMainText(pages, col("html"), col("doc_id"),
      carry = Seq(col("canon_url"), col("n_fetches")),
      dropNullHtml = false) // synth over corpus columns: non-null by construction
    val nTok = when(col("main_text") === "", 0L)
      .otherwise(size(split(col("main_text"), "[ \\n]")).cast("long"))
    ext.select(col("doc_id"), col("canon_url"), col("n_fetches"),
      col("kept_blocks"), nTok.as("n_tokens"),
      when(nTok >= crawlMinTokens, "kept").otherwise(lit("thin")).as("verdict"))
  }

  /** Charset decode at the fetch boundary (r20): the byte→text
    * decision over the deterministic mixed-encoding fixture
    * ([[graft.operators.Charset.documentsAsFetches]] — UTF-8 plain,
    * UTF-16LE+BOM, declared Latin-1, declared cp1252, UNdeclared
    * Latin-1 for the content-sniff path). The output carries the
    * decoded TEXT itself, so a mis-decision anywhere in the cascade
    * (wrong BOM strip, missed declaration, wrong fallback) flips the
    * hash — the planted `café`/curly-quote markers decode differently
    * under every wrong charset. */
  def txCharset(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Charset
    Charset.decode(Charset.documentsAsFetches(docs(s, d))).toDF()
      .select(col("doc_id"), col("charset"), col("had_bom"),
        col("was_transcoded"),
        length(col("text")).cast("long").as("n_chars"), col("text"))
  }

  /** WARC record inventory (r20): the documents grouped into
    * multi-record WARC files ([[graft.operators.Warc
    * .documentsAsWarc]] — warcinfo + request/response pairs, the
    * CommonCrawl layout in miniature) and walked BACK by the byte
    * parser; the oracle replays the layout arithmetic (record order,
    * ids, target URIs, Content-Lengths). Response bodies here are the
    * raw document text — the full html chain is [[dsCrawlFromWarc]]. */
  def txWarcRecords(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Urls, Warc}
    val blobs = Warc.documentsAsWarc(docs(s, d),
      Urls.syntheticUrl(col("doc_id"), col("source")),
      col("text"), col("doc_id"))
    Warc.records(blobs).toDF()
      .select(col("warc_id"), col("rec_idx"), col("warc_type"),
        col("record_id"), col("target_uri"), col("content_length"))
  }

  /** The crawl front door fed from RAW WEB BYTES (r20): WARC records
    * → HTTP envelope split → charset decode → canonicalize →
    * keep-first → extraction → thin verdict. Its oracle is
    * [[dsCrawl]]'s SQL text VERBATIM (the ds_crawl_delay_wide
    * pattern), so the equivalence "the byte chain computes exactly
    * what the fixture-frame front door computes" is hash-gated every
    * round. Scale shape: the WARC walk and HTTP/charset splits are
    * batched partition-local byte work; the chain then pays exactly
    * dsCrawl's one keep-first exchange. */
  def dsCrawlFromWarc(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Charset, Html, Urls, Warc}
    val blobs = Warc.documentsAsWarc(docs(s, d),
      Urls.syntheticUrl(col("doc_id"), col("source")),
      Html.syntheticPage(col("text"), col("source")),
      col("doc_id"))
    // status gate: only 200 bodies carry content worth decoding —
    // 4xx/5xx payloads are error pages a real crawler must never
    // admit (a 304 carries no body at all and belongs to the
    // validator path, IngestCrawl's not_modified). The fixture is
    // all-200, so the gate is provably a no-op against the oracle;
    // WarcSpec plants the non-200 records this line exists for.
    val resp = Warc.httpResponses(Warc.records(blobs))
      .filter(col("http_status") === 200)
    val pages = Charset.decodedTagged(resp, col("body"),
        element_at(split(col("record_id"), ":"), -1).cast("long"),
        col("url"))
      .select(col("doc_id"), col("text").as("html"), col("tag").as("url"))
    val winners = pages
      .filter(!Urls.hostBlocked(Urls.rawHostLower(col("url")),
        blockedDomains))
      .select(col("doc_id"), col("html"),
        Urls.canonicalize(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(struct(col("doc_id"), col("html"))).as("w"),
        count(lit(1)).as("n_fetches"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("canon_url")),
        blockedDomains))
      .select(col("canon_url"), col("n_fetches"),
        col("w.doc_id").as("doc_id"), col("w.html").as("html"))
    val ext = Html.extractMainText(winners, col("html"), col("doc_id"),
      carry = Seq(col("canon_url"), col("n_fetches")),
      dropNullHtml = false)
    val nTok = when(col("main_text") === "", 0L)
      .otherwise(size(split(col("main_text"), "[ \\n]")).cast("long"))
    ext.select(col("doc_id"), col("canon_url"), col("n_fetches"),
      col("kept_blocks"), nTok.as("n_tokens"),
      when(nTok >= crawlMinTokens, "kept").otherwise(lit("thin")).as("verdict"))
  }

  /** Domain-level quality gate — the C4/RefinedWeb "domain filtering"
    * step: per-host stats of the crawl front door's verdicts (pages,
    * kept, fetches, token volume) and the keep-rate gate as an
    * INTEGER comparison (2·kept ≥ pages ⇔ rate ≥ 50%), so the verdict
    * has no float boundary to flip between engines. A pretraining
    * pipeline drops `!quality_ok` hosts wholesale — spam and template
    * farms fail at the DOMAIN level long before per-doc filters see
    * them. Scale shape: rides [[dsCrawl]]'s one exchange, then one
    * host-keyed aggregate over winners (bounded by distinct URLs). */
  def dsHostQuality(s: SparkSession, d: String): DataFrame =
    dsCrawl(s, d)
      .select(graft.operators.Urls.hostOf(col("canon_url")).as("host"),
        col("n_fetches"), col("n_tokens"),
        when(col("verdict") === "kept", 1L).otherwise(0L).as("k"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_pages"), sum(col("k")).as("n_kept"),
        sum(col("n_fetches")).as("n_fetches"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("quality_ok", col("n_kept") * 2 >= col("n_pages"))

  /** The C4/RefinedWeb curation order COMPOSED — domain gate BEFORE
    * per-doc filters: crawl front door → per-host keep-rate gate
    * (dsHostQuality's integer verdict, computed here as ONE host-keyed
    * window over the winners so the front door runs once per branch
    * instead of twice via a dsCrawl+dsHostQuality join) → repetition /
    * LM / dedup audit over the survivors only. Gate-first is
    * semantics, not just cost: a spam-domain page never competes in
    * dedup, so it cannot suppress the clean copy of its text on a
    * quality domain as 'duplicate'. Per-doc drop accounting makes
    * `domain` a first-class verdict stage:
    * domain | thin | repetition | lm | duplicate | kept.
    *
    * The gate bar is [[domainKeepPct]]% as an integer comparison
    * (n_kept·100 ≥ n_pages·pct — no float boundary to flip between
    * engines), calibrated to this corpus like curateMaxNll: 90 splits
    * the synthetic hosts (the thin-rate varies per source), where
    * dsHostQuality's 50% audit bar passes everyone. */
  def dsCurateDomain(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    import org.apache.spark.sql.expressions.Window
    val hw = Window.partitionBy("host")
    // Staged ONCE (r21): `g` feeds the survivors' semi-join AND the
    // final audit join — unstaged, the whole dsCrawl front door
    // (canonicalize → keep-first exchange → HTML extraction) ran
    // TWICE per query. One row per winner, bounded by distinct URLs.
    val g = org.apache.spark.sql.GraftBridge.stageLocal(dsCrawl(s, d)
      .withColumn("host", Urls.hostOf(col("canon_url")))
      .withColumn("domain_ok",
        sum(when(col("verdict") === "kept", 1L).otherwise(0L)).over(hw) * 100 >=
          count(lit(1)).over(hw) * domainKeepPct)
      .select(col("doc_id"), col("host"),
        col("verdict").as("page_verdict"), col("domain_ok")))
    val survivors = docs(s, d)
      .join(g.filter(col("domain_ok") && col("page_verdict") === "kept")
        .select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    val cur = Curation.audit(survivors, col("text"), col("doc_id"), lmRef(s, d),
        3, jaccardThreshold, curateMaxTop2, curateMaxDup5, curateMaxNll)
      .withColumnRenamed("verdict", "cur_verdict")
    g.join(cur, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"),
        when(!col("domain_ok"), "domain")
          .when(col("page_verdict") === "thin", "thin")
          .otherwise(col("cur_verdict")).as("verdict"))
  }

  /** Link extraction + resolution: every anchor href of every
    * synthesized page, resolved absolute against the page's own
    * canonical URL — the discovery half of the crawl loop
    * (Html.linkHrefs + Urls.resolveHref, both closed-form). */
  def txExtractLinks(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Html, Urls}
    val pages = docs(s, d).select(col("doc_id"),
      Urls.canonicalize(
        Urls.syntheticUrl(col("doc_id"), col("source"))).as("base"),
      Html.syntheticPage(col("text"), col("source")).as("html"))
    pages
      .select(col("doc_id"), col("base"),
        posexplode(Html.linkHrefs(col("html"))).as(Seq("pos", "href")))
      .select(col("doc_id"), col("pos"), col("href"),
        Urls.resolveHref(col("base"), col("href")).as("abs_url"))
  }

  /** The crawl frontier: outbound links of the fetched winners,
    * resolved, canonicalized, blocklisted and anti-joined against
    * everything already crawled — the next wave's candidates with
    * their in-link evidence. Frontier growth is link-volume keyed on
    * the canonical URL: one explode (bounded by links-per-page), one
    * keep-first-style aggregate, one anti-join against the crawled
    * set — no corpus join-back, same scale posture as ds_crawl.
    * Fragment-only/empty hrefs are gated on the CHEAP raw-href
    * predicate before resolution, so the resolve+canon chain never
    * clones into a pushed-down null filter (the measured
    * filter-pushdown trap — see Html.extractMainText's scaladoc). */
  /** The discovery frames both frontier queries share: resolved,
    * canonicalized, raw-host-gated outbound links of the fetched
    * winners (`links(referrer, url)`) and the crawled set
    * (`crawled(url)`). The crawled set IS the distinct referrers —
    * derived from the same projection (column pruning drops the html
    * synthesis on this branch), not a second canonicalize pass over
    * the manifest; r16: deliberately UNFILTERED — a blocked referrer
    * URL in the probe side only anti-joins away candidates the
    * post-agg host gate would drop anyway, and dropping the filter
    * removes one cascade reference from the probe branch. */
  private def crawlLinkFrames(s: SparkSession,
                              d: String): (DataFrame, DataFrame) = {
    import graft.operators.{Html, Urls}
    val pages = docs(s, d).select(col("doc_id"),
      Urls.canonicalize(
        Urls.syntheticUrl(col("doc_id"), col("source"))).as("referrer"),
      Html.syntheticPage(col("text"), col("source")).as("html"))
    val crawled = pages.select(col("referrer").as("url")).distinct()
    val links = pages
      .select(col("referrer"), explode(Html.linkHrefs(col("html"))).as("href"))
      .filter(Urls.hrefIsCandidate(col("href")))
      .select(col("referrer"),
        Urls.resolveHref(col("referrer"), col("href")).as("raw_url"))
      // conservative raw-host gate on the RESOLVED (pre-canon) form:
      // bulk blocked link volume never reaches the cascade, the join,
      // or the exchange (Urls.rawHostLower's safety argument)
      .filter(!Urls.hostBlocked(Urls.rawHostLower(col("raw_url")),
        blockedDomains))
      .select(col("referrer"), Urls.canonicalize(col("raw_url")).as("url"))
    (links, crawled)
  }

  def dsCrawlFrontier(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val (links, crawled) = crawlLinkFrames(s, d)
    links
      // NOT re-projected through a barrier: an A/B with a
      // repartition(url) exchange placed here (suspecting the
      // CaseWhen-topped resolveHref forced the host/filter/join
      // aliases to re-evaluate the chain) measured NO win — 6.5 s
      // plain vs 7.2 s with the barrier at sf0.1. The cost is one
      // honest resolve+canon evaluation per link (~120 µs of regex
      // work), not duplication; measure before "fixing" CSE.
      .join(crawled, Seq("url"), "left_anti")
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("referrer")).as("n_referrers"),
        min(col("referrer")).as("first_referrer"))
      // EXACT canonical gate, post-aggregate: one row per distinct
      // candidate (host is a function of url — commutes with the agg)
      .filter(!Urls.hostBlocked(Urls.hostOf(col("url")), blockedDomains))
  }

  /** Politeness scheduling over the frontier: fetch waves capped at
    * `crawlPerHostPerWave` URLs per host per wave (Urls.politeWaves —
    * one host-keyed window; queue depth per host is the scale axis,
    * never the frontier width), priority = in-link count. */
  val crawlPerHostPerWave = 2

  def dsCrawlSchedule(s: SparkSession, d: String): DataFrame =
    graft.operators.Urls.politeWaves(
      dsCrawlFrontier(s, d), col("url"), col("n_refs"), crawlPerHostPerWave)

  /** OPIC seed cash per crawled page (Abiteboul et al., WWW 2003 —
    * "Adaptive On-Line Page Importance Computation"): integer so the
    * floor-divided shares are exactly replayable in any engine. */
  val opicCash = 1000L

  /** OPIC-style frontier prioritization — raw in-link counts
    * (`n_refs`, dsCrawlFrontier's priority) overweight link farms: a
    * page with 1000 outlinks hands each target the same +1 evidence a
    * focused 3-link page does. OPIC's one-round fix: every crawled
    * page distributes its cash equally over its outlinks —
    * `floor(opicCash / outdeg)` each, INTEGER division so both
    * engines floor identically — and a candidate's priority is the
    * cash it receives. Outdegree counts ALL the page's surviving
    * resolved links (including links to already-crawled pages: their
    * share is absorbed by the crawled side's ledger in a real OPIC
    * loop, never redistributed); only uncrawled candidates are
    * emitted. In the full algorithm rounds iterate with the crawl
    * itself — each cycle rides exactly these two link-volume
    * exchanges (outdeg keyed on referrer, receipts keyed on target),
    * so one measured round IS the per-cycle cost at scale. The
    * canonical host gate runs BEFORE the window so both engines count
    * outdegree over the same schedulable link set (the page-link side
    * is additionally raw-gated upstream — a strict subset of the
    * canonical gate by the rawHostLower safety law, so the gated
    * frames coincide).
    *
    * The synthetic page fixture gives every page the same nav shape,
    * so page links alone would hand every candidate identical cash;
    * [[hubLinks]] plants per-host catalog pages of VARYING outdegree
    * (the crawlSeeds pattern) so the row demonstrates what OPIC is
    * FOR: a hub target's share shrinks as its referrer's outdegree
    * grows, page-discovered targets combine page + hub receipts, and
    * blocked-host hubs are dropped by the same gate as page links. */
  def dsFrontierOpic(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    import org.apache.spark.sql.expressions.Window
    val (links, crawled) = crawlLinkFrames(s, d)
    links.unionByName(hubLinks(s, d))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("url")), blockedDomains))
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy("referrer")))
      .withColumn("cash", expr(s"${opicCash}L div outdeg"))
      .join(crawled, Seq("url"), "left_anti")
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"), sum(col("cash")).as("cash"))
  }

  /** Trap fan-out bar — corpus-calibrated like domainKeepPct (the
    * fixture's benign templates fan out 5 per host; the planted
    * calendar traps 20): production crawls set this per their
    * frontier volume. */
  val trapMinUrls = 15L

  /** Trap WHITELIST bar (r18): a high-fan-out template whose average
    * in-link evidence is at least this many refs per URL is popular
    * CONTENT (a heavily-linked paginated archive), not a trap —
    * calendar/session spaces explode with candidates nothing links
    * to, so their evidence-per-URL stays ~1. Integer comparison
    * (`sum_refs ≥ n_urls · bar`), engine-exact. */
  val trapWhitelistRefs = 2L

  /** Crawl-trap detection over the frontier — the classic crawler
    * failure mode: infinite URL spaces (calendar pages, session ids,
    * faceted search) that explode the frontier with near-identical
    * candidates nothing else links to. The detector is URL TEMPLATE
    * fan-out: collapse digit runs in the candidate's path+query to
    * `N` and count distinct candidates per (host, template) — a
    * template whose cardinality exceeds [[trapMinUrls]] is flagged,
    * and a scheduler drops or down-prioritizes its candidates before
    * fetching (the gate consumer; this row is the audit surface).
    * `sum_refs` keeps the evidence mass so a genuinely popular
    * template (many in-links) can be whitelisted downstream.
    *
    * The corpus fixture's templates fan out uniformly (5 per host),
    * so PLANTED calendar candidates (`/cal?d=0..k`, k varying by the
    * source-length residue — the crawlSeeds pattern) keep both
    * verdict branches live. Scale shape: one keyed aggregate over
    * frontier candidates, output bounded by hosts × templates. */
  def dsCrawlTraps(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    dsCrawlFrontier(s, d).select(col("url"), col("n_refs"))
      .unionByName(plantedCalCandidates(s, d))
      .unionByName(plantedArchiveCandidates(s, d))
      .select(Urls.hostOf(col("url")).as("host"),
        urlTemplate(col("url")).as("template"),
        col("n_refs"))
      .groupBy("host", "template")
      .agg(count(lit(1)).as("n_urls"), sum(col("n_refs")).as("sum_refs"))
      .withColumn("trap", col("n_urls") >= trapMinUrls)
      // r18: the whitelist term the r17 row promised but no consumer
      // used — high fan-out AND high evidence-per-URL is an archive,
      // not a trap; the gates drop only (trap AND NOT whitelisted)
      .withColumn("whitelisted",
        col("trap") && col("sum_refs") >= col("n_urls") * trapWhitelistRefs)
  }

  /** The trap gate composed (audit → gate, batch path): frontier +
    * planted calendar candidates MINUS every candidate whose (host,
    * template) the [[dsCrawlTraps]] audit flags — what the scheduler
    * actually fetches from. ONE anti-join against the traps frame
    * (bounded by hosts × templates, broadcast); the template
    * projection is the same regex both engines run, so the gate
    * commutes with nothing and drops exactly the flagged fan-out.
    * Streaming twin: `IngestCrawl.nextWave(traps = ...)`.
    *
    * Plan shape: the candidate frame is consumed TWICE (the fan-out
    * aggregate and the gate's left side), so it is STAGED once —
    * candidates-bounded, the dsCrawlPolite lesson — instead of
    * re-deriving the whole frontier chain per consumer (measured at
    * the rehearsal scale: the self-joined form re-ran the frontier
    * derivation twice). */
  def dsFrontierGated(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val cand = org.apache.spark.sql.GraftBridge.stageLocal(
      dsCrawlFrontier(s, d).select(col("url"), col("n_refs"))
        .unionByName(plantedCalCandidates(s, d))
        .unionByName(plantedArchiveCandidates(s, d))
        .withColumn("host", Urls.hostOf(col("url")))
        .withColumn("template", urlTemplate(col("url"))))
    // r18: the whitelist term live — a flagged template with average
    // evidence >= trapWhitelistRefs per URL survives (the planted
    // heavily-linked /archive?page=N pagination must pass the gate)
    val traps = cand.groupBy("host", "template")
      .agg(count(lit(1)).as("n_urls"), sum(col("n_refs")).as("sum_refs"))
      .filter(col("n_urls") >= trapMinUrls &&
        col("sum_refs") < col("n_urls") * trapWhitelistRefs)
      .select("host", "template")
    cand
      .join(broadcast(traps), Seq("host", "template"), "left_anti")
      .select(col("url"), col("n_refs"), col("host"))
  }

  /** Digit runs in the path+query collapsed to `N` — the trap
    * template projection (host kept verbatim). */
  def urlTemplate(url: Column): Column =
    regexp_replace(
      regexp_replace(url, "^[a-z][a-z0-9+.-]*://[^/?#]+", ""),
      "[0-9]+", "N")

  /** The planted calendar-trap candidates (shared by the audit and
    * the gate rows): `/cal?d=0..k`, k by source-length residue. */
  private def plantedCalCandidates(s: SparkSession, d: String): DataFrame =
    crawlHosts(s, d)
      .select(col("host"),
        (pmod(length(col("source")), lit(4)) * 20).cast("int").as("tn"))
      .select(col("host"),
        explode(when(col("tn") > 0, sequence(lit(0), col("tn") - 1))
          .otherwise(array())).as("k"))
      .select(concat(lit("https://"), col("host"), lit("/cal?d="),
        col("k")).as("url"), lit(1L).as("n_refs"))

  /** Planted heavily-LINKED paginated archives (r18, the whitelist
    * bait): `/archive?page=0..k` at evidence 3 per URL — fan-out
    * varies by the source-length residue (0 / 10 / 20 pages), so
    * hosts carry an over-the-fan-out-bar template that the evidence
    * bar must SPARE (residue 2), an under-the-bar one that was never
    * flagged anyway (residue 1), and none (residue 0). The
    * calendar plants stay at evidence 1 — trapped as before. */
  private def plantedArchiveCandidates(s: SparkSession,
                                       d: String): DataFrame =
    crawlHosts(s, d)
      .select(col("host"),
        (pmod(length(col("source")), lit(3)) * 10).cast("int").as("an"))
      .select(col("host"),
        explode(when(col("an") > 0, sequence(lit(0), col("an") - 1))
          .otherwise(array())).as("k"))
      .select(concat(lit("https://"), col("host"), lit("/archive?page="),
        col("k")).as("url"), lit(trapWhitelistRefs + 1).as("n_refs"))

  /** Planted per-host hub pages for the OPIC row — already-canonical
    * by construction (lowercase https, no port/params/fragments, no
    * trailing slash): every host's hub links the root, `/about` and
    * `/legal`, plus 0–3 `/junk/i` targets (the source-length residue),
    * so hub outdegree varies 3–6 per host and the floor-divided share
    * a target receives varies with it. Bounded by hosts — the hub
    * frame never scales with the corpus. */
  private def hubLinks(s: SparkSession, d: String): DataFrame =
    crawlHosts(s, d)
      .select(col("host"),
        explode(concat(
          array(lit(""), lit("/about"), lit("/legal")),
          slice(array(lit("/junk/0"), lit("/junk/1"), lit("/junk/2")),
            lit(1), pmod(length(col("source")), lit(4)).cast("int"))))
          .as("path"))
      .select(
        concat(lit("https://"), col("host"), lit("/hub")).as("referrer"),
        concat(lit("https://"), col("host"), col("path")).as("url"))

  /** Deterministic recrawl scheduling (the freshness half of a crawl
    * loop; Cho & Garcia-Molina's change-rate estimation collapsed to
    * an integer ladder both engines replay): per canonical URL, the
    * fetch ledger's change evidence — `n_fetches` observations,
    * `n_variants` distinct payloads (each engine counts distinct
    * md5s of its OWN payload bytes, so only the COUNT crosses
    * engines) — picks a recrawl interval in waves:
    * 3+ variants → every wave (hot), 2 → every 4 (changing),
    * 1 variant across 2+ fetches → every 64 (confirmed static),
    * single observation → every 8 (unknown: explore). `due_wave`
    * staggers first-due by `keeper_id mod interval` — a real
    * scheduler load-levels recrawls instead of synchronizing every
    * static URL onto the same wave. Scale shape: ONE keep-first-style
    * exchange (count/count-distinct/min ride the same map-side
    * partials as dd_url_dedup), bounded by distinct URLs.
    *
    * The corpus fixture's URL twins are always 2 fetches / 2 distinct
    * payloads, so the hot (3+ variants) and confirmed-static
    * (re-fetch, same bytes) rungs would be dead on corpus data alone;
    * two PLANTED ledgers (the crawlSeeds pattern — constants both
    * engines replay) keep all four rungs live: `/static` fetched
    * twice with identical payload → interval 64, `/hot` with three
    * distinct payloads → interval 1. */
  def dsRecrawl(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    import s.implicits._
    val planted = Seq(
      (10000001L, "planted static payload", "https://plant.example.com/static"),
      (10000002L, "planted static payload", "https://plant.example.com/static"),
      (10000003L, "planted hot v1", "https://plant.example.com/hot"),
      (10000004L, "planted hot v2", "https://plant.example.com/hot"),
      (10000005L, "planted hot v3", "https://plant.example.com/hot"))
      .toDF("doc_id", "text", "url")
    val fetches = docs(s, d)
      .select(col("doc_id"), col("text"),
        Urls.syntheticUrl(col("doc_id"), col("source")).as("url"))
      .unionByName(planted)
      .filter(!Urls.hostBlocked(Urls.rawHostLower(col("url")),
        blockedDomains))
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        Urls.canonicalize(col("url")).as("canon_url"))
    fetches.groupBy("canon_url")
      .agg(count(lit(1)).as("n_fetches"),
        countDistinct(col("h")).as("n_variants"),
        min(col("doc_id")).as("keeper_id"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("canon_url")),
        blockedDomains))
      .withColumn("interval_waves",
        when(col("n_variants") >= 3, 1L)
          .when(col("n_variants") === 2, 4L)
          .when(col("n_fetches") >= 2, 64L)
          .otherwise(8L))
      .withColumn("due_wave",
        lit(1L) + pmod(col("keeper_id"), col("interval_waves")))
  }

  /** [[dsRecrawl]] with the sitemap `<lastmod>` signal CONSUMED — the
    * r17 gap closed: [[graft.operators.Urls.sitemapMeta]] extracted
    * the protocol's recrawl signal but nothing scheduled on it, so a
    * static-rung URL (every-64-waves) stayed stale even when its site
    * explicitly announced a change. The protocol signal OVERRIDES the
    * estimator: a URL whose lastmod postdates its last fetch is due
    * at the NEXT wave (`due_wave_eff` = 1) regardless of its ladder
    * rung; an absent or stale lastmod falls back to the observed
    * change-rate ladder unchanged.
    *
    * Signal sources, both live: the hosts' alternating sitemap bodies
    * through the real [[graft.operators.Urls.sitemapMeta]] parse
    * (protocol surface — its root-URL lastmods never match ledger
    * URLs, by fixture construction), plus PLANTED per-host article
    * lastmods (each host's min-doc canonical URL announced changed on
    * 2024-02-01 — the crawlSeeds pattern: ledger URLs and sitemap
    * locs are disjoint namespaces in the synthetic fixture, so the
    * overlap is planted). `last_fetch` is the deterministic per-host
    * fetch date (host-length parity picks Jan 15 / Feb 14), keeping
    * the override (fresh lastmod) AND fallback (stale lastmod, no
    * lastmod) branches live on both engines.
    *
    * Scale shape: the lastmod frame is bounded by sitemap entries
    * (hosts × locs) — broadcast against the ladder, never a corpus
    * exchange. */
  def dsRecrawlLastmod(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val meta = txSitemapMeta(s, d)
      .filter(col("kind") === "urlset" && col("lastmod").isNotNull)
      .select(Urls.canonicalize(col("loc_url")).as("canon_url"),
        col("lastmod").cast("date").as("lastmod"))
    val planted = docs(s, d).groupBy(col("source"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(Urls.canonicalize(
          Urls.syntheticUrl(col("doc_id"), col("source"))).as("canon_url"),
        lit("2024-02-01").cast("date").as("lastmod"))
    val lm = meta.unionByName(planted)
      .groupBy("canon_url").agg(max(col("lastmod")).as("lastmod"))
    dsRecrawl(s, d)
      .join(broadcast(lm), Seq("canon_url"), "left")
      .withColumn("last_fetch",
        when(length(Urls.hostOf(col("canon_url"))) % 2 === 0,
          lit("2024-01-15")).otherwise(lit("2024-02-14")).cast("date"))
      .withColumn("due_now",
        col("lastmod").isNotNull && col("lastmod") > col("last_fetch"))
      .withColumn("due_wave_eff",
        when(col("due_now"), lit(1L)).otherwise(col("due_wave")))
  }

  /** The validator demotion over the recrawl ladder (r19 — the batch
    * twin of `IngestCrawl.recrawlDue`'s not-modified semantics): a
    * conditional fetch that returns 304 / matches an ETag confirms
    * the payload unchanged WITHOUT paying transfer or extraction, and
    * a real scheduler lives on these validators — each consecutive
    * unchanged observation DOUBLES the recrawl interval (Cho &
    * Garcia-Molina's decay as integers: `interval_eff = min(64,
    * rung · 2^min(n_unmod, 6))`, exactly the streaming ladder's
    * [[graft.streaming.IngestCrawl.recrawlDue]] demotion — 2^k for
    * k ≤ 6 is exact in both engines' pow).
    *
    * Evidence sources, both live: the corpus ladder ([[dsRecrawl]] —
    * batch fixtures carry no fetch ORDER, so their streak is 0 and
    * `interval_eff = interval_waves`, the no-demotion identity), plus
    * PLANTED per-host validator streaks (the crawlSeeds pattern):
    * `/validated/k` for k = 0..3 on the changing rung (4 → 4, 8, 16,
    * 32) and `/validated/cap` with a streak of 7 — both caps bite
    * (streak capped at 6, rung capped at 64: 4·64 → 64). One planted
    * hosts-bounded union over the ladder's single exchange. */
  /** The transient-failure retry ladder (r20) — the batch twin of
    * [[graft.streaming.IngestCrawl.retryDue]]'s scheduling arithmetic,
    * evaluated over planted failure evidence (n_fail = doc_id % 6 ∈
    * 1..5, last attempt b = doc_id % 9, judged at wave 16 with
    * maxAttempts 4): backoff = min(64, 2^min(n_fail−1, 6)) via the
    * SAME [[graft.streaming.IngestCrawl.backoffWaves]] column function
    * the stream schedules with — the oracle hash gates that shared
    * arithmetic every round. All ladder branches are live at the
    * oracle scale: due retries at every rung, not-yet-due young
    * failures, and n_fail=5 rows DROPPED past the attempt cap. */
  def dsRetryLadder(s: SparkSession, d: String): DataFrame = {
    val wave = 16L
    val maxAttempts = 4L
    docs(s, d).select(col("doc_id"),
        (col("doc_id") % 6).as("n_fail"), (col("doc_id") % 9).as("b"))
      .filter(col("n_fail") =!= 0)
      .withColumn("backoff_waves",
        graft.streaming.IngestCrawl.backoffWaves(col("n_fail")))
      .withColumn("dropped", col("n_fail") > maxAttempts)
      .withColumn("due", !col("dropped") &&
        lit(wave) - col("b") >= col("backoff_waves"))
  }

  def dsRecrawlValidators(s: SparkSession, d: String): DataFrame = {
    val base = dsRecrawl(s, d)
      .select(col("canon_url"), col("n_fetches"), col("n_variants"),
        col("interval_waves"), lit(0L).as("n_unmod"))
    val planted = crawlHosts(s, d)
      .select(col("host"), explode(sequence(lit(0), lit(3))).as("k"))
      .select(concat(lit("https://"), col("host"), lit("/validated/"),
          col("k")).as("canon_url"),
        (col("k") + 2).cast("long").as("n_fetches"),
        lit(2L).as("n_variants"), lit(4L).as("interval_waves"),
        col("k").cast("long").as("n_unmod"))
      .unionByName(crawlHosts(s, d)
        .select(concat(lit("https://"), col("host"),
            lit("/validated/cap")).as("canon_url"),
          lit(9L).as("n_fetches"), lit(2L).as("n_variants"),
          lit(4L).as("interval_waves"), lit(7L).as("n_unmod")))
    base.unionByName(planted)
      .withColumn("interval_eff",
        least(lit(64L), col("interval_waves") *
          pow(lit(2.0), least(col("n_unmod"), lit(6L))).cast("long")))
  }

  /** Redirect aliasing — the crawl loop's missing 301 notion (r18):
    * a fetch can land on a DIFFERENT final URL, and a loop keyed only
    * on the requested URL re-schedules redirect sources and admits
    * the same page under two keys. This row is the ALIAS LEDGER +
    * admit-once audit over planted redirect chains
    * ([[graft.operators.Urls.redirectHop]] — the deterministic
    * zero-egress stand-in for observed `Location:` records, the
    * robots/sitemap fixture pattern): per host, (a) the min-doc
    * article URL behind `/old/` — its final lands on ALREADY-CRAWLED
    * content, verdict `dup_fetched`; (b) `/old/fresh` and (c) the
    * 2-hop `/old/old/fresh` — both land on the same UNcrawled
    * `/fresh`, so exactly one (`min(requested_canon)` per final) is
    * `admitted` and the other is `dup_alias`. Dedup is keyed on the
    * FINAL canonical URL throughout; chains prove multi-hop folding.
    *
    * Scale shape: requests are hosts-bounded (3/host); the crawled
    * membership probe SEMI-joins the corpus against the broadcast
    * request set (output ≤ |requests|, the dsCrawlPoliteSeeded
    * posture) — the corpus is never shuffled for the redirects' sake.
    * Streaming twin: `IngestCrawl.crawledIngest` with a `final_url`
    * fetch column — admission keys on the final canon, the ledger
    * records alias rows, discovery and nextWave exclude alias
    * sources. */
  def dsCrawlRedirects(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    import org.apache.spark.sql.expressions.Window
    val crawled = crawlLinkFrames(s, d)._2
    val minDoc = docs(s, d).groupBy(col("source"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(Urls.canonicalize(
        Urls.syntheticUrl(col("doc_id"), col("source"))).as("target"))
    val hosts = crawlHosts(s, d)
    val reqs = minDoc.select(regexp_replace(col("target"),
        "^([a-z][a-z0-9+.-]*://[^/?#]+)/", "$1/old/").as("requested"))
      .unionByName(hosts.select(concat(lit("https://"), col("host"),
        lit("/old/fresh")).as("requested")))
      .unionByName(hosts.select(concat(lit("https://"), col("host"),
        lit("/old/old/fresh")).as("requested")))
      .select(Urls.canonicalize(col("requested")).as("requested_canon"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("requested_canon")),
        blockedDomains))
    val (fin, hops) = Urls.followRedirects(col("requested_canon"))
    val t = org.apache.spark.sql.GraftBridge.stageLocal(
      reqs.select(col("requested_canon"),
        Urls.canonicalize(fin).as("final_canon"), hops.as("n_hops")))
    val fetchedFinals = crawled
      .join(broadcast(t.select(col("final_canon").as("url"))),
        Seq("url"), "left_semi")
      .select(col("url").as("final_canon")).distinct()
    t.join(broadcast(fetchedFinals.withColumn("__f", lit(true))),
        Seq("final_canon"), "left")
      .withColumn("__minreq",
        min(col("requested_canon")).over(Window.partitionBy("final_canon")))
      .withColumn("verdict",
        when(coalesce(col("__f"), lit(false)), "dup_fetched")
          .when(col("requested_canon") === col("__minreq"), "admitted")
          .otherwise(lit("dup_alias")))
      .select(col("requested_canon"), col("final_canon"), col("n_hops"),
        col("verdict"))
  }

  /** The alias gate COMPOSED into the frontier (r18, the scheduling
    * half of [[dsCrawlRedirects]]'s content half): a discovered
    * candidate whose FINAL canonical URL — after following known
    * redirects — is already fetched is dropped before scheduling
    * (fetching it would only re-land on content the corpus already
    * holds), while a candidate redirecting to UNfetched content stays
    * schedulable (the fetch lands on the fresh final). The streaming
    * twin is the ledger's `alias` rows excluding redirect sources in
    * `IngestCrawl` discovery/nextWave; this row is the batch plan a
    * scheduler with a redirect map runs.
    *
    * Plan shape: the frontier's own anti-join already guarantees
    * direct (non-redirecting) candidates are uncrawled, so only the
    * REDIRECTING subset — bounded by the moved fraction of the
    * frontier, planted here — needs the crawled-membership probe: the
    * corpus semi-joins the broadcast redirecting finals (output ≤
    * that subset) and the subset anti-joins the tiny result — the
    * dsCrawlPoliteSeeded posture; the corpus is never shuffled for
    * the redirects' sake. The candidate pool is staged once AFTER the
    * follow-walk so both filter branches read materialized finals.
    * The finals probe rides a DISTINCT-FREE corpus canon scan (a
    * semi-join needs existence only — no exchange), so the extra
    * corpus term is one shuffle-free scan, not a staged
    * materialization: the first r18 cut staged the distinct crawled
    * set for the probe and measured 212.8 s at the 1000× decade vs
    * crawl_frontier's 119.1 s — the materialization, not the gate,
    * was the cost. */
  def dsFrontierRedirects(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val (links, crawled) = crawlLinkFrames(s, d)
    val frontier = links
      .join(crawled, Seq("url"), "left_anti")
      .groupBy("url").agg(count(lit(1)).as("n_refs"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("url")), blockedDomains))
    // planted alias-source candidates (the moved namespace a real
    // frontier discovers): per host, one aliasing FETCHED content
    // (must drop) and one aliasing fresh content (must stay)
    val minTarget = docs(s, d).groupBy(col("source"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(Urls.canonicalize(
        Urls.syntheticUrl(col("doc_id"), col("source"))).as("target"))
    val planted = minTarget.select(regexp_replace(col("target"),
        "^([a-z][a-z0-9+.-]*://[^/?#]+)/", "$1/old/").as("url"))
      .unionByName(crawlHosts(s, d).select(concat(lit("https://"),
        col("host"), lit("/old/fresh")).as("url")))
      .select(Urls.canonicalize(col("url")).as("url"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("url")), blockedDomains))
      .select(col("url"), lit(1L).as("n_refs"))
    val cand = frontier.unionByName(planted)
      .groupBy("url").agg(max(col("n_refs")).as("n_refs"))
    val (fin, _) = Urls.followRedirects(col("url"))
    val followed = org.apache.spark.sql.GraftBridge.stageLocal(
      cand.withColumn("final_canon", Urls.canonicalize(fin)))
    val redirecting = followed.filter(col("final_canon") =!= col("url"))
    val direct = followed.filter(col("final_canon") === col("url"))
    val corpusUrls = docs(s, d).select(Urls.canonicalize(
      Urls.syntheticUrl(col("doc_id"), col("source"))).as("url"))
    val fetchedFinals = corpusUrls
      .join(broadcast(redirecting.select(col("final_canon").as("url"))),
        Seq("url"), "left_semi")
      .select(col("url").as("final_canon")).distinct()
    direct.unionByName(
        redirecting.join(broadcast(fetchedFinals),
          Seq("final_canon"), "left_anti"))
      .select(col("url"), col("n_refs"), col("final_canon"))
  }

  /** Per-source min-doc article canonical URL — the "already crawled
    * content" target the redirect AND canonical fixtures both alias
    * onto (hosts-bounded: one row per source). */
  private def minDocTargets(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    docs(s, d).groupBy(col("source"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("source"), Urls.canonicalize(
        Urls.syntheticUrl(col("doc_id"), col("source"))).as("target"))
  }

  /** [[graft.operators.Html.syntheticPage]] with the in-document
    * `rel=canonical` signal planted (the redirect fixture's
    * in-document sibling — both engines build identical bytes, so
    * extraction, entity decode, reference resolution and the alias
    * verdicts are oracle-checkable). Residues of doc_id pick the
    * declaration shape real CMS templates emit:
    *
    *  - `doc_id % 10 = 3`: rel-BEFORE-href, absolute, UNcrawled
    *    per-host target (`/canon/hub?x=1&amp;y=2` — the `&amp;`
    *    exercises the attribute entity decode; many pages per host
    *    declare the SAME target, the admit-once structure);
    *  - `% 10 = 4`: href-BEFORE-rel, absolute, the host's min-doc
    *    article canonical (`target` — CRAWLED content, written
    *    `&`-escaped as a conforming template would: dup_fetched);
    *  - `% 10 = 5`: rel-first, RELATIVE href (`/articles/<id%150>`)
    *    — exercises [[graft.operators.Urls.resolveHref]] in the
    *    consumption chain;
    *  - anything else: no declaration (NULL extraction). */
  private[graft] def canonicalPage(docId: Column, text: Column,
                                   source: Column, target: Column): Column = {
    val host = concat(lower(source), lit(".example.com"))
    val r = pmod(docId, lit(10))
    val link = when(r === 3,
        concat(lit("<link rel=\"canonical\" href=\"https://"), host,
          lit("/canon/hub?x=1&amp;y=2\"/>")))
      .when(r === 4,
        concat(lit("<link href=\""),
          replace(target, lit("&"), lit("&amp;")),
          lit("\" rel=\"canonical\"/>")))
      .when(r === 5,
        concat(lit("<link rel=\"canonical\" href=\"/articles/"),
          pmod(docId, lit(150)).cast("string"), lit("\"/>")))
      .otherwise(lit(""))
    replace(graft.operators.Html.syntheticPage(text, source),
      lit("</head>"), concat(link, lit("</head>")))
  }

  /** `<link rel="canonical">` extraction over the planted fixture —
    * (doc_id, canonical_href): the raw DECODED attribute value
    * (relative hrefs as written; NULL when the page declares none).
    * A pure projection over the corpus — synthesis + one regex
    * extract per page, no shuffle beyond the hosts-bounded broadcast
    * of the per-source targets. */
  def txExtractCanonical(s: SparkSession, d: String): DataFrame =
    // TWO projections, deliberately: canonicalHref references `html`
    // twice (the two attribute orders), and inlined that doubles the
    // page-synth tree in one generated method — past the 64 KB
    // compile limit when composed (the measured ds_crawl_canonical
    // codegen failure). CollapseProject keeps the boundary because a
    // non-cheap alias referenced more than once never merges.
    docs(s, d).join(broadcast(minDocTargets(s, d)), Seq("source"))
      .select(col("doc_id"),
        canonicalPage(col("doc_id"), col("text"), col("source"),
          col("target")).as("html"))
      .select(col("doc_id"),
        graft.operators.Html.canonicalHref(col("html")).as("canonical_href"))

  /** In-document canonical aliasing composed — [[dsCrawlRedirects]]'
    * sibling with the `rel=canonical` signal instead of the 3xx
    * `Location:` record (r19, the r18 verdict's top content gap): a
    * fetched page DECLARING a canonical URL different from its own is
    * an alias source; the alias ledger keys on the declared FINAL
    * canonical — resolve (relative hrefs are legal) → canonicalize —
    * and the verdicts replay the redirect machinery verbatim: a final
    * already in the crawled corpus is `dup_fetched` (the declaring
    * page duplicates known content), an uncrawled final admits
    * exactly ONCE (`min(requested_canon)` per final — `admitted`) and
    * every other declarer of the same final is `dup_alias`. C4-style
    * corpora carry the signal on most CMS pages; without it the
    * corpus admits the same article under `?page=1` and its canonical
    * URL even when the site says they are one document.
    *
    * Scale shape: extraction is a per-page projection riding the
    * fetch pass (one regex over bytes already in hand); the alias
    * frame is bounded by DECLARING pages whose canonical differs
    * (the moved fraction — staged once, it is the alias ledger a real
    * loop persists to parquet rather than keeps in memory); the
    * crawled-membership probe SEMI-joins the corpus against the
    * broadcast declared finals (output ≤ |declared| — the
    * dsCrawlRedirects posture, the corpus is never shuffled). The
    * streaming twin is `IngestCrawl.crawledIngest`, which keys
    * admission on the declared canonical and lands the same alias
    * rows. */
  def dsCrawlCanonical(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Html, Urls}
    import org.apache.spark.sql.expressions.Window
    // codegen discipline: requested_canon and html land as COLUMNS of
    // one projection (CollapseProject keeps the boundary — both are
    // non-cheap and referenced more than once downstream), extraction
    // runs in a second small stage, and the (requested_canon, href)
    // frame is STAGED before the blocked/resolve chain — post-stage,
    // resolveHref's six base references and the host gate read a
    // materialized attribute instead of each inlining the synth +
    // canon tree (the 64 KB whole-stage compile failure the first cut
    // measured: 2 codegen fallbacks, 2.9 s for a 500-doc oracle run)
    val pages = docs(s, d).join(broadcast(minDocTargets(s, d)), Seq("source"))
      .select(
        Urls.canonicalize(
          Urls.syntheticUrl(col("doc_id"), col("source"))).as("requested_canon"),
        canonicalPage(col("doc_id"), col("text"), col("source"),
          col("target")).as("html"))
    val ext = org.apache.spark.sql.GraftBridge.stageLocal(pages
      .select(col("requested_canon"), Html.canonicalHref(col("html")).as("href")))
    val declared = ext
      .filter(col("href").isNotNull)
      .filter(!Urls.hostBlocked(Urls.hostOf(col("requested_canon")),
        blockedDomains))
      .select(col("requested_canon"),
        Urls.canonicalize(Urls.resolveHref(col("requested_canon"),
          col("href"))).as("final_canon"))
      .filter(col("final_canon").isNotNull &&
        col("final_canon") =!= col("requested_canon"))
      // the ledger is KEYED: the corpus's URL twins (doc d and d+300
      // share a canonical URL) declare identical pairs, and a
      // duplicated pair would mint two 'admitted' rows for one final
      .distinct()
    val t = org.apache.spark.sql.GraftBridge.stageLocal(declared)
    // posture notes (r19, vs the redirect sibling): the redirect
    // request set is hosts-bounded, so dsCrawlRedirects broadcasts it
    // and windows the admit-once fold — both WRONG here, where the
    // declared frame is a corpus FRACTION (most CMS pages declare):
    // no broadcast hints (AQE picks broadcast at oracle scale and a
    // shuffle join at the decades), and the admit-once fold is a
    // keyed min + join-back instead of a window — a popular shared
    // canonical (every page of a host declaring one hub) makes a
    // window partition host-sized, while the aggregate's map-side
    // partials collapse it per task.
    val corpusUrls = docs(s, d).select(Urls.canonicalize(
      Urls.syntheticUrl(col("doc_id"), col("source"))).as("url"))
    val fetchedFinals = corpusUrls
      .join(t.select(col("final_canon").as("url")), Seq("url"), "left_semi")
      .select(col("url").as("final_canon")).distinct()
    val minreq = t.groupBy("final_canon")
      .agg(min(col("requested_canon")).as("__minreq"))
    t.join(fetchedFinals.withColumn("__f", lit(true)),
        Seq("final_canon"), "left")
      .join(minreq, Seq("final_canon"))
      .withColumn("verdict",
        when(coalesce(col("__f"), lit(false)), "dup_fetched")
          .when(col("requested_canon") === col("__minreq"), "admitted")
          .otherwise(lit("dup_alias")))
      .select(col("requested_canon"), col("final_canon"), col("verdict"))
  }

  /** [[graft.operators.Html.syntheticPage]] with a `<meta
    * name="robots">` directive planted (r19 — the noindex fixture,
    * both engines build identical bytes): `doc_id % 10 = 6` declares
    * `noindex` name-first; `= 7` declares `noindex, nofollow`
    * content-first (the attribute-order + token-list case); `= 8`
    * declares `index, follow` (present but permissive — the flags
    * must read false); anything else declares nothing. */
  private def metaRobotsPage(docId: Column, text: Column,
                             source: Column): Column = {
    val r = pmod(docId, lit(10))
    val meta = when(r === 6, lit("<meta name=\"robots\" content=\"noindex\"/>"))
      .when(r === 7,
        lit("<meta content=\"noindex, nofollow\" name=\"robots\"/>"))
      .when(r === 8, lit("<meta name=\"robots\" content=\"index, follow\"/>"))
      .otherwise(lit(""))
    replace(graft.operators.Html.syntheticPage(text, source),
      lit("</head>"), concat(meta, lit("</head>")))
  }

  /** Meta-robots extraction surface — (doc_id, robots_content,
    * noindex, nofollow): the raw directive value (NULL when the page
    * declares none) and the two token flags. Pure projections with
    * CollapseProject boundaries (the directive is referenced by both
    * flags; the page tree by both extraction orders). */
  def txMetaRobots(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Html
    docs(s, d)
      .select(col("doc_id"),
        metaRobotsPage(col("doc_id"), col("text"), col("source")).as("html"))
      .select(col("doc_id"), Html.metaRobots(col("html")).as("robots_content"))
      .select(col("doc_id"), col("robots_content"),
        Html.robotsContentHas(col("robots_content"), "noindex").as("noindex"),
        Html.robotsContentHas(col("robots_content"), "nofollow").as("nofollow"))
  }

  /** The crawl front door with meta-robots honored at ADMISSION (r19
    * — the compliance sibling of the robots.txt gate: RFC 9309
    * governs fetching, `noindex` governs retention): the same
    * keep-first → extraction composite as [[dsCrawl]], with a page
    * declaring `noindex` excluded from survivors as its OWN verdict
    * (compliance outranks the thin-content cut), while its LINKS keep
    * feeding discovery — `followed_links` is the page's link
    * contribution, zeroed only by `nofollow` (the kernel's n_links
    * over counted blocks; the streaming twin gates the link explode
    * the same way). Cost over dsCrawl: two regex extracts per winner,
    * riding the same single exchange. */
  def dsCrawlNoindex(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Html, Urls}
    val winners = docs(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        Urls.syntheticUrl(col("doc_id"), col("source")).as("url"))
      .filter(!Urls.hostBlocked(Urls.rawHostLower(col("url")),
        blockedDomains))
      .select(col("doc_id"), col("source"), col("text"),
        Urls.canonicalize(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(struct(col("doc_id"), col("source"), col("text"))).as("w"),
        count(lit(1)).as("n_fetches"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("canon_url")),
        blockedDomains))
      .select(col("canon_url"), col("n_fetches"),
        col("w.doc_id").as("doc_id"), col("w.source").as("source"),
        col("w.text").as("text"))
    val pages = winners.select(col("doc_id"), col("canon_url"),
        col("n_fetches"),
        metaRobotsPage(col("doc_id"), col("text"), col("source")).as("html"))
      .withColumn("__mr", Html.metaRobots(col("html")))
      .withColumn("__noidx", Html.robotsContentHas(col("__mr"), "noindex"))
      .withColumn("__nofo", Html.robotsContentHas(col("__mr"), "nofollow"))
    val ext = Html.extractMainText(pages, col("html"), col("doc_id"),
      carry = Seq(col("canon_url"), col("n_fetches"), col("__noidx"),
        col("__nofo")),
      dropNullHtml = false)
    val nTok = when(col("main_text") === "", 0L)
      .otherwise(size(split(col("main_text"), "[ \\n]")).cast("long"))
    ext.select(col("doc_id"), col("canon_url"), col("n_fetches"),
      nTok.as("n_tokens"),
      when(col("__noidx"), "noindex")
        .when(nTok >= crawlMinTokens, "kept").otherwise(lit("thin"))
        .as("verdict"),
      when(col("__nofo"), 0L).otherwise(col("n_links")).as("followed_links"))
  }

  /** The corpus's (host, source) frame — robots bodies are bounded
    * by hosts, one KB-sized body each, never by the frontier. */
  private def crawlHosts(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(concat(lower(col("source")), lit(".example.com")).as("host"),
        col("source")).distinct()

  /** The per-host robots rule table (Disallow AND Allow, RFC 9309)
    * over the deterministic Urls.syntheticRobots bodies. */
  private def crawlRobotsRules(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val hosts = crawlHosts(s, d)
    Urls.robotsRules(hosts, col("host"), Urls.syntheticRobots(col("source")))
  }

  def txRobotsRules(s: SparkSession, d: String): DataFrame =
    crawlRobotsRules(s, d)

  /** RFC 9309 §2.3.1 fetch-status semantics for robots.txt itself
    * (r20): hosts planted with a status by suffix (n%4: 0/3 → 200,
    * 1 → 404, 2 → 503) — 200 hosts parse their bodies, 404 hosts
    * contribute NOTHING (unavailable = no restrictions), 503 hosts
    * collapse to the complete-disallow rule (unreachable). */
  def txRobotsStatus(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val hosts = crawlHosts(s, d)
      .withColumn("__n",
        regexp_extract(col("source"), "(\\d+)", 1).cast("long"))
      .withColumn("http_status",
        when(col("__n") % 4 === 1, 404)
          .when(col("__n") % 4 === 2, 503)
          .otherwise(200))
    Urls.robotsRulesWithStatus(hosts, col("host"),
      Urls.syntheticRobots(col("source")), col("http_status"))
  }

  /** RFC 9309 §2.2.1 group choice for [[crawlProductToken]]: m=1/m=2
    * hosts' specific groups REPLACE their `*` rules (m=2 additionally
    * proves longest-token-wins over the shorter `graftbot` group);
    * m∈{0,3} hosts fall back to `*` — and the top `bot` group, a
    * substring but not a prefix of the product token, never binds. */
  def txRobotsAgentRules(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val hosts = crawlHosts(s, d)
    Urls.robotsRules(hosts, col("host"), Urls.syntheticRobots(col("source")),
      agent = Some(crawlProductToken))
  }

  /** Crawl-delay under the same §2.2.1 group choice — the delay binds
    * to the CHOSEN group (7 on m∈{1,2} hosts, the `*` delays on the
    * fallback hosts). */
  def txRobotsAgentDelays(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val hosts = crawlHosts(s, d)
    Urls.robotsDelays(hosts, col("host"), Urls.syntheticRobots(col("source")),
      agent = Some(crawlProductToken))
  }

  /** Sitemap references per host over the same bodies (group-UNscoped
    * per RFC 9309 §2.3 — the frontier-seeding complement of link
    * discovery). */
  def txRobotsSitemaps(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val hosts = crawlHosts(s, d)
    Urls.robotsSitemaps(hosts, col("host"), Urls.syntheticRobots(col("source")))
  }

  /** `<loc>` extraction + XML-entity decode over the deterministic
    * per-host sitemap bodies (Urls.syntheticSitemap) — the content
    * half of sitemap seeding, in document order. */
  def txSitemapLocs(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    crawlHosts(s, d).select(col("host"),
      posexplode(Urls.sitemapLocs(Urls.syntheticSitemap(col("source"))))
        .as(Seq("pos", "loc_url")))
  }

  /** Sitemap-index routing: hosts alternate between a flat `<urlset>`
    * body and a `<sitemapindex>` body (the shape any site past the
    * protocol's 50k-URL cap serves). Kind is detected at the FILE
    * level (the protocol forbids mixing entry kinds) and every
    * `<loc>` inherits it — 'urlset' locs seed the page frontier,
    * 'index' locs are CHILD SITEMAPS to fetch as sitemaps
    * (IngestCrawl.sitemapSeeds routes the two; scheduling an index
    * child as a page was the silently mis-routed pre-r17 shape). */
  def txSitemapIndex(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val bodies = crawlHosts(s, d).select(col("host"),
      when(pmod(length(col("source")), lit(2)) === 0,
        Urls.syntheticSitemap(col("source")))
        .otherwise(Urls.syntheticSitemapIndex(col("source"))).as("xml"))
    Urls.sitemapEntries(bodies, col("host"), col("xml"))
  }

  /** Per-entry sitemap metadata over the same alternating bodies —
    * `<lastmod>` bound to ITS OWN entry's `<loc>` (block-scoped parse,
    * Urls.sitemapMeta): the protocol's recrawl signal. The fixture
    * keeps both branches live — first entries carry a lastmod, the
    * rest yield NULL. */
  def txSitemapMeta(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val bodies = crawlHosts(s, d).select(col("host"),
      when(pmod(length(col("source")), lit(2)) === 0,
        Urls.syntheticSitemap(col("source")))
        .otherwise(Urls.syntheticSitemapIndex(col("source"))).as("xml"))
    Urls.sitemapMeta(bodies, col("host"), col("xml"))
  }

  /** Batch sitemap seeding WITH index recursion — the batch twin of
    * IngestCrawl.sitemapSeeds' routing: level-0 bodies alternate
    * urlset/index per host (the tx_sitemap_index fixture); a
    * `<urlset>` body's locs become page seeds directly
    * (via='urlset'), a `<sitemapindex>` body's locs are CHILD
    * SITEMAPS — their (deterministic) bodies are fetched and THEIR
    * locs become the page seeds (via='index'). The contract the
    * routing proves: a child sitemap URL (an XML file) never appears
    * as a page seed, and index-serving hosts still contribute their
    * full page lists. Recursion is bounded by hosts × levels (the
    * protocol allows one index level over 50k-URL files); each level
    * is one hosts-bounded frame. */
  def txSitemapSeedsRecursive(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val hosts = crawlHosts(s, d)
    val flat = hosts.filter(pmod(length(col("source")), lit(2)) === 0)
      .select(col("host"), lit("urlset").as("via"),
        explode(Urls.sitemapLocs(
          Urls.syntheticSitemap(col("source")))).as("loc"))
    // index hosts: level-0 body lists child sitemaps; every child's
    // fetched body is the host's flat sitemap (deterministic fixture)
    val viaIndex = hosts.filter(pmod(length(col("source")), lit(2)) === 1)
      .select(col("host"), col("source"),
        explode(Urls.sitemapLocs(
          Urls.syntheticSitemapIndex(col("source")))).as("child"))
      .select(col("host"), lit("index").as("via"),
        explode(Urls.sitemapLocs(
          Urls.syntheticSitemap(col("source")))).as("loc"))
    flat.unionByName(viaIndex)
      .select(col("host"), col("via"),
        Urls.canonicalize(col("loc")).as("url"))
      .distinct()
  }

  /** Wildcard-agent Crawl-delay per host over the same bodies. */
  def txRobotsDelays(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val hosts = crawlHosts(s, d)
    Urls.robotsDelays(hosts, col("host"), Urls.syntheticRobots(col("source")))
  }

  /** The frontier under robots with RFC 9309 longest-match
    * precedence: the longest matching prefix decides, Allow winning
    * length ties — so the fixture's `Disallow: /a` + `allow:
    * /articles/` carve-out provably survives. The access half of
    * politeness over the discovery output. */
  def dsCrawlRobots(s: SparkSession, d: String): DataFrame =
    graft.operators.Urls.robotsFilter(
      dsCrawlFrontier(s, d), col("url"), crawlRobotsRules(s, d))

  /** Wave period backing the Crawl-delay → per-host-cap mapping: a
    * host demanding a d-second gap gets max(1, period/d) fetches per
    * wave. */
  val crawlWavePeriodSec = 4

  /** Crawl-delay-aware politeness scheduling: per-host wave caps from
    * the robots delay table ([[crawlWavePeriodSec]] over the delay,
    * [[crawlPerHostPerWave]] for hosts that publish none), applied by
    * Urls.politeWavesCapped — the same single host-keyed window as
    * ds_crawl_schedule, with a broadcast cap join in front. */
  def dsCrawlDelay(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val caps = txRobotsDelays(s, d).select(col("host"),
      greatest(lit(1L),
        floor(lit(crawlWavePeriodSec) / col("delay_s"))).as("cap"))
    Urls.politeWavesCapped(dsCrawlFrontier(s, d), col("url"), col("n_refs"),
      caps, crawlPerHostPerWave)
  }

  /** [[dsCrawlDelay]] through the r19 MEGA-HOST rank decomposition
    * ([[graft.operators.Urls.politeWavesCappedWide]] — range slices +
    * per-slice rank + broadcast prefix offsets): identical rows by
    * construction, and the oracle replays the SAME SQL text as
    * ds_crawl_delay, so the driver's hash gate checks the
    * equivalence claim on every round's corpus — the measured story
    * is BASELINE.md#polite_megahost@100x/@1000x (2.3× faster than
    * the single-window plan once one host's queue clears ~3 M). */
  def dsCrawlDelayWide(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val caps = txRobotsDelays(s, d).select(col("host"),
      greatest(lit(1L),
        floor(lit(crawlWavePeriodSec) / col("delay_s"))).as("cap"))
    Urls.politeWavesCappedWide(dsCrawlFrontier(s, d), col("url"),
      col("n_refs"), caps, crawlPerHostPerWave)
  }

  /** Deterministic (host → ip_group) fixture: even-numbered source
    * hosts share a server per suffix mod 4 (`src0/src4/… → ip-0`,
    * `src2/src6/… → ip-2`); odd hosts stay ungrouped — the partial-
    * frame posture a real reverse-DNS/IP table has. */
  def ipGroupsFixture(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("source")).distinct()
      .select(concat(col("source"), lit(".example.com")).as("host"),
        regexp_extract(col("source"), "(\\d+)", 1).cast("long").as("n"))
      .filter(col("n") % 2 === 0)
      .select(col("host"),
        concat(lit("ip-"), (col("n") % 4).cast("string")).as("ip_group"))

  /** [[dsCrawlDelay]] under IP/server-level grouping (r20): hosts
    * sharing a server share ONE wave budget keyed on the group, the
    * strictest member's delay cap governing — a thousand vanity
    * hostnames on one box can no longer multiply the per-host cap.
    * Ungrouped hosts schedule exactly as before (the oracle asserts
    * both facts on every row). */
  def dsCrawlDelayIp(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val caps = txRobotsDelays(s, d).select(col("host"),
      greatest(lit(1L),
        floor(lit(crawlWavePeriodSec) / col("delay_s"))).as("cap"))
    Urls.politeWavesCapped(dsCrawlFrontier(s, d), col("url"), col("n_refs"),
      caps, crawlPerHostPerWave, ipGroups = Some(ipGroupsFixture(s, d)))
  }

  /** Wave-density invariant twin over [[dsCrawlDelay]]'s schedule —
    * the scheduled-output CONTRACT as a driver-visible row: per
    * (host, cap), the URL total, wave count, max wave, fullest-wave
    * size, and the two invariants a scheduler regression would flip —
    * `dense` (waves run 0..n_waves-1 with no holes, so draining wave
    * k before k+1 never starves) and `capped` (no wave exceeds the
    * host's delay-derived cap). Both engines derive these from their
    * OWN schedule replay, so a broken window (hole, overfull wave,
    * wrong divisor) diverges the hash instead of only a spec. */
  def dsCrawlWaves(s: SparkSession, d: String): DataFrame =
    dsCrawlDelay(s, d)
      .groupBy(col("host"), col("cap"), col("wave"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("host"), col("cap"))
      .agg(sum(col("n")).as("n_urls"), count(lit(1)).as("n_waves"),
        max(col("wave")).as("max_wave"), max(col("n")).as("max_per_wave"))
      .withColumn("dense", col("max_wave") === col("n_waves") - 1)
      .withColumn("capped", col("max_per_wave") <= col("cap"))

  /** The WHOLE politeness front door as one plan — what a scheduler
    * actually drains: discovery ([[dsCrawlFrontier]]) → robots access
    * filter (most-specific-match, wildcards — Urls.robotsFilter) →
    * Crawl-delay-derived per-host wave caps (Urls.politeWavesCapped,
    * [[crawlPerHostPerWave]] default). The three sibling rows
    * (ds_crawl_robots / ds_crawl_schedule / ds_crawl_delay) each
    * price one stage and so each recompute the frontier; composed,
    * the frontier is staged ONCE (GraftBridge.stageLocal — the
    * robots filter's match/verdict branch, its keep anti-join and
    * the scheduling window all read the same materialized frame;
    * staging is safe here because the frontier is bounded by host ×
    * path VARIETY, not corpus volume — 432 rows at every rehearsal
    * decade — the stage-only-bounded-frames rule). */
  def dsCrawlPolite(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    // stage ONLY the two columns the gate + window consume: pruning
    // BEFORE the checkpoint drops the frontier's countDistinct /
    // min(referrer) aggregates from the staged compute entirely
    // (stageLocal materializes whatever it is handed). Measured
    // same-box min-of-3 at sf0.1: 6.45 s pruned vs 6.74 s full-frame
    // — modest here (the link explode dominates; the dropped aggs run
    // over the 432-row output), but the narrow staged frame is also
    // the posture that holds when in-link evidence columns widen
    val frontier = org.apache.spark.sql.GraftBridge.stageLocal(
      dsCrawlFrontier(s, d).select("url", "n_refs"))
    val caps = txRobotsDelays(s, d).select(col("host"),
      greatest(lit(1L),
        floor(lit(crawlWavePeriodSec) / col("delay_s"))).as("cap"))
    val allowed = Urls.robotsFilter(frontier, col("url"),
      crawlRobotsRules(s, d))
    Urls.politeWavesCapped(allowed, col("url"), col("n_refs"),
      caps, crawlPerHostPerWave)
  }

  /** The batch crawl's seed frame — the surface [[graft.streaming
    * .IngestCrawl.nextWave]] already has, for the batch twin: the
    * hosts' sitemap `<loc>`s, canonicalized, PLUS one planted
    * already-fetched URL per host (each source's min-doc canonical
    * URL — by construction in the crawled corpus) so the fetched-seed
    * exclusion branch is live and oracle-checked. */
  def crawlSeeds(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val locs = crawlHosts(s, d)
      .select(explode(
        Urls.sitemapLocs(Urls.syntheticSitemap(col("source")))).as("loc"))
      .select(Urls.canonicalize(col("loc")).as("url")).distinct()
    val planted = docs(s, d).groupBy(col("source"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(Urls.canonicalize(
        Urls.syntheticUrl(col("doc_id"), col("source"))).as("url"))
    locs.unionByName(planted)
  }

  /** [[dsCrawlPolite]] with the sitemap-seed surface nextWave already
    * has — the batch/streaming twin symmetry closed: seeds join the
    * candidate pool at in-link evidence 0 (a seed that is ALSO
    * discovered keeps its discovery evidence — the sitemap root URL
    * is, live: every page links "/"), are excluded when already
    * fetched, and flow through the SAME robots + Crawl-delay wave
    * gates as discoveries.
    *
    * The fetched-scope exclusion costs NO corpus exchange: the seed
    * set is hosts-bounded, so the corpus scan SEMI-joins against the
    * broadcast seeds (output ≤ |seeds|) and the seeds anti-join that
    * tiny result — the corpus is never shuffled for the seeds' sake. */
  def dsCrawlPoliteSeeded(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    // the crawled set staged ONCE and reused (r17): the frontier's
    // anti-join probe AND the seeds' fetched-scope exclusion both
    // need it — deriving the seeds' exclusion from its own corpus
    // projection paid a third corpus canon pass (matched min-of-3
    // A/B at sf0.1: 4.83 s -> 4.18 s staged)
    val (links, crawledRaw) = crawlLinkFrames(s, d)
    val crawled = org.apache.spark.sql.GraftBridge.stageLocal(crawledRaw)
    val frontier = org.apache.spark.sql.GraftBridge.stageLocal(
      links
        .join(crawled, Seq("url"), "left_anti")
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
        .filter(!Urls.hostBlocked(Urls.hostOf(col("url")), blockedDomains)))
    // seeds staged once (r21): the fetched-seeds probe and the live
    // anti-join both read it — hosts-bounded (see crawlWaveCore).
    val seeds = org.apache.spark.sql.GraftBridge.stageLocal(crawlSeeds(s, d))
    val fetchedSeeds = crawled
      .join(broadcast(seeds), Seq("url"), "left_semi").distinct()
    val live = seeds.join(fetchedSeeds, Seq("url"), "left_anti")
    val cand = frontier
      .unionByName(live.select(col("url"), lit(0L).as("n_refs")))
      .groupBy("url").agg(max(col("n_refs")).as("n_refs"))
    val caps = txRobotsDelays(s, d).select(col("host"),
      greatest(lit(1L),
        floor(lit(crawlWavePeriodSec) / col("delay_s"))).as("cap"))
    val allowed = Urls.robotsFilter(cand, col("url"),
      crawlRobotsRules(s, d))
    Urls.politeWavesCapped(allowed, col("url"), col("n_refs"),
      caps, crawlPerHostPerWave)
  }

  /** THE production wave — every crawl-loop gate composed into ONE
    * plan, in the order a real scheduler applies them:
    *
    *  discovery (frontier) ∪ sitemap seeds (evidence 0) ∪ trap-bait
    *  candidates → trap gate (template fan-out audit → anti-join)
    *  → domain-quality gate (fetch-ledger keep-rate per host at
    *  [[domainKeepPct]]%, hosts without evidence stay schedulable)
    *  → robots access filter under the PRODUCT TOKEN's §2.2.1 group
    *  choice → per-host Crawl-delay wave caps from the SAME chosen
    *  group.
    *
    * Plan economics: the crawled set and the candidate pool are each
    * staged ONCE (candidates-bounded); the trap audit and its gate
    * share the staged pool; the domain gate's ledger pass is the one
    * honest corpus-extraction cost (a real wave consults the fetch
    * ledger's verdicts); every gate frame — traps, bad hosts, robots
    * rules, delay caps — is hosts- or template-bounded and
    * broadcast. Ordering is cheap→expensive on the candidate side:
    * traps and the domain gate shrink the pool before the
    * rules-matching theta-join. */
  def dsCrawlWave(s: SparkSession, d: String): DataFrame =
    crawlWaveCore(s, d, withDue = false)

  /** The production wave with the domain gate fed from a PERSISTED
    * verdict frame (r19 — the r18 verdict's "What's wrong #2"): the
    * self-contained composite re-runs [[dsCrawl]]'s full HTML
    * extraction to derive the per-host verdicts, which is honest for
    * the oracle but wrong at scale — a real wave consults the fetch
    * LEDGER's already-landed verdicts (the streaming twin reads
    * `IngestCrawl.hostQuality(fetchedDir)`). `ledgerVerdicts` is any
    * frame with (host, quality_ok) — [[dsHostQuality]]'s shape or the
    * streaming hostQuality surface — typically a parquet read, hosts
    * -bounded, broadcast. Gate semantics are IDENTICAL (the oracle
    * rows pin the self-contained path; CrawlSpec pins ledger-fed ≡
    * self-contained for both wave flavors when the frame carries
    * dsCrawl's own stats). Measured matched min-of-3 at sf0.1
    * (loadavg 1.6, 373 rows both sides): self-contained 5.61 s vs
    * ledger-fed 5.15 s — modest at the oracle scale because the wave
    * is dominated by the link explode, but the skipped re-extraction
    * is the composite's only corpus-BYTE-sized stage, so the gap is
    * the term that grows fastest toward the decades
    * (BASELINE.md#crawl@1000x prices the front door alone at 96.7 s
    * there vs crawl_wave's 210.9 s total). */
  def crawlWave(s: SparkSession, d: String, fresh: Boolean = false,
                ledgerVerdicts: Option[DataFrame] = None): DataFrame =
    crawlWaveCore(s, d, withDue = fresh, ledgerVerdicts = ledgerVerdicts)

  /** [[dsCrawlWave]] plus the FRESHNESS half (r18): recrawl-due
    * refetches — the lastmod-or-ladder due set at the next wave
    * ([[dsRecrawlLastmod]], `due_wave_eff = 1`) — join the pool at
    * evidence 0, past the crawled exclusion (a refetch is of a
    * FETCHED url by definition) but through every gate a first fetch
    * faces: flagged trap templates, the domain-quality bar, the agent
    * robots rules and the Crawl-delay caps. The trap AUDIT still
    * counts DISCOVERY candidates only — an already-fetched 10k-page
    * archive is content, not an infinite URL space; due refetches are
    * GATED against flagged templates without feeding the fan-out
    * count. This is the batch twin of `nextWave(recrawl = ...)` and
    * completes the wave a real scheduler runs: discovery ∪ seeds ∪
    * recrawl-due. Cost over dsCrawlWave: the ladder's one keep-first
    * exchange + the broadcast lastmod join (both priced at the
    * decades — BASELINE.md#recrawl_lastmod@100x/@1000x).
    *
    * Due-at-evidence-0 is a DECISION, not a gap (r19): the batch
    * composite has no cash ledger — OPIC receipts are run state, and
    * the batch twin is a single self-contained plan — so due
    * refetches rank at 0 like seeds. A deployment that wants
    * freshness work on proven-important pages to outrank speculative
    * discovery composes the STREAMING surfaces:
    * `nextWave(recrawl = recrawlDue(...), priority =
    * cashReceipts(...))` ranks every candidate, due refetches
    * included, by accumulated cash (IngestCrawlSpec's cash-aware-due
    * law pins it). */
  def dsCrawlWaveFresh(s: SparkSession, d: String): DataFrame =
    crawlWaveCore(s, d, withDue = true)

  private def crawlWaveCore(s: SparkSession, d: String, withDue: Boolean,
                            ledgerVerdicts: Option[DataFrame] = None)
      : DataFrame = {
    import graft.operators.Urls
    val (links, crawledRaw) = crawlLinkFrames(s, d)
    val crawled = org.apache.spark.sql.GraftBridge.stageLocal(crawledRaw)
    val frontier = links
      .join(crawled, Seq("url"), "left_anti")
      .groupBy("url").agg(count(lit(1)).as("n_refs"))
      .filter(!Urls.hostBlocked(Urls.hostOf(col("url")), blockedDomains))
    // seeds staged ONCE (r21): referenced by the fetched-seeds probe
    // AND the live anti-join — unstaged, each reference re-ran the
    // sitemap parse + the planted min-doc aggregation (two documents
    // scans each). Hosts-bounded — the bounded-frames staging rule.
    val seeds = org.apache.spark.sql.GraftBridge.stageLocal(crawlSeeds(s, d))
    val fetchedSeeds = crawled
      .join(broadcast(seeds), Seq("url"), "left_semi").distinct()
    val live = seeds.join(fetchedSeeds, Seq("url"), "left_anti")
    val cand = org.apache.spark.sql.GraftBridge.stageLocal(
      frontier
        .unionByName(live.select(col("url"), lit(0L).as("n_refs")))
        .unionByName(plantedCalCandidates(s, d))
        .unionByName(plantedArchiveCandidates(s, d))
        .groupBy("url").agg(max(col("n_refs")).as("n_refs"))
        .withColumn("host", Urls.hostOf(col("url")))
        .withColumn("template", urlTemplate(col("url"))))
    // trap gate with the r18 whitelist term: high fan-out is dropped
    // only when evidence-per-URL stays under the bar — the planted
    // heavily-linked archive pagination must survive into the wave.
    // Staged (r21): template-bounded; the discovery gate AND (withDue)
    // the due-refetch gate both broadcast it — staging spares the
    // second aggregation pass over the staged pool.
    val traps = org.apache.spark.sql.GraftBridge.stageLocal(
      cand.groupBy("host", "template")
        .agg(count(lit(1)).as("n_urls"), sum(col("n_refs")).as("sum_refs"))
        .filter(col("n_urls") >= trapMinUrls &&
          col("sum_refs") < col("n_urls") * trapWhitelistRefs)
        .select("host", "template"))
    val untrapped = cand
      .join(broadcast(traps), Seq("host", "template"), "left_anti")
    // freshness half (r18, withDue): due refetches at evidence 0 —
    // disjoint from the pool by construction (due ⊆ crawled, the pool
    // excludes crawled) — trap-GATED but never trap-COUNTED
    val pool =
      if (!withDue) untrapped
      else untrapped.unionByName(
        dsRecrawlLastmod(s, d).filter(col("due_wave_eff") === 1)
          .select(col("canon_url").as("url"), lit(0L).as("n_refs"))
          .withColumn("host", Urls.hostOf(col("url")))
          .withColumn("template", urlTemplate(col("url")))
          .join(broadcast(traps), Seq("host", "template"), "left_anti"))
    // fetch-ledger domain gate: hosts the verdicts CONDEMN at the
    // curation bar; no-evidence hosts never appear -> stay schedulable.
    // r19: a caller with a PERSISTED verdict frame (the streaming
    // hostQuality surface — see [[crawlWave]]) feeds it here and the
    // wave skips its one corpus-extraction stage; the self-contained
    // derivation below stays the oracle path
    val badHosts = ledgerVerdicts match {
      case Some(v) => v.filter(!col("quality_ok")).select("host")
      case None => dsCrawl(s, d)
        .select(Urls.hostOf(col("canon_url")).as("host"),
          when(col("verdict") === "kept", 1L).otherwise(0L).as("k"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"), sum(col("k")).as("n_kept"))
        .filter(col("n_kept") * 100 < col("n_pages") * domainKeepPct)
        .select("host")
    }
    // gated staged (r21): robotsFilter reads its candidate frame
    // THREE times (plain-rule theta-join, wildcard-rule theta-join,
    // the keep anti-join) — unstaged, the whole gate chain above
    // (trap anti-join, due union, domain anti-join) re-ran for each.
    // Candidates-bounded, the same rule dsCrawlPolite stages under.
    val gated = org.apache.spark.sql.GraftBridge.stageLocal(
      pool
        .join(broadcast(badHosts), Seq("host"), "left_anti")
        .select(col("url"), col("n_refs")))
    val hosts = crawlHosts(s, d)
    val arules = Urls.robotsRules(hosts, col("host"),
      Urls.syntheticRobots(col("source")), agent = Some(crawlProductToken))
    val allowed = Urls.robotsFilter(gated, col("url"), arules)
    val caps = Urls.robotsDelays(hosts, col("host"),
        Urls.syntheticRobots(col("source")), agent = Some(crawlProductToken))
      .select(col("host"),
        greatest(lit(1L),
          floor(lit(crawlWavePeriodSec) / col("delay_s"))).as("cap"))
    Urls.politeWavesCapped(allowed, col("url"), col("n_refs"),
      caps, crawlPerHostPerWave)
  }


  /** Html.canonicalHref mirrored over the SQL expression `html`
    * (keep it a bare column — it repeats): the first `<link>` tag
    * carrying rel="canonical" wins, its href read from that tag
    * (attribute order free), value XML-entity-decoded ('&amp;' LAST,
    * matching Urls.xmlEntityDecode's one pass), '' → NULL. The SQL
    * twin runs UNgated (RE2 has no cheap-contains CaseWhen to win
    * from) — a non-declaring page extracts '' → NULL identically. */
  private def canonicalHrefSqlExpr(html: String): String = {
    def dec(v: String) =
      s"""replace(replace(replace(replace(replace($v,
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&apos;', ''''), '&amp;', '&')"""
    val href = s"""regexp_extract(regexp_extract($html,
      '<link[^>]* rel="canonical"[^>]*>', 0), ' href="([^"]*)"', 1)"""
    s"nullif(${dec(href)}, '')"
  }

  /** The meta-robots fixture head element per doc_id residue
    * (metaRobotsPage's SQL twin — needs a bare `doc_id` column). */
  private val metaRobotsHeadSqlCase: String =
    """CASE doc_id % 10
         WHEN 6 THEN '<meta name="robots" content="noindex"/>'
         WHEN 7 THEN '<meta content="noindex, nofollow" name="robots"/>'
         WHEN 8 THEN '<meta name="robots" content="index, follow"/>'
         ELSE '' END"""

  /** Html.metaRobots mirrored over the SQL expression `html` (keep it
    * a bare column — it repeats): the first tag carrying
    * name="robots" wins, content read from it, '' → NULL. */
  private def metaRobotsSqlExpr(html: String): String =
    s"""nullif(regexp_extract(regexp_extract($html,
      '<meta[^>]* name="robots"[^>]*>', 0), ' content="([^"]*)"', 1), '')"""

  /** Html.robotsContentHas mirrored: token-exact membership in the
    * comma/whitespace-separated directive list, NULL ⇒ false. */
  private def robotsTokenSqlExpr(c: String, token: String): String =
    s"coalesce(list_contains(string_split_regex(lower($c), '[,\\s]+'), " +
      s"'$token'), false)"

  /** The (source, target) + planted-canonical-page CTE chain shared
    * by tx_extract_canonical and ds_crawl_canonical: `tg(source,
    * target)` the per-source min-doc article canonical, `pc(doc_id,
    * source, html)` the pages with the rel=canonical fixture planted
    * (canonicalPage's three residue shapes). */
  private lazy val canonicalPageCtes: String =
    s"""t0 AS (SELECT source, min(doc_id) AS doc_id FROM documents
               GROUP BY source),
        t1 AS (SELECT source, $urlSynthSqlExpr AS url FROM t0),
        t2 AS (SELECT source, ${urlCanonSqlExpr("url")} AS cu FROM t1),
        tg AS MATERIALIZED (SELECT source, ${sortParamsSqlExpr("cu")}
                AS target FROM t2),
        db AS (SELECT d.doc_id, d.text, d.source, tg.target
               FROM documents d JOIN tg ON d.source = tg.source),
        pc AS MATERIALIZED (SELECT doc_id, source,
                 replace($pageSynthSqlExpr, '</head>',
                   CASE doc_id % 10
                     WHEN 3 THEN '<link rel="canonical" href="https://' ||
                       lower(source) ||
                       '.example.com/canon/hub?x=1&amp;y=2"/>'
                     WHEN 4 THEN '<link href="' ||
                       replace(target, '&', '&amp;') ||
                       '" rel="canonical"/>'
                     WHEN 5 THEN '<link rel="canonical" href="/articles/' ||
                       CAST(doc_id % 150 AS VARCHAR) || '"/>'
                     ELSE '' END || '</head>') AS html
               FROM db)"""

  /** The link-extraction CTE chain: synthesized pages → per-page
    * hrefs (document order) with the page's canonical base URL —
    * yields `lk(doc_id, base, pos, href)`. */
  // lazy: refers to pageSynthSqlExpr declared below (object-init order)
  private lazy val linkCtes: String =
    s"""$urlSynthCte,
        cb8 AS (SELECT u.doc_id, d.text, d.source,
                  ${urlCanonSqlExpr("u.url")} AS cu
                FROM u JOIN documents d ON u.doc_id = d.doc_id),
        cb AS (SELECT doc_id, text, source,
                 ${sortParamsSqlExpr("cu")} AS base FROM cb8),
        pg AS (SELECT doc_id, base, $pageSynthSqlExpr AS html FROM cb),
        lk AS (SELECT doc_id, base,
                 generate_subscripts(regexp_extract_all(html,
                   '<a[^>]* href="([^"]*)"', 1), 1) - 1 AS pos,
                 unnest(regexp_extract_all(html,
                   '<a[^>]* href="([^"]*)"', 1)) AS href
               FROM pg)"""

  /** dsCrawl mirrored in full — the front-door composite shared by
    * the ds_crawl oracle entry and the host-stats twin. */
  private lazy val crawlCompositeSql: String = {
    val notBlocked = blockedDomains.map(d =>
      s"NOT (host = '$d' OR host LIKE '%.$d')").mkString(" AND ")
    s"""WITH $urlSynthCte,
        cu8 AS (SELECT d.doc_id, d.text, d.source,
                 ${urlCanonSqlExpr("u.url")} AS cu
               FROM u JOIN documents d ON u.doc_id = d.doc_id),
        cu AS (SELECT doc_id, text, source,
                 ${sortParamsSqlExpr("cu")} AS canon_url FROM cu8),
        hh AS (SELECT *, regexp_extract(canon_url,
                 '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host FROM cu),
        w AS (SELECT canon_url, min(doc_id) AS doc_id,
                     CAST(count(*) AS BIGINT) AS n_fetches
              FROM hh WHERE $notBlocked GROUP BY canon_url),
        wd AS (SELECT w.canon_url, w.n_fetches, d.doc_id, d.text, d.source
               FROM w JOIN documents d ON w.doc_id = d.doc_id)
        SELECT e.doc_id, wd.canon_url, wd.n_fetches, e.kept_blocks,
               CAST(CASE WHEN e.main_text = '' THEN 0
                    ELSE len(string_split_regex(e.main_text, '[ \\n]')) END
                 AS BIGINT) AS n_tokens,
               CASE WHEN (CASE WHEN e.main_text = '' THEN 0
                          ELSE len(string_split_regex(e.main_text, '[ \\n]')) END)
                      >= ${crawlMinTokens} THEN 'kept' ELSE 'thin' END AS verdict
        FROM ${htmlExtractSql("wd")} e JOIN wd ON e.doc_id = wd.doc_id"""
  }

  /** dsCrawlFrontier mirrored: winners' outbound links → resolve →
    * canonicalize → blocklist → anti-join crawled → in-link rollup.
    * (Lazy: composes the lazy linkCtes.) */
  private def notBlockedOver(hostExpr: String): String =
    blockedDomains.map(d =>
      s"NOT ($hostExpr = '$d' OR $hostExpr LIKE '%.$d')").mkString(" AND ")

  /** The discovery chain both frontier oracles share (the SQL twin of
    * [[crawlLinkFrames]]): `cw(canon_url)` the crawled set,
    * `rcb(referrer, url, host)` the resolved, canonicalized,
    * raw-gated candidate links. */
  private lazy val crawlLinkSqlCtes: String =
    s"""$linkCtes,
        cw AS (SELECT DISTINCT base AS canon_url FROM cb
               WHERE ${notBlockedOver(
                 "regexp_extract(base, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)")}),
        rh AS (SELECT base AS referrer, href FROM lk
               WHERE NOT href LIKE '#%' AND href <> ''
                 AND (NOT regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:')
                      OR regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://'))),
        rv AS (SELECT referrer,
                 ${resolveHrefSqlExpr("referrer", "href")} AS abs_url FROM rh),
        rc8 AS (SELECT referrer, ${urlCanonSqlExpr("abs_url")} AS cu FROM rv),
        rc AS (SELECT referrer, ${sortParamsSqlExpr("cu")} AS url FROM rc8),
        rcb AS (SELECT referrer, url,
                  regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                    AS host FROM rc)"""

  /** The production-wave SQL, parameterized on the r18 freshness
    * half: `withDue` unions the lastmod-or-ladder due set (the
    * embedded [[recrawlLastmodSql]] at due_wave_eff = 1) into the
    * pool at evidence 0 — trap-GATED against the discovery audit's
    * flags but never trap-COUNTED, then through the same domain /
    * robots / cap gates. */
  private def crawlWaveSqlText(withDue: Boolean): String = {
    val dueCtes =
      if (!withDue)
        "wall AS (SELECT url, n_refs, host, template FROM wut),"
      else
        s"""wdu AS (SELECT canon_url AS url FROM ($recrawlLastmodSql)
                  WHERE due_wave_eff = 1),
          wduh AS (SELECT url, CAST(0 AS BIGINT) AS n_refs,
                     regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host,
                     regexp_replace(regexp_replace(url,
                       '^[a-z][a-z0-9+.-]*://[^/?#]+', ''),
                       '[0-9]+', 'N', 'g') AS template
                   FROM wdu),
          wdug AS (SELECT * FROM wduh
                   WHERE NOT EXISTS (SELECT 1 FROM wtr
                                     WHERE wtr.host = wduh.host
                                       AND wtr.template = wduh.template)),
          wall AS (SELECT url, n_refs, host, template FROM wut
                   UNION ALL
                   SELECT url, n_refs, host, template FROM wdug),"""
    s"""WITH f AS ($crawlFrontierSql), $robotsRulesCtes, $robotsAgentCtes,
          arpat AS (SELECT host, prefix, allow,
                      replace(replace(replace(replace(
                        CASE WHEN substr(prefix, length(prefix), 1) = '$$'
                             THEN substr(prefix, 1, length(prefix) - 1)
                             ELSE prefix END,
                        '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')
                      || CASE WHEN substr(prefix, length(prefix), 1) = '$$'
                              THEN '' ELSE '%' END AS pat
                    FROM arules),
          sdb AS (SELECT host, $sitemapBodySqlExpr AS xml FROM rh),
          sdl AS (SELECT unnest(regexp_extract_all(xml,
                    '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS raw FROM sdb),
          sdd AS (SELECT replace(replace(replace(replace(replace(raw,
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&apos;', \'\'\'\'), '&amp;', '&') AS loc FROM sdl),
          sd8 AS (SELECT ${urlCanonSqlExpr("loc")} AS cu FROM sdd),
          sdc AS (SELECT DISTINCT ${sortParamsSqlExpr("cu")} AS url FROM sd8),
          sdm AS (SELECT min(doc_id) AS doc_id, source FROM documents
                  GROUP BY source),
          sdu AS (SELECT $urlSynthSqlExpr AS url FROM sdm),
          sdp8 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM sdu),
          sdp AS (SELECT ${sortParamsSqlExpr("cu")} AS url FROM sdp8),
          sds AS (SELECT url FROM sdc UNION SELECT url FROM sdp),
          sco8 AS (SELECT ${urlCanonSqlExpr("u2.url")} AS cu FROM
                   (SELECT $urlSynthSqlExpr AS url FROM documents) u2),
          sco AS (SELECT DISTINCT ${sortParamsSqlExpr("cu")} AS url FROM sco8),
          sdlive AS (SELECT url FROM sds
                     WHERE url NOT IN (SELECT url FROM sco)),
          wth AS (SELECT DISTINCT lower(source) || '.example.com' AS host,
                         (length(source) % 4) * 20 AS tn,
                         (length(source) % 3) * 10 AS an FROM documents),
          wpl AS (SELECT 'https://' || host || '/cal?d=' ||
                         CAST(x AS VARCHAR) AS url,
                         CAST(1 AS BIGINT) AS n_refs
                  FROM (SELECT host, unnest(range(0, tn)) AS x FROM wth)
                  UNION ALL
                  SELECT 'https://' || host || '/archive?page=' ||
                         CAST(x AS VARCHAR) AS url,
                         CAST(${trapWhitelistRefs + 1} AS BIGINT) AS n_refs
                  FROM (SELECT host, unnest(range(0, an)) AS x FROM wth)),
          wcand AS (SELECT url, CAST(max(n_refs) AS BIGINT) AS n_refs FROM
                    (SELECT url, n_refs FROM f
                     UNION ALL SELECT url, 0 AS n_refs FROM sdlive
                     UNION ALL SELECT url, n_refs FROM wpl)
                    GROUP BY url),
          wct AS (SELECT url, n_refs,
                    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                      AS host,
                    regexp_replace(regexp_replace(url,
                      '^[a-z][a-z0-9+.-]*://[^/?#]+', ''),
                      '[0-9]+', 'N', 'g') AS template
                  FROM wcand),
          wtr AS (SELECT host, template FROM wct
                  GROUP BY host, template
                  HAVING count(*) >= ${trapMinUrls}
                     AND sum(n_refs) < count(*) * ${trapWhitelistRefs}),
          wut AS (SELECT wct.* FROM wct
                  WHERE NOT EXISTS (SELECT 1 FROM wtr
                                    WHERE wtr.host = wct.host
                                      AND wtr.template = wct.template)),
          $dueCtes
          wcv AS ($crawlCompositeSql),
          wbad AS (SELECT host FROM
                   (SELECT regexp_extract(canon_url,
                      '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host,
                      CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END AS k
                    FROM wcv) v
                   GROUP BY host
                   HAVING sum(k) * 100 < count(*) * ${domainKeepPct}),
          wgt AS (SELECT url, n_refs FROM wall
                  WHERE host NOT IN (SELECT host FROM wbad)),
          fp AS (SELECT wgt.*,
                   regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                     AS fhost,
                   regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/?#]+', '')
                     AS fpath
                 FROM wgt),
          blk AS (SELECT fhost, fpath FROM
                  (SELECT fp.fhost, fp.fpath,
                     max(length(r.prefix) * 2 +
                         CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
                   FROM fp JOIN arpat r ON r.host = fp.fhost
                     AND fp.fpath LIKE r.pat ESCAPE '\\'
                   GROUP BY fp.fhost, fp.fpath)
                  WHERE best % 2 = 0),
          keep AS (SELECT fp.url, fp.n_refs, fp.fhost FROM fp
                   WHERE NOT EXISTS (SELECT 1 FROM blk
                                     WHERE blk.fhost = fp.fhost
                                       AND blk.fpath = fp.fpath)),
          caps AS (SELECT host,
                     greatest(1, $crawlWavePeriodSec // delay_s) AS cap
                   FROM adelays),
          j AS (SELECT k.url, k.n_refs AS priority, k.fhost AS host,
                  greatest(coalesce(caps.cap, $crawlPerHostPerWave), 1) AS cap
                FROM keep k LEFT JOIN caps ON k.fhost = caps.host)
          SELECT url, priority, host, cap,
                 CAST((row_number() OVER (PARTITION BY host
                        ORDER BY priority DESC, url) - 1) // cap AS BIGINT)
                   AS wave
          FROM j"""
  }

  private lazy val crawlFrontierSql: String =
    s"""WITH $crawlLinkSqlCtes,
        fr AS (SELECT referrer, url FROM rcb
               WHERE ${notBlockedOver("host")}
                 AND url NOT IN (SELECT canon_url FROM cw))
        SELECT url, CAST(count(*) AS BIGINT) AS n_refs,
               CAST(count(DISTINCT referrer) AS BIGINT) AS n_referrers,
               min(referrer) AS first_referrer
        FROM fr GROUP BY url"""

  /** OPIC one-round cash receipts (integer floor shares — the same
    * `1000 div outdeg` both engines compute): window over ALL of a
    * referrer's surviving links, receipts aggregated per uncrawled
    * candidate. */
  private lazy val frontierOpicSql: String =
    s"""WITH $crawlLinkSqlCtes,
        hubh AS (SELECT DISTINCT lower(source) || '.example.com' AS host,
                        source FROM documents),
        hub AS (SELECT 'https://' || host || '/hub' AS referrer,
                       'https://' || host || path AS url
                FROM (SELECT host,
                        unnest(list_concat(['', '/about', '/legal'],
                          (['/junk/0', '/junk/1', '/junk/2'])
                            [1:length(source) % 4])) AS path
                      FROM hubh)),
        au AS (SELECT referrer, url FROM rcb
               UNION ALL SELECT referrer, url FROM hub),
        fg AS (SELECT referrer, url FROM au
               WHERE ${notBlockedOver(
                 "regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)")}),
        fo AS (SELECT referrer, url,
                 $opicCash // count(*) OVER (PARTITION BY referrer) AS cash
               FROM fg)
        SELECT url, CAST(count(*) AS BIGINT) AS n_refs,
               CAST(sum(cash) AS BIGINT) AS cash
        FROM fo
        WHERE url NOT IN (SELECT canon_url FROM cw)
        GROUP BY url"""

  /** Urls.robotsRules / robotsDelays over the Urls.syntheticRobots
    * fixture, mirrored: per-host line explode → comment strip →
    * empty-line drop (blank/comment-only lines may interleave a
    * stacked agent group, r16) → RFC 9309 group assignment
    * (consecutive non-empty User-agent lines share ONE group: a group
    * starts at an agent line whose last non-empty predecessor is not
    * an agent line — the same lag + running-sum both engines run) →
    * '*'-group non-empty Disallow/Allow values and numeric
    * Crawl-delay values. Yields `rules(host, prefix, allow)`,
    * `delays(host, delay_s)` and `rpat` — `rules` with each value
    * compiled to its LIKE pattern (escape, `*` → `%`, trailing-`$`
    * anchor; Urls.robotsFilter's compilation mirrored; match with
    * ESCAPE '\'). */
  private val robotsRulesCtes: String =
    """rh AS (SELECT DISTINCT lower(source) || '.example.com' AS host, source
              FROM documents),
       rb AS (SELECT host,
                '# robots for ' || source ||
                chr(10) || 'User-agent: bot' || chr(10) || 'Disallow: /'
                || chr(10) || 'Crawl-delay: 9' || chr(10) ||
                (CASE length(source) % 4
                   WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /legal'
                               || chr(10) || 'Disallow:' || chr(10)
                               || 'Disallow: /*bout$' || chr(10)
                               || 'Crawl-delay: 1' || chr(10)
                   WHEN 1 THEN 'user-agent: *' || chr(10) || 'DISALLOW: /a'
                               || chr(10) || 'allow: /articles/' || chr(10)
                               || 'Crawl-delay: 2' || chr(10)
                   WHEN 2 THEN 'User-agent: *' || chr(10)
                               || 'Disallow: /articles/ # keep shop' || chr(10)
                               || 'Crawl-delay: soon' || chr(10)
                   ELSE 'User-agent: *' || chr(10) || chr(10) || '# both bots'
                        || chr(10) || 'User-agent: other'
                        || chr(10) || 'Disallow: /x' || chr(10)
                        || 'Crawl-delay: 4' || chr(10) END)
                || 'Sitemap: https://' || lower(source)
                || '.example.com/sitemap.xml' || chr(10)
                || (CASE WHEN length(source) % 4 = 1
                    THEN 'sitemap: https://' || lower(source)
                         || '.example.com/news.xml # primary' || chr(10)
                    ELSE '' END)
                || (CASE length(source) % 4
                      WHEN 1 THEN 'User-agent: graftbot-news' || chr(10)
                        || 'Disallow: /news-archive' || chr(10)
                        || 'Allow: /news-archive/today' || chr(10)
                        || 'Crawl-delay: 7' || chr(10)
                      WHEN 2 THEN 'User-agent: graftbot' || chr(10)
                        || 'Disallow: /g' || chr(10)
                        || 'User-agent: graftbot-news' || chr(10)
                        || 'Disallow: /news-archive' || chr(10)
                        || 'Allow: /news-archive/today' || chr(10)
                        || 'Crawl-delay: 7' || chr(10)
                      ELSE '' END) AS body
              FROM rh),
       rl0 AS (SELECT host,
                 generate_subscripts(string_split(body, chr(10)), 1) AS pos,
                 unnest(string_split(body, chr(10))) AS raw
               FROM rb),
       rl AS (SELECT * FROM
                (SELECT host, pos,
                   trim(regexp_replace(raw, '#.*$', '')) AS line FROM rl0)
              WHERE line <> ''),
       rg0 AS (SELECT host, pos, line,
                 lower(line) LIKE 'user-agent:%' AS is_agent
               FROM rl),
       rg1 AS (SELECT host, pos, line, is_agent,
                 (is_agent AND NOT coalesce(
                    lag(is_agent) OVER (PARTITION BY host ORDER BY pos),
                    false)) AS starts_group
               FROM rg0),
       rg AS (SELECT host, pos, line, is_agent,
                sum(CASE WHEN starts_group THEN 1 ELSE 0 END)
                  OVER (PARTITION BY host ORDER BY pos) AS grp
              FROM rg1),
       ra AS (SELECT DISTINCT host, grp FROM rg
              WHERE is_agent
                AND trim(substr(line, strpos(line, ':') + 1)) = '*'),
       rules AS (SELECT DISTINCT d.host, d.prefix, d.allow FROM
                 (SELECT host, grp,
                    lower(line) LIKE 'allow:%' AS allow,
                    trim(substr(line, strpos(line, ':') + 1)) AS prefix
                  FROM rg WHERE regexp_matches(lower(line), '^(disallow|allow):')) d
                 JOIN ra ON d.host = ra.host AND d.grp = ra.grp
                 WHERE d.prefix <> ''),
       delays AS (SELECT d.host, max(CAST(d.v AS BIGINT)) AS delay_s FROM
                  (SELECT host, grp,
                     trim(substr(line, strpos(line, ':') + 1)) AS v
                   FROM rg WHERE lower(line) LIKE 'crawl-delay:%') d
                  JOIN ra ON d.host = ra.host AND d.grp = ra.grp
                  WHERE regexp_matches(d.v, '^[0-9]+$')
                  GROUP BY d.host),
       sitemaps AS (SELECT DISTINCT host,
                      trim(substr(line, strpos(line, ':') + 1)) AS sitemap_url
                    FROM rl WHERE lower(line) LIKE 'sitemap:%'
                      AND trim(substr(line, strpos(line, ':') + 1)) <> ''),
       rpat AS (SELECT host, prefix, allow,
                  replace(replace(replace(replace(
                    CASE WHEN substr(prefix, length(prefix), 1) = '$'
                         THEN substr(prefix, 1, length(prefix) - 1)
                         ELSE prefix END,
                    '\', '\\'), '%', '\%'), '_', '\_'), '*', '%')
                  || CASE WHEN substr(prefix, length(prefix), 1) = '$'
                          THEN '' ELSE '%' END AS pat
                FROM rules)"""

  /** Urls.syntheticSitemap mirrored as one SQL expression over a bare
    * `source` column — shared by tx_sitemap_locs, tx_sitemap_index
    * and the seeded politeness composite. */
  private val sitemapBodySqlExpr: String =
    """('<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
       '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
       || chr(10) ||
       '<url><loc>https://' || lower(source) ||
       '.example.com/</loc><lastmod>2024-02-01</lastmod></url>'
       || chr(10) ||
       '<url><loc>' || chr(10) || '   https://' || lower(source) ||
       '.example.com/articles/7?a=1&amp;b=2' || chr(10) ||
       '   </loc></url>' || chr(10) ||
       '<url><loc>HTTPS://WWW.' || upper(source) ||
       '.EXAMPLE.COM:443/articles/9</loc></url>' || chr(10) ||
       '<url><loc>https://' || lower(source) ||
       '.example.com/o&apos;brien&amp;amp;sons</loc></url>'
       || chr(10) || '</urlset>' || chr(10))"""

  /** The alternating sitemap-bodies fixture shared by
    * tx_sitemap_index and tx_sitemap_meta: even-length sources serve
    * the flat `<urlset>` ([[sitemapBodySqlExpr]]), odd-length the
    * `<sitemapindex>` (Urls.syntheticSitemapIndex mirrored). */
  private val sitemapAltBodiesCtes: String =
    s"""rh AS (SELECT DISTINCT lower(source) || '.example.com' AS host,
                      source FROM documents),
        sb AS (SELECT host,
                 CASE WHEN length(source) % 2 = 0 THEN $sitemapBodySqlExpr
                 ELSE
                 '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
                 '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                 || chr(10) ||
                 '<sitemap><loc>https://' || lower(source) ||
                 '.example.com/pages-1.xml</loc>' ||
                 '<lastmod>2024-02-01</lastmod></sitemap>' || chr(10) ||
                 '<sitemap><loc>' || chr(10) || '   https://' || lower(source) ||
                 '.example.com/pages-2.xml?v=1&amp;rev=2' || chr(10) ||
                 '   </loc></sitemap>' || chr(10) ||
                 '<sitemap><loc>HTTPS://WWW.' || upper(source) ||
                 '.EXAMPLE.COM:443/news.xml</loc></sitemap>' || chr(10) ||
                 '</sitemapindex>' || chr(10)
                 END AS xml
               FROM rh)"""

  /** The engine's crawler product token — the §2.2.1 group-choice
    * rows bind to it. The fixture's `bot` group is a substring but
    * not a prefix of it (must never match); `graftbot` (m=2 hosts) is
    * a shorter prefix (must lose to `graftbot-news`). */
  val crawlProductToken = "graftbot-news"

  /** One SQL hop level of the fixture redirect walk
    * (Urls.redirectHop's twin), carrying `carry` columns through.
    * MATERIALIZED: each level references the previous level's `cur`
    * five times (guard + replace + coalesce); inlined, a canon-
    * cascade-valued `cur` would clone ~5^levels-fold and blow the
    * DuckDB planner (measured OOM at sf0.001) — the SQL twin of the
    * engine's filter-pushdown clone trap. */
  private def redirectHopLevelSql(prev: String, cur: String,
                                  carry: String): String =
    s"""$cur AS MATERIALIZED (SELECT $carry,
             coalesce(hop, cur) AS cur,
             n + CASE WHEN hop IS NULL THEN 0 ELSE 1 END AS n
           FROM (SELECT *, CASE WHEN regexp_matches(cur,
                   '^[a-z][a-z0-9+.-]*://[^/?#]+/old/')
                   THEN regexp_replace(cur,
                     '^([a-z][a-z0-9+.-]*://[^/?#]+)/old/', '\\1/') END AS hop
                 FROM $prev))"""

  /** The full lastmod-override recrawl SQL — shared by the
    * ds_recrawl_lastmod entry and the wave-fresh composite (which
    * embeds it as a subquery for its due set). */
  /** The Crawl-delay politeness schedule's oracle text — shared
    * verbatim by ds_crawl_delay (the plain single-window plan) and
    * ds_crawl_delay_wide (the r19 mega-host rank decomposition): the
    * two plans must produce identical rows, and sharing the text
    * makes the driver's hash gate check exactly that. */
  private lazy val crawlDelaySql: String =
    s"""WITH f AS ($crawlFrontierSql), $robotsRulesCtes,
        caps AS (SELECT host,
                   greatest(1, $crawlWavePeriodSec // delay_s) AS cap
                 FROM delays),
        c AS (SELECT url, n_refs AS priority,
                regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                  AS host
              FROM f),
        j AS (SELECT c.url, c.priority, c.host,
                greatest(coalesce(caps.cap, $crawlPerHostPerWave), 1) AS cap
              FROM c LEFT JOIN caps ON c.host = caps.host)
        SELECT url, priority, host, cap,
               CAST((row_number() OVER (PARTITION BY host
                      ORDER BY priority DESC, url) - 1) // cap AS BIGINT)
                 AS wave
        FROM j"""

  /** [[crawlDelaySql]] under the IP-group fixture (r20): the window
    * keys on coalesce(ip_group, host) and the group's MIN member cap
    * governs — the politeness-composes-by-min rule replayed. */
  private lazy val crawlDelayIpSql: String =
    s"""WITH f AS ($crawlFrontierSql), $robotsRulesCtes,
        caps AS (SELECT host,
                   greatest(1, $crawlWavePeriodSec // delay_s) AS cap
                 FROM delays),
        g AS (SELECT source || '.example.com' AS host,
                     'ip-' || CAST(CAST(regexp_extract(source, '(\\d+)', 1)
                       AS BIGINT) % 4 AS VARCHAR) AS ip_group
              FROM (SELECT DISTINCT source FROM documents)
              WHERE CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT)
                    % 2 = 0),
        c AS (SELECT url, n_refs AS priority,
                regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                  AS host
              FROM f),
        j AS (SELECT c.url, c.priority, c.host,
                coalesce(g.ip_group, c.host) AS polite_key,
                greatest(coalesce(caps.cap, $crawlPerHostPerWave), 1) AS cap0
              FROM c LEFT JOIN caps ON c.host = caps.host
                     LEFT JOIN g ON c.host = g.host),
        m AS (SELECT url, priority, host, polite_key,
                min(cap0) OVER (PARTITION BY polite_key) AS cap
              FROM j)
        SELECT url, priority, host, polite_key, cap,
               CAST((row_number() OVER (PARTITION BY polite_key
                      ORDER BY priority DESC, url) - 1) // cap AS BIGINT)
                 AS wave
        FROM m"""

  private lazy val recrawlLastmodSql: String =
    s"""WITH $recrawlLadderCtes,
          $sitemapAltBodiesCtes,
          bx AS (SELECT host,
                   CASE WHEN regexp_matches(xml, '<sitemapindex[\\s>]')
                        THEN 'index' ELSE 'urlset' END AS kind,
                   unnest(regexp_extract_all(xml,
                     '(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1)) AS blk
                 FROM sb),
          sm AS (SELECT kind,
                   replace(replace(replace(replace(replace(
                     regexp_extract(blk, '<loc>\\s*([^<]*?)\\s*</loc>', 1),
                     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                     '&apos;', ''''), '&amp;', '&') AS loc_url,
                   nullif(regexp_extract(blk,
                     '<lastmod>\\s*([^<]*?)\\s*</lastmod>', 1), '') AS lastmod
                 FROM bx),
          smu AS (SELECT ${urlCanonSqlExpr("loc_url")} AS cu,
                         CAST(lastmod AS DATE) AS lastmod
                  FROM sm WHERE kind = 'urlset' AND lastmod IS NOT NULL),
          smf AS (SELECT ${sortParamsSqlExpr("cu")} AS canon_url, lastmod
                  FROM smu),
          pl0 AS (SELECT source, min(doc_id) AS doc_id FROM documents
                  GROUP BY source),
          plu AS (SELECT $urlSynthSqlExpr AS url FROM pl0),
          plc8 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM plu),
          plc AS (SELECT ${sortParamsSqlExpr("cu")} AS canon_url,
                         DATE '2024-02-01' AS lastmod FROM plc8),
          lmu AS (SELECT * FROM smf UNION ALL SELECT * FROM plc),
          lm AS (SELECT canon_url, max(lastmod) AS lastmod FROM lmu
                 GROUP BY canon_url),
          ld AS (SELECT iv.*, lm.lastmod,
                   CASE WHEN length(regexp_extract(iv.canon_url,
                          '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)) % 2 = 0
                        THEN DATE '2024-01-15'
                        ELSE DATE '2024-02-14' END AS last_fetch
                 FROM iv LEFT JOIN lm ON iv.canon_url = lm.canon_url),
          lf AS (SELECT *, (lastmod IS NOT NULL AND lastmod > last_fetch)
                   AS due_now,
                   CAST(1 + keeper_id % interval_waves AS BIGINT) AS due_wave
                 FROM ld)
          SELECT canon_url, n_fetches, n_variants, keeper_id,
                 interval_waves, due_wave, lastmod, last_fetch, due_now,
                 CAST(CASE WHEN due_now THEN 1 ELSE due_wave END AS BIGINT)
                   AS due_wave_eff
          FROM lf"""

  /** The recrawl ladder CTE chain (`uf` … `iv`) shared by ds_recrawl
    * and ds_recrawl_lastmod: fetched-ledger fixture (synthetic URLs +
    * the planted static/hot ledgers) → canonical fold → per-URL
    * change evidence → interval rung. */
  private lazy val recrawlLadderCtes: String = {
    val notBlocked = blockedDomains.map(d =>
      s"NOT (host = '$d' OR host LIKE '%.$d')").mkString(" AND ")
    s"""uf AS (SELECT doc_id, text, $urlSynthSqlExpr AS url
              FROM documents
              UNION ALL
              SELECT * FROM (VALUES
                (10000001, 'planted static payload',
                 'https://plant.example.com/static'),
                (10000002, 'planted static payload',
                 'https://plant.example.com/static'),
                (10000003, 'planted hot v1',
                 'https://plant.example.com/hot'),
                (10000004, 'planted hot v2',
                 'https://plant.example.com/hot'),
                (10000005, 'planted hot v3',
                 'https://plant.example.com/hot'))
                AS p(doc_id, text, url)),
          um AS (SELECT doc_id, md5(text) AS h, url FROM uf),
          c8 AS (SELECT doc_id, h, ${urlCanonSqlExpr("url")} AS cu FROM um),
          c AS (SELECT doc_id, h, ${sortParamsSqlExpr("cu")} AS canon_url
                FROM c8),
          hx AS (SELECT doc_id, h, canon_url,
                   regexp_extract(canon_url,
                     '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host
                 FROM c),
          g AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_fetches,
                       CAST(count(DISTINCT h) AS BIGINT) AS n_variants,
                       CAST(min(doc_id) AS BIGINT) AS keeper_id
                FROM hx WHERE $notBlocked GROUP BY canon_url),
          iv AS (SELECT *, CAST(CASE WHEN n_variants >= 3 THEN 1
                                     WHEN n_variants = 2 THEN 4
                                     WHEN n_fetches >= 2 THEN 64
                                     ELSE 8 END AS BIGINT) AS interval_waves
                 FROM g)"""
  }

  /** RFC 9309 §2.2.1 group choice mirrored in SQL (appended after
    * [[robotsRulesCtes]]): agent tokens per group → case-insensitive
    * token-prefix matches against the product token → longest token
    * wins per host, chosen groups REPLACE the wildcard groups,
    * no-match hosts fall back to `ra` (the `*` groups). `arules` /
    * `adelays` are the agent-scoped twins of `rules` / `delays`. */
  private val robotsAgentCtes: String =
    s"""rt AS (SELECT DISTINCT host, grp,
                 lower(trim(substr(line, strpos(line, ':') + 1))) AS tok
               FROM rg WHERE is_agent),
        rm AS (SELECT host, grp, tok FROM rt
               WHERE tok <> '*' AND tok <> ''
                 AND (tok = '$crawlProductToken'
                      OR starts_with('$crawlProductToken', tok || '-')
                      OR (ends_with(tok, '-')
                          AND starts_with('$crawlProductToken', tok)))),
        rmb AS (SELECT host, max(length(tok)) AS blen FROM rm GROUP BY host),
        rsel AS (SELECT DISTINCT rm.host, rm.grp
                 FROM rm JOIN rmb ON rm.host = rmb.host
                 WHERE length(rm.tok) = rmb.blen
                 UNION
                 SELECT ra.host, ra.grp FROM ra
                 WHERE ra.host NOT IN (SELECT host FROM rmb)),
        arules AS (SELECT DISTINCT d.host, d.prefix, d.allow FROM
                   (SELECT host, grp,
                      lower(line) LIKE 'allow:%' AS allow,
                      trim(substr(line, strpos(line, ':') + 1)) AS prefix
                    FROM rg
                    WHERE regexp_matches(lower(line), '^(disallow|allow):')) d
                   JOIN rsel ON d.host = rsel.host AND d.grp = rsel.grp
                   WHERE d.prefix <> ''),
        adelays AS (SELECT d.host, max(CAST(d.v AS BIGINT)) AS delay_s FROM
                    (SELECT host, grp,
                       trim(substr(line, strpos(line, ':') + 1)) AS v
                     FROM rg WHERE lower(line) LIKE 'crawl-delay:%') d
                    JOIN rsel ON d.host = rsel.host AND d.grp = rsel.grp
                    WHERE regexp_matches(d.v, '^[0-9]+$$')
                    GROUP BY d.host)"""


  val registry: Seq[QueryDef] = Seq(
    // recrawl scheduling: change evidence per canonical URL (each
    // engine md5s its OWN payload bytes — only the distinct COUNT
    // crosses engines) -> integer interval ladder -> staggered due wave
    QueryDef("ds_recrawl", dsRecrawl, Sql(
      s"""WITH $recrawlLadderCtes
          SELECT canon_url, n_fetches, n_variants, keeper_id,
                 interval_waves,
                 CAST(1 + keeper_id % interval_waves AS BIGINT) AS due_wave
          FROM iv""")),
    // redirect aliasing: planted /old/ 301 chains follow to their
    // final canonical URL; a final already crawled is dup_fetched,
    // an uncrawled final admits exactly once (min requested wins)
    QueryDef("ds_crawl_redirects", dsCrawlRedirects, Sql {
      def hopLevel(prev: String, cur: String): String =
        redirectHopLevelSql(prev, cur, "requested_canon")
      s"""WITH t0 AS (SELECT source, min(doc_id) AS doc_id FROM documents
                      GROUP BY source),
          t1 AS (SELECT $urlSynthSqlExpr AS url FROM t0),
          t2 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM t1),
          tg AS MATERIALIZED (SELECT ${sortParamsSqlExpr("cu")} AS target
                              FROM t2),
          hh AS (SELECT DISTINCT lower(source) || '.example.com' AS host
                 FROM documents),
          rq0 AS (SELECT regexp_replace(target,
                    '^([a-z][a-z0-9+.-]*://[^/?#]+)/', '\\1/old/')
                    AS requested FROM tg
                  UNION ALL
                  SELECT 'https://' || host || '/old/fresh' FROM hh
                  UNION ALL
                  SELECT 'https://' || host || '/old/old/fresh' FROM hh),
          rqc8 AS (SELECT ${urlCanonSqlExpr("requested")} AS cu FROM rq0),
          rg AS MATERIALIZED (SELECT requested_canon FROM
                   (SELECT ${sortParamsSqlExpr("cu")} AS requested_canon
                    FROM rqc8)
                 WHERE ${notBlockedOver(
                   "regexp_extract(requested_canon, " +
                     "'^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)")}),
          s0 AS (SELECT requested_canon, requested_canon AS cur, 0 AS n
                 FROM rg),
          ${hopLevel("s0", "s1")},
          ${hopLevel("s1", "s2")},
          ${hopLevel("s2", "s3")},
          fc8 AS (SELECT requested_canon, n, ${urlCanonSqlExpr("cur")} AS cu
                  FROM s3),
          ff AS (SELECT requested_canon,
                   ${sortParamsSqlExpr("cu")} AS final_canon,
                   CAST(n AS BIGINT) AS n_hops FROM fc8),
          cw0 AS (SELECT $urlSynthSqlExpr AS url FROM documents),
          cw8 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM cw0),
          cwx AS MATERIALIZED (SELECT DISTINCT
                   ${sortParamsSqlExpr("cu")} AS url FROM cw8),
          j AS (SELECT ff.*,
                  (ff.final_canon IN (SELECT url FROM cwx)) AS f FROM ff),
          m AS (SELECT *, min(requested_canon)
                  OVER (PARTITION BY final_canon) AS minreq FROM j)
          SELECT requested_canon, final_canon, n_hops,
                 CASE WHEN f THEN 'dup_fetched'
                      WHEN requested_canon = minreq THEN 'admitted'
                      ELSE 'dup_alias' END AS verdict
          FROM m"""
    }),
    // the alias gate composed into the frontier: candidates whose
    // followed FINAL canonical URL is already crawled are dropped;
    // redirects onto fresh content stay schedulable
    QueryDef("ds_frontier_redirects", dsFrontierRedirects, Sql(
      s"""WITH fr0 AS ($crawlFrontierSql),
          t0 AS (SELECT source, min(doc_id) AS doc_id FROM documents
                 GROUP BY source),
          t1 AS (SELECT $urlSynthSqlExpr AS url FROM t0),
          t2 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM t1),
          tg AS MATERIALIZED (SELECT ${sortParamsSqlExpr("cu")} AS target
                              FROM t2),
          hh AS (SELECT DISTINCT lower(source) || '.example.com' AS host
                 FROM documents),
          pla AS (SELECT regexp_replace(target,
                    '^([a-z][a-z0-9+.-]*://[^/?#]+)/', '\\1/old/')
                    AS url FROM tg
                  UNION ALL
                  SELECT 'https://' || host || '/old/fresh' FROM hh),
          plc8 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM pla),
          plc AS MATERIALIZED (SELECT ${sortParamsSqlExpr("cu")} AS url
                               FROM plc8),
          plg AS (SELECT url, CAST(1 AS BIGINT) AS n_refs FROM plc
                  WHERE ${notBlockedOver(
                    "regexp_extract(url, " +
                      "'^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)")}),
          cand AS MATERIALIZED (SELECT url,
                   CAST(max(n_refs) AS BIGINT) AS n_refs FROM
                   (SELECT url, n_refs FROM fr0
                    UNION ALL SELECT url, n_refs FROM plg)
                   GROUP BY url),
          s0 AS (SELECT url, n_refs, url AS cur, 0 AS n FROM cand),
          ${redirectHopLevelSql("s0", "s1", "url, n_refs")},
          ${redirectHopLevelSql("s1", "s2", "url, n_refs")},
          ${redirectHopLevelSql("s2", "s3", "url, n_refs")},
          fc8 AS (SELECT url, n_refs, ${urlCanonSqlExpr("cur")} AS cu
                  FROM s3),
          ff AS MATERIALIZED (SELECT url, n_refs,
                   ${sortParamsSqlExpr("cu")} AS final_canon FROM fc8),
          cw0 AS (SELECT $urlSynthSqlExpr AS url FROM documents),
          cw8 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM cw0),
          cwx AS MATERIALIZED (SELECT DISTINCT
                   ${sortParamsSqlExpr("cu")} AS url FROM cw8)
          SELECT url, n_refs, final_canon FROM ff
          WHERE final_canon = url
             OR final_canon NOT IN (SELECT url FROM cwx)""")),
    // rel=canonical extraction: the planted link's decoded href per
    // page (rel-first wins, entities decode, relative kept as
    // written; NULL when the page declares none)
    QueryDef("tx_extract_canonical", txExtractCanonical, Sql(
      s"""WITH $canonicalPageCtes
          SELECT doc_id, ${canonicalHrefSqlExpr("html")} AS canonical_href
          FROM pc""")),
    // in-document canonical aliasing: declared finals resolve +
    // canonicalize; a final already crawled is dup_fetched, an
    // uncrawled final admits exactly once (min requested wins)
    QueryDef("ds_crawl_canonical", dsCrawlCanonical, Sql(
      s"""WITH $canonicalPageCtes,
          rq0 AS (SELECT doc_id, html, $urlSynthSqlExpr AS url FROM pc),
          rq8 AS (SELECT html, ${urlCanonSqlExpr("url")} AS cu FROM rq0),
          rqa AS (SELECT ${sortParamsSqlExpr("cu")} AS requested_canon,
                    html FROM rq8),
          rq AS MATERIALIZED (SELECT * FROM rqa
                 WHERE ${notBlockedOver(
                   "regexp_extract(requested_canon, " +
                     "'^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)")}),
          hx AS MATERIALIZED (SELECT requested_canon,
                   ${canonicalHrefSqlExpr("html")} AS href FROM rq),
          dx AS MATERIALIZED (SELECT requested_canon,
                   ${resolveHrefSqlExpr("requested_canon", "href")} AS rh
                 FROM hx WHERE href IS NOT NULL),
          fc8 AS (SELECT requested_canon, ${urlCanonSqlExpr("rh")} AS cu
                  FROM dx),
          ff AS MATERIALIZED (SELECT DISTINCT requested_canon, final_canon
                 FROM
                   (SELECT requested_canon,
                      ${sortParamsSqlExpr("cu")} AS final_canon FROM fc8)
                 WHERE final_canon IS NOT NULL
                   AND final_canon <> requested_canon),
          cw0 AS (SELECT $urlSynthSqlExpr AS url FROM documents),
          cw8 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM cw0),
          cwx AS MATERIALIZED (SELECT DISTINCT
                   ${sortParamsSqlExpr("cu")} AS url FROM cw8),
          j AS (SELECT ff.*,
                  (ff.final_canon IN (SELECT url FROM cwx)) AS f FROM ff),
          m AS (SELECT *, min(requested_canon)
                  OVER (PARTITION BY final_canon) AS minreq FROM j)
          SELECT requested_canon, final_canon,
                 CASE WHEN f THEN 'dup_fetched'
                      WHEN requested_canon = minreq THEN 'admitted'
                      ELSE 'dup_alias' END AS verdict
          FROM m""")),
    // meta-robots extraction: directive value per page (NULL when
    // undeclared) + the noindex/nofollow token flags
    QueryDef("tx_meta_robots", txMetaRobots, Sql(
      s"""WITH mh AS (SELECT doc_id,
                 replace($pageSynthSqlExpr, '</head>',
                   $metaRobotsHeadSqlCase || '</head>') AS html
               FROM documents),
          mrx AS MATERIALIZED (SELECT doc_id,
                   ${metaRobotsSqlExpr("html")} AS robots_content FROM mh)
          SELECT doc_id, robots_content,
                 ${robotsTokenSqlExpr("robots_content", "noindex")} AS noindex,
                 ${robotsTokenSqlExpr("robots_content", "nofollow")} AS nofollow
          FROM mrx""")),
    // the noindex gate composed into the crawl front door: a noindex
    // page is excluded from survivors as its own verdict, its links
    // still feed discovery unless nofollow zeroes them
    QueryDef("ds_crawl_noindex", dsCrawlNoindex, Sql {
      val ntok = "CASE WHEN e.main_text = '' THEN 0 " +
        "ELSE len(string_split_regex(e.main_text, '[ \\n]')) END"
      s"""WITH $urlSynthCte,
          cu8 AS (SELECT d.doc_id, d.text, d.source,
                   ${urlCanonSqlExpr("u.url")} AS cu
                 FROM u JOIN documents d ON u.doc_id = d.doc_id),
          cu AS (SELECT doc_id, text, source,
                   ${sortParamsSqlExpr("cu")} AS canon_url FROM cu8),
          hh AS (SELECT *, regexp_extract(canon_url,
                   '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host FROM cu),
          w AS (SELECT canon_url, min(doc_id) AS doc_id,
                       CAST(count(*) AS BIGINT) AS n_fetches
                FROM hh WHERE ${notBlockedOver("host")} GROUP BY canon_url),
          wd AS (SELECT w.canon_url, w.n_fetches, d.doc_id, d.text, d.source
                 FROM w JOIN documents d ON w.doc_id = d.doc_id),
          wh AS MATERIALIZED (SELECT doc_id, canon_url, n_fetches,
                 replace($pageSynthSqlExpr, '</head>',
                   $metaRobotsHeadSqlCase || '</head>') AS html
               FROM wd),
          mrx AS MATERIALIZED (SELECT doc_id, canon_url, n_fetches,
                   ${metaRobotsSqlExpr("html")} AS mrc FROM wh),
          fl AS (SELECT doc_id, canon_url, n_fetches,
                   ${robotsTokenSqlExpr("mrc", "noindex")} AS noidx,
                   ${robotsTokenSqlExpr("mrc", "nofollow")} AS nofo
                 FROM mrx)
          SELECT e.doc_id, fl.canon_url, fl.n_fetches,
                 CAST($ntok AS BIGINT) AS n_tokens,
                 CASE WHEN fl.noidx THEN 'noindex'
                      WHEN ($ntok) >= ${crawlMinTokens} THEN 'kept'
                      ELSE 'thin' END AS verdict,
                 CAST(CASE WHEN fl.nofo THEN 0 ELSE e.n_links END AS BIGINT)
                   AS followed_links
          FROM ${htmlExtractOverHtmlSql("wh")} e
          JOIN fl ON e.doc_id = fl.doc_id"""
    }),
    // the sitemap <lastmod> signal consumed: a fresh lastmod makes
    // the URL due at the NEXT wave regardless of its ladder rung;
    // absent/stale lastmod falls back to the observed-change ladder
    QueryDef("ds_recrawl_lastmod", dsRecrawlLastmod, Sql(recrawlLastmodSql)),
    // transient-failure retry ladder (r20): planted n_fail/b evidence,
    // the shared exponential-backoff arithmetic, attempt-cap drops
    QueryDef("ds_retry_ladder", dsRetryLadder, Sql(
      """WITH d AS (SELECT doc_id, doc_id % 6 AS n_fail, doc_id % 9 AS b
                    FROM documents WHERE doc_id % 6 <> 0),
          w AS (SELECT doc_id, n_fail, b,
                  CAST(least(64, CAST(pow(2, least(greatest(n_fail - 1, 0),
                    6)) AS BIGINT)) AS BIGINT) AS backoff_waves
                FROM d)
          SELECT doc_id, CAST(n_fail AS BIGINT) AS n_fail,
                 CAST(b AS BIGINT) AS b, backoff_waves,
                 n_fail > 4 AS dropped,
                 n_fail <= 4 AND 16 - b >= backoff_waves AS due
          FROM w""")),
    // validator demotion: each consecutive unchanged observation
    // (HTTP 304 / identical payload) doubles the recrawl interval —
    // min(64, rung * 2^min(streak, 6)); corpus rows at streak 0 keep
    // their rung, planted streaks exercise the decay and both caps
    QueryDef("ds_recrawl_validators", dsRecrawlValidators, Sql(
      s"""WITH $recrawlLadderCtes,
          vb AS (SELECT canon_url, n_fetches, n_variants, interval_waves,
                   CAST(0 AS BIGINT) AS n_unmod FROM iv),
          vh AS (SELECT DISTINCT lower(source) || '.example.com' AS host
                 FROM documents),
          vp AS (SELECT 'https://' || host || '/validated/' ||
                   CAST(k AS VARCHAR) AS canon_url,
                   CAST(k + 2 AS BIGINT) AS n_fetches,
                   CAST(2 AS BIGINT) AS n_variants,
                   CAST(4 AS BIGINT) AS interval_waves,
                   CAST(k AS BIGINT) AS n_unmod
                 FROM (SELECT host, unnest(range(0, 4)) AS k FROM vh)
                 UNION ALL
                 SELECT 'https://' || host || '/validated/cap',
                   CAST(9 AS BIGINT), CAST(2 AS BIGINT), CAST(4 AS BIGINT),
                   CAST(7 AS BIGINT) FROM vh),
          va AS (SELECT * FROM vb UNION ALL SELECT * FROM vp)
          SELECT canon_url, n_fetches, n_variants, n_unmod, interval_waves,
                 least(64, interval_waves *
                   CAST(pow(2, least(n_unmod, 6)) AS BIGINT)) AS interval_eff
          FROM va""")),
    // link discovery: synth page → anchor hrefs (document order) →
    // RFC 3986 reference resolution against the page's canonical base
    QueryDef("tx_extract_links", txExtractLinks, Sql(
      s"""WITH $linkCtes
          SELECT doc_id, CAST(pos AS INT) AS pos, href,
                 ${resolveHrefSqlExpr("base", "href")} AS abs_url
          FROM lk""")),
    // the crawl frontier: winners' outbound links resolved +
    // canonicalized, blocklisted, anti-joined against the crawled
    // set, grouped with their in-link evidence
    QueryDef("ds_crawl_frontier", dsCrawlFrontier, Sql(crawlFrontierSql)),
    // OPIC one-round frontier priority: integer floor-divided cash
    // shares per referrer, receipts summed per uncrawled candidate
    QueryDef("ds_frontier_opic", dsFrontierOpic, Sql(frontierOpicSql)),
    // crawl-trap detection: URL-template (digit runs -> N) fan-out
    // per host over frontier + planted calendar candidates
    QueryDef("ds_crawl_traps", dsCrawlTraps, Sql(
      s"""WITH f AS ($crawlFrontierSql),
          th AS (SELECT DISTINCT lower(source) || '.example.com' AS host,
                        (length(source) % 4) * 20 AS tn,
                        (length(source) % 3) * 10 AS an FROM documents),
          pl AS (SELECT 'https://' || host || '/cal?d=' ||
                        CAST(x AS VARCHAR) AS url,
                        CAST(1 AS BIGINT) AS n_refs
                 FROM (SELECT host, unnest(range(0, tn)) AS x FROM th)
                 UNION ALL
                 SELECT 'https://' || host || '/archive?page=' ||
                        CAST(x AS VARCHAR) AS url,
                        CAST(${trapWhitelistRefs + 1} AS BIGINT) AS n_refs
                 FROM (SELECT host, unnest(range(0, an)) AS x FROM th)),
          au AS (SELECT url, n_refs FROM f
                 UNION ALL SELECT url, n_refs FROM pl),
          t AS (SELECT
                  regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                    AS host,
                  regexp_replace(regexp_replace(url,
                    '^[a-z][a-z0-9+.-]*://[^/?#]+', ''),
                    '[0-9]+', 'N', 'g') AS template,
                  n_refs FROM au)
          SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls,
                 CAST(sum(n_refs) AS BIGINT) AS sum_refs,
                 count(*) >= ${trapMinUrls} AS trap,
                 (count(*) >= ${trapMinUrls} AND
                  sum(n_refs) >= count(*) * ${trapWhitelistRefs})
                   AS whitelisted
          FROM t GROUP BY host, template""")),
    // the trap gate composed: candidates minus flagged templates —
    // flagged = high fan-out AND evidence-per-URL under the
    // whitelist bar (a heavily-linked archive pagination survives)
    QueryDef("ds_frontier_gated", dsFrontierGated, Sql(
      s"""WITH f AS ($crawlFrontierSql),
          th AS (SELECT DISTINCT lower(source) || '.example.com' AS host,
                        (length(source) % 4) * 20 AS tn,
                        (length(source) % 3) * 10 AS an FROM documents),
          pl AS (SELECT 'https://' || host || '/cal?d=' ||
                        CAST(x AS VARCHAR) AS url,
                        CAST(1 AS BIGINT) AS n_refs
                 FROM (SELECT host, unnest(range(0, tn)) AS x FROM th)
                 UNION ALL
                 SELECT 'https://' || host || '/archive?page=' ||
                        CAST(x AS VARCHAR) AS url,
                        CAST(${trapWhitelistRefs + 1} AS BIGINT) AS n_refs
                 FROM (SELECT host, unnest(range(0, an)) AS x FROM th)),
          au AS (SELECT url, n_refs FROM f
                 UNION ALL SELECT url, n_refs FROM pl),
          t AS (SELECT url, n_refs,
                  regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                    AS host,
                  regexp_replace(regexp_replace(url,
                    '^[a-z][a-z0-9+.-]*://[^/?#]+', ''),
                    '[0-9]+', 'N', 'g') AS template
                FROM au),
          tr AS (SELECT host, template FROM t
                 GROUP BY host, template
                 HAVING count(*) >= ${trapMinUrls}
                    AND sum(n_refs) < count(*) * ${trapWhitelistRefs})
          SELECT url, n_refs, host FROM t
          WHERE NOT EXISTS (SELECT 1 FROM tr
                            WHERE tr.host = t.host
                              AND tr.template = t.template)""")),
    // robots parsing: the wildcard-agent Disallow AND Allow rule
    // table (RFC 9309 §2.2.2 — shared agent groups, case-varied
    // directives, inline comments, an Allow carve-out)
    QueryDef("tx_robots_rules", txRobotsRules, Sql(
      s"""WITH $robotsRulesCtes
          SELECT host, prefix, allow FROM rules""")),
    // RFC 9309 robots fetch-status semantics (r20): 200 hosts replay
    // the parse, 404 hosts vanish (no restrictions), 503 hosts
    // collapse to the complete-disallow rule
    QueryDef("tx_robots_status", txRobotsStatus, Sql(
      s"""WITH $robotsRulesCtes,
          hs AS (SELECT DISTINCT lower(source) || '.example.com' AS host,
                   CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 4
                     AS m
                 FROM documents)
          SELECT r.host, r.prefix, r.allow
          FROM rules r JOIN hs ON r.host = hs.host
          WHERE hs.m = 0 OR hs.m = 3
          UNION ALL
          SELECT host, '/' AS prefix, FALSE AS allow FROM hs WHERE m = 2""")),
    // wildcard-agent Crawl-delay per host (numeric values only, max
    // across groups; other agents' delays must not leak in)
    QueryDef("tx_robots_delays", txRobotsDelays, Sql(
      s"""WITH $robotsRulesCtes
          SELECT host, delay_s FROM delays""")),
    // Sitemap references: group-UNscoped (RFC 9309 §2.3), comment-
    // stripped, case-insensitive directive, value kept verbatim
    QueryDef("tx_robots_sitemaps", txRobotsSitemaps, Sql(
      s"""WITH $robotsRulesCtes
          SELECT host, sitemap_url FROM sitemaps""")),
    // RFC 9309 §2.2.1 product-token group choice: longest matching
    // token-prefix wins and REPLACES the wildcard group; substring
    // non-matches and no-match hosts fall back to '*'
    QueryDef("tx_robots_agent_rules", txRobotsAgentRules, Sql(
      s"""WITH $robotsRulesCtes, $robotsAgentCtes
          SELECT host, prefix, allow FROM arules""")),
    QueryDef("tx_robots_agent_delays", txRobotsAgentDelays, Sql(
      s"""WITH $robotsRulesCtes, $robotsAgentCtes
          SELECT host, delay_s FROM adelays""")),
    // sitemap CONTENT: <loc> extraction (whitespace-insensitive,
    // document order) + one-pass XML predefined-entity decode, &amp;
    // last so &amp;amp; yields a literal &amp;
    QueryDef("tx_sitemap_locs", txSitemapLocs, Sql(
      s"""WITH rh AS (SELECT DISTINCT lower(source) || '.example.com' AS host,
                             source FROM documents),
          sb AS (SELECT host, $sitemapBodySqlExpr AS xml FROM rh),
          lx AS (SELECT host,
                   generate_subscripts(regexp_extract_all(xml,
                     '<loc>\\s*([^<]*?)\\s*</loc>', 1), 1) - 1 AS pos,
                   unnest(regexp_extract_all(xml,
                     '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS raw
                 FROM sb)
          SELECT host, CAST(pos AS INT) AS pos,
                 replace(replace(replace(replace(replace(raw,
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&apos;', ''''), '&amp;', '&') AS loc_url
          FROM lx""")),
    // sitemap-index routing: even-length sources serve the flat
    // <urlset> fixture, odd-length the <sitemapindex> fixture; kind is
    // a FILE-level property (the protocol forbids mixing entry kinds)
    // inherited by every <loc>
    QueryDef("tx_sitemap_index", txSitemapIndex, Sql(
      s"""WITH $sitemapAltBodiesCtes,
          lx AS (SELECT host,
                   CASE WHEN regexp_matches(xml, '<sitemapindex[\\s>]')
                        THEN 'index' ELSE 'urlset' END AS kind,
                   generate_subscripts(regexp_extract_all(xml,
                     '<loc>\\s*([^<]*?)\\s*</loc>', 1), 1) - 1 AS pos,
                   unnest(regexp_extract_all(xml,
                     '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS raw
                 FROM sb)
          SELECT host, kind, CAST(pos AS INT) AS pos,
                 replace(replace(replace(replace(replace(raw,
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&apos;', ''''), '&amp;', '&') AS loc_url
          FROM lx""")),
    // per-entry sitemap metadata: whole <url>/<sitemap> blocks so
    // each <lastmod> binds to ITS OWN entry's <loc>; entries without
    // one yield NULL (every child element but loc is optional)
    QueryDef("tx_sitemap_meta", txSitemapMeta, Sql(
      s"""WITH $sitemapAltBodiesCtes,
          bx AS (SELECT host,
                   CASE WHEN regexp_matches(xml, '<sitemapindex[\\s>]')
                        THEN 'index' ELSE 'urlset' END AS kind,
                   generate_subscripts(regexp_extract_all(xml,
                     '(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1), 1)
                     - 1 AS pos,
                   unnest(regexp_extract_all(xml,
                     '(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1)) AS blk
                 FROM sb)
          SELECT host, kind, CAST(pos AS INT) AS pos,
                 replace(replace(replace(replace(replace(
                   regexp_extract(blk, '<loc>\\s*([^<]*?)\\s*</loc>', 1),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&apos;', ''''), '&amp;', '&') AS loc_url,
                 nullif(regexp_extract(blk,
                   '<lastmod>\\s*([^<]*?)\\s*</lastmod>', 1), '') AS lastmod
          FROM bx""")),
    // batch sitemap seeding with index recursion: urlset locs seed
    // directly; an index body's locs are CHILD sitemaps whose fetched
    // bodies' locs seed instead — an XML child URL never seeds
    QueryDef("tx_sitemap_seeds_recursive", txSitemapSeedsRecursive, Sql(
      s"""WITH $sitemapAltBodiesCtes,
          fl AS (SELECT host, 'urlset' AS via,
                   unnest(regexp_extract_all(xml,
                     '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS raw
                 FROM sb WHERE NOT regexp_matches(xml, '<sitemapindex[\\s>]')),
          ic AS (SELECT rh.host, rh.source,
                   unnest(regexp_extract_all(sb.xml,
                     '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS child
                 FROM sb JOIN rh USING (host)
                 WHERE regexp_matches(sb.xml, '<sitemapindex[\\s>]')),
          il AS (SELECT host, 'index' AS via,
                   unnest(regexp_extract_all($sitemapBodySqlExpr,
                     '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS raw
                 FROM ic),
          al AS (SELECT host, via, raw FROM fl
                 UNION ALL SELECT host, via, raw FROM il),
          dl AS (SELECT host, via,
                   replace(replace(replace(replace(replace(raw,
                     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                     '&apos;', ''''), '&amp;', '&') AS loc FROM al),
          sc8 AS (SELECT host, via, ${urlCanonSqlExpr("loc")} AS cu FROM dl)
          SELECT DISTINCT host, via, ${sortParamsSqlExpr("cu")} AS url
          FROM sc8""")),
    // the frontier under robots with LONGEST-MATCH precedence: among
    // the matching prefixes the longest wins, Allow winning length
    // ties — encoded as max(length*2 + allow_bit) per candidate path
    QueryDef("ds_crawl_robots", dsCrawlRobots, Sql(
      s"""WITH f AS ($crawlFrontierSql), $robotsRulesCtes,
          fp AS (SELECT f.*,
                   regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                     AS fhost,
                   regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/?#]+', '')
                     AS fpath
                 FROM f),
          blk AS (SELECT fhost, fpath FROM
                  (SELECT fp.fhost, fp.fpath,
                     max(length(r.prefix) * 2 +
                         CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
                   FROM fp JOIN rpat r ON r.host = fp.fhost
                     AND fp.fpath LIKE r.pat ESCAPE '\\'
                   GROUP BY fp.fhost, fp.fpath)
                  WHERE best % 2 = 0)
          SELECT url, n_refs, n_referrers, first_referrer FROM fp
          WHERE NOT EXISTS (SELECT 1 FROM blk
                            WHERE blk.fhost = fp.fhost
                              AND blk.fpath = fp.fpath)""")),
    // Crawl-delay-aware scheduling: per-host wave caps derived from
    // the delay table (cap = max(1, wavePeriod / delay), default
    // crawlPerHostPerWave when a host publishes no delay)
    QueryDef("ds_crawl_delay", dsCrawlDelay, Sql(crawlDelaySql)),
    // the r19 wide (mega-host) schedule replays the SAME oracle text:
    // the rank decomposition is a plan-shape choice, never a result
    // change — the driver hash-checks that claim every round
    QueryDef("ds_crawl_delay_wide", dsCrawlDelayWide, Sql(crawlDelaySql)),
    // IP/server-level politeness (r20): grouped hosts share one wave
    // budget under the strictest member cap; ungrouped hosts replay
    // ds_crawl_delay exactly
    QueryDef("ds_crawl_delay_ip", dsCrawlDelayIp, Sql(crawlDelayIpSql)),
    // the composed politeness front door: frontier → robots access
    // filter (most-specific-match, wildcards) → delay-derived wave
    // caps — ONE replay of the chain the three sibling rows price
    // stage by stage
    QueryDef("ds_crawl_polite", dsCrawlPolite, Sql(
      s"""WITH f AS ($crawlFrontierSql), $robotsRulesCtes,
          fp AS (SELECT f.*,
                   regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                     AS fhost,
                   regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/?#]+', '')
                     AS fpath
                 FROM f),
          blk AS (SELECT fhost, fpath FROM
                  (SELECT fp.fhost, fp.fpath,
                     max(length(r.prefix) * 2 +
                         CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
                   FROM fp JOIN rpat r ON r.host = fp.fhost
                     AND fp.fpath LIKE r.pat ESCAPE '\\'
                   GROUP BY fp.fhost, fp.fpath)
                  WHERE best % 2 = 0),
          keep AS (SELECT fp.url, fp.n_refs, fp.fhost FROM fp
                   WHERE NOT EXISTS (SELECT 1 FROM blk
                                     WHERE blk.fhost = fp.fhost
                                       AND blk.fpath = fp.fpath)),
          caps AS (SELECT host,
                     greatest(1, $crawlWavePeriodSec // delay_s) AS cap
                   FROM delays),
          j AS (SELECT k.url, k.n_refs AS priority, k.fhost AS host,
                  greatest(coalesce(caps.cap, $crawlPerHostPerWave), 1) AS cap
                FROM keep k LEFT JOIN caps ON k.fhost = caps.host)
          SELECT url, priority, host, cap,
                 CAST((row_number() OVER (PARTITION BY host
                        ORDER BY priority DESC, url) - 1) // cap AS BIGINT)
                   AS wave
          FROM j""")),
    // the seeded politeness composite: sitemap locs (canonicalized) +
    // one planted already-fetched URL per host join the frontier at
    // evidence 0, fetched seeds excluded, then the same robots + caps
    // tail as ds_crawl_polite over the merged candidate pool
    QueryDef("ds_crawl_polite_seeded", dsCrawlPoliteSeeded, Sql(
      s"""WITH f AS ($crawlFrontierSql), $robotsRulesCtes,
          sdb AS (SELECT host, $sitemapBodySqlExpr AS xml FROM rh),
          sdl AS (SELECT unnest(regexp_extract_all(xml,
                    '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS raw FROM sdb),
          sdd AS (SELECT replace(replace(replace(replace(replace(raw,
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&apos;', ''''), '&amp;', '&') AS loc FROM sdl),
          sd8 AS (SELECT ${urlCanonSqlExpr("loc")} AS cu FROM sdd),
          sdc AS (SELECT DISTINCT ${sortParamsSqlExpr("cu")} AS url FROM sd8),
          sdm AS (SELECT min(doc_id) AS doc_id, source FROM documents
                  GROUP BY source),
          sdu AS (SELECT $urlSynthSqlExpr AS url FROM sdm),
          sdp8 AS (SELECT ${urlCanonSqlExpr("url")} AS cu FROM sdu),
          sdp AS (SELECT ${sortParamsSqlExpr("cu")} AS url FROM sdp8),
          sds AS (SELECT url FROM sdc UNION SELECT url FROM sdp),
          sco8 AS (SELECT ${urlCanonSqlExpr("u2.url")} AS cu FROM
                   (SELECT $urlSynthSqlExpr AS url FROM documents) u2),
          sco AS (SELECT DISTINCT ${sortParamsSqlExpr("cu")} AS url FROM sco8),
          sdlive AS (SELECT url FROM sds
                     WHERE url NOT IN (SELECT url FROM sco)),
          scand AS (SELECT url, CAST(max(n_refs) AS BIGINT) AS n_refs FROM
                    (SELECT url, n_refs FROM f
                     UNION ALL SELECT url, 0 AS n_refs FROM sdlive)
                    GROUP BY url),
          fp AS (SELECT scand.*,
                   regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                     AS fhost,
                   regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/?#]+', '')
                     AS fpath
                 FROM scand),
          blk AS (SELECT fhost, fpath FROM
                  (SELECT fp.fhost, fp.fpath,
                     max(length(r.prefix) * 2 +
                         CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
                   FROM fp JOIN rpat r ON r.host = fp.fhost
                     AND fp.fpath LIKE r.pat ESCAPE '\\'
                   GROUP BY fp.fhost, fp.fpath)
                  WHERE best % 2 = 0),
          keep AS (SELECT fp.url, fp.n_refs, fp.fhost FROM fp
                   WHERE NOT EXISTS (SELECT 1 FROM blk
                                     WHERE blk.fhost = fp.fhost
                                       AND blk.fpath = fp.fpath)),
          caps AS (SELECT host,
                     greatest(1, $crawlWavePeriodSec // delay_s) AS cap
                   FROM delays),
          j AS (SELECT k.url, k.n_refs AS priority, k.fhost AS host,
                  greatest(coalesce(caps.cap, $crawlPerHostPerWave), 1) AS cap
                FROM keep k LEFT JOIN caps ON k.fhost = caps.host)
          SELECT url, priority, host, cap,
                 CAST((row_number() OVER (PARTITION BY host
                        ORDER BY priority DESC, url) - 1) // cap AS BIGINT)
                   AS wave
          FROM j""")),
    // THE production wave: discovery + seeds + trap bait -> trap gate
    // -> fetch-ledger domain gate -> agent-scoped robots -> agent
    // Crawl-delay wave caps, one plan (w-prefixed CTEs are
    // collision-free vs the shared robots/frontier names)
    QueryDef("ds_crawl_wave", dsCrawlWave, Sql(crawlWaveSqlText(withDue = false))),
    // the wave plus the freshness half: recrawl-due refetches at
    // evidence 0 through every gate (batch twin of nextWave(recrawl))
    QueryDef("ds_crawl_wave_fresh", dsCrawlWaveFresh, Sql(crawlWaveSqlText(withDue = true))),
    // wave-density invariant twin: per (host, cap) histogram of the
    // delay schedule + the dense/capped invariants, derived by each
    // engine from its OWN schedule replay
    QueryDef("ds_crawl_waves", dsCrawlWaves, Sql(
      s"""WITH f AS ($crawlFrontierSql), $robotsRulesCtes,
          caps AS (SELECT host,
                     greatest(1, $crawlWavePeriodSec // delay_s) AS cap
                   FROM delays),
          c AS (SELECT url, n_refs AS priority,
                  regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                    AS host
                FROM f),
          j AS (SELECT c.url, c.priority, c.host,
                  greatest(coalesce(caps.cap, $crawlPerHostPerWave), 1) AS cap
                FROM c LEFT JOIN caps ON c.host = caps.host),
          sched AS (SELECT url, priority, host, cap,
                      CAST((row_number() OVER (PARTITION BY host
                             ORDER BY priority DESC, url) - 1) // cap
                        AS BIGINT) AS wave
                    FROM j),
          pw AS (SELECT host, cap, wave, count(*) AS n FROM sched
                 GROUP BY host, cap, wave)
          SELECT host, cap, CAST(sum(n) AS BIGINT) AS n_urls,
                 CAST(count(*) AS BIGINT) AS n_waves,
                 max(wave) AS max_wave, CAST(max(n) AS BIGINT) AS max_per_wave,
                 (max(wave) = count(*) - 1) AS dense,
                 (max(n) <= cap) AS capped
          FROM pw GROUP BY host, cap""")),
    // politeness scheduling: frontier → per-host fetch waves capped
    // at crawlPerHostPerWave, priority = in-link count
    QueryDef("ds_crawl_schedule", dsCrawlSchedule, Sql(
      s"""WITH f AS ($crawlFrontierSql)
          SELECT url, regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                   AS host,
                 n_refs AS priority,
                 (row_number() OVER (PARTITION BY
                    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                    ORDER BY n_refs DESC, url) - 1) // $crawlPerHostPerWave
                   AS wave
          FROM f""")),
    // the crawl front door COMPOSED in one plan: URL canon →
    // blocklist → keep-first (payload rides the min-struct through
    // the one shuffle — no corpus join-back) → HTML extraction over
    // the winners → thin-content verdict (shared with the host-stats
    // twin below)
    QueryDef("ds_crawl", dsCrawl, Sql(crawlCompositeSql)),
    // the byte-fed front door (r20): WARC → HTTP → charset → the same
    // cascade — the oracle is ds_crawl's SQL text VERBATIM, so the
    // byte chain must compute exactly the fixture-frame answer
    QueryDef("ds_crawl_warc", dsCrawlFromWarc, Sql(crawlCompositeSql)),
    // charset decision replay (r20): the mixed-encoding fixture's
    // arithmetic — variant from doc_id % 5, declaration + marker per
    // variant, the decoded text reconstructed as the SAME Unicode
    // string (chr(233) = é, chr(8220/8221) = the cp1252 curly quotes)
    QueryDef("tx_charset", txCharset, Sql(
      """WITH v AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS v, text
                    FROM documents),
          pg AS (SELECT doc_id, v,
                   '<html><head>' ||
                   (CASE v WHEN 2 THEN '<meta charset="ISO-8859-1"/>'
                         WHEN 3 THEN '<meta http-equiv="Content-Type" content="text/html; charset=windows-1252"/>'
                         ELSE '' END) ||
                   '</head><body><p>caf' || chr(233) ||
                   (CASE WHEN v = 3 THEN ' ' || chr(8220) || 'q' || chr(8221)
                         ELSE '' END) ||
                   ' ' || text || '</p></body></html>' AS page
                 FROM v)
          SELECT doc_id,
                 (CASE v WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
                       WHEN 3 THEN 'windows-1252'
                       ELSE 'iso-8859-1' END) AS charset,
                 v = 1 AS had_bom,
                 v <> 0 AS was_transcoded,
                 CAST(length(page) AS BIGINT) AS n_chars,
                 page AS text
          FROM pg""")),
    // WARC layout replay (r20): record order (warcinfo, then
    // request/response pairs in doc_id order), ids, target URIs and
    // Content-Lengths from the same envelope literals the builder uses
    QueryDef("tx_warc_records", txWarcRecords, Sql(
      s"""WITH d AS (SELECT doc_id, doc_id // 10 AS warc_id,
                       CAST(row_number() OVER (PARTITION BY doc_id // 10
                         ORDER BY doc_id) - 1 AS INT) AS j,
                       octet_length(encode(text)) AS len,
                       $urlSynthSqlExpr AS url
                     FROM documents),
          info AS (SELECT DISTINCT warc_id, 0 AS rec_idx,
                     'warcinfo' AS warc_type,
                     'urn:graft:warc:' || CAST(warc_id AS VARCHAR) AS record_id,
                     CAST(NULL AS VARCHAR) AS target_uri,
                     CAST(octet_length(encode('software: graft-crawler/1.0'
                       || chr(13) || chr(10))) AS BIGINT) AS content_length
                   FROM d),
          reqs AS (SELECT warc_id, 1 + 2*j AS rec_idx,
                     'request' AS warc_type,
                     'urn:graft:req:' || CAST(doc_id AS VARCHAR) AS record_id,
                     url AS target_uri,
                     CAST(octet_length(encode('GET / HTTP/1.1' || chr(13) || chr(10)
                       || 'Host: example' || chr(13) || chr(10)
                       || chr(13) || chr(10))) AS BIGINT) AS content_length
                   FROM d),
          resps AS (SELECT warc_id, 2 + 2*j AS rec_idx,
                      'response' AS warc_type,
                      'urn:graft:resp:' || CAST(doc_id AS VARCHAR) AS record_id,
                      url AS target_uri,
                      CAST(octet_length(encode('HTTP/1.1 200 OK' || chr(13) || chr(10)
                        || 'Content-Type: text/html' || chr(13) || chr(10)
                        || chr(13) || chr(10))) + len AS BIGINT) AS content_length
                    FROM d)
          SELECT * FROM info UNION ALL
          SELECT * FROM reqs UNION ALL
          SELECT * FROM resps""")),
    // domain-level quality gate (the C4/RefinedWeb "domain filtering"
    // step): per-host crawl verdict stats + an INTEGER-exact keep-rate
    // gate (2·kept >= pages ⇔ rate >= 50% — no float boundary to flip)
    QueryDef("ds_host_quality", dsHostQuality, Sql(
      s"""WITH c AS ($crawlCompositeSql),
          h AS (SELECT regexp_extract(canon_url,
                  '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host,
                  n_fetches, n_tokens,
                  CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END AS k
                FROM c)
          SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
                 CAST(sum(k) AS BIGINT) AS n_kept,
                 CAST(sum(n_fetches) AS BIGINT) AS n_fetches,
                 CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                 (2 * sum(k) >= count(*)) AS quality_ok
          FROM h GROUP BY host""")),
    // the C4 gate-first curation composite: crawl front door →
    // per-host integer keep-rate gate → repetition/LM/dedup audit over
    // the SURVIVORS only (dedup competes inside the gated set);
    // verdicts: domain | thin | repetition | lm | duplicate | kept
    QueryDef("ds_curate_domain", dsCurateDomain, Sql(
      // outer CTE names are deliberately collision-free vs the names
      // NESTED inside the spliced curation SQL (d/s/g/rep/…): DuckDB
      // 1.0's binder mis-resolves a same-name CTE across nesting
      // levels here (reported as a bogus circular-reference error)
      s"""WITH cdc AS MATERIALIZED ($crawlCompositeSql),
          cdw AS (SELECT cdc.*, regexp_extract(canon_url,
                  '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host
                FROM cdc),
          cdh AS (SELECT host,
                   (100 * sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
                      >= $domainKeepPct * count(*)) AS domain_ok
                 FROM cdw GROUP BY host),
          cdg AS MATERIALIZED (SELECT cdw.doc_id, cdw.host,
                       cdw.verdict AS page_verdict, cdh.domain_ok
                FROM cdw JOIN cdh ON cdw.host = cdh.host),
          cdsurv AS MATERIALIZED (SELECT dd0.doc_id, dd0.text
                   FROM documents dd0
                   JOIN cdg ON dd0.doc_id = cdg.doc_id
                   WHERE cdg.domain_ok AND cdg.page_verdict = 'kept'),
          cdcur AS (${curateVerdictSqlOver("cdsurv")})
          SELECT cdg.doc_id, cdg.host,
                 CASE WHEN NOT cdg.domain_ok THEN 'domain'
                      WHEN cdg.page_verdict = 'thin' THEN 'thin'
                      ELSE cdcur.verdict END AS verdict
          FROM cdg LEFT JOIN cdcur ON cdg.doc_id = cdcur.doc_id""")))
}
