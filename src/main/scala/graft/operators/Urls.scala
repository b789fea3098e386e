package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + URL-level dedup — the C4-style first stage
  * of a crawl pipeline, BEFORE any content dedup runs: normalize each
  * page's URL, drop blocklisted domains, and keep one fetch per
  * canonical URL. (Reference scope note: the candy pipeline has no
  * crawl stage; this belongs to the LLM-training-data surface the
  * library claims, like operators/Html.)
  *
  * The canonicalization CONTRACT is a closed-form cascade — pure
  * projections (regex + array ops), oracle-replayable, no UDF:
  *
  *  1. trim surrounding whitespace
  *  2. normalize percent-escapes: decode `%XX` when XX is an RFC 3986
  *     UNRESERVED codepoint (ALPHA / DIGIT / `-._~`), uppercase the
  *     hex of every other escape (`%3f` → `%3F`); `%` followed by
  *     non-hex stays literal. Decoding runs FIRST so a decoded letter
  *     flows through the case-folding below (idempotence: a second
  *     pass must find nothing left to decode or re-case)
  *  3. lowercase the `scheme://authority` prefix (path/query stay
  *     case-sensitive per RFC 3986)
  *  4. strip a leading `www.` from http(s) hosts
  *  5. strip the fragment (`#…`)
  *  6. strip the scheme's default port (`:80` for http, `:443` for
  *     https — a default port on the OTHER scheme is meaningful and
  *     kept)
  *  7. strip tracking parameters (`utm_*`, `gclid`, `fbclid`,
  *     `ref`), wherever they sit in the query string, dropping the
  *     `?` when nothing survives
  *  8. strip trailing `/` runs at the end of the URL or directly
  *     before the query
  *  9. sort query parameters byte-lexicographically (`?b=2&a=1` and
  *     `?a=1&b=2` are the same resource); an EMPTY query (`…?`)
  *     canonicalizes to no `?` at all
  *
  * Scale shape: canonicalization is a projection over the crawl
  * manifest (no shuffle); [[dedupByUrl]] then pays exactly ONE
  * shuffle keyed on the canonical URL, with map-side combine (min +
  * count partials) so shuffle volume is one row per distinct URL per
  * task — the minimal honest cost of a global keep-first. The
  * blocklist gate runs BEFORE the exchange, so blocked fetches never
  * shuffle at all.
  */
object Urls {

  /** Query parameters that never identify content. */
  val trackingParamsRe = "utm_[a-z0-9_]*|gclid|fbclid|ref"

  /** Step 2: percent-escape normalization — the `graft_url_pct`
    * byte-walk kernel ([[graft.plans.UrlNorm.percentNorm]]). The first r14
    * form was a split + higher-order `transform` — interpreted
    * (CodegenFallback), and because the cascade is INLINED several
    * times in the dedup plan (see [[dedupByUrl]]'s plan-shape note)
    * the fallback broke whole-stage-codegen subexpression elimination
    * across the whole cascade: the quiet sf0.1 sweep measured
    * dd_url_dedup 2.4 → 8.8 s and ds_crawl 6.0 → 10.4 s. As a plain
    * codegen'd call the cascade is CSE-eligible end to end again
    * (both rows back in their r13 envelopes — the same HOF→kernel
    * lesson as minhash/hash-embed). */
  private def percentNormalize(u: Column): Column =
    graft.plans.GraftFunctions.urlPct(u)

  /** Step 9: byte-lexicographic query-parameter sort; `…?` → no '?'
    * (`graft_url_qsort`, [[graft.plans.UrlNorm.querySort]] — kernel for
    * the same CSE reason as step 2). */
  private def sortQueryParams(u: Column): Column =
    graft.plans.GraftFunctions.urlQsort(u)

  /** Relational references for the two kernel steps — the shapes the
    * DuckDB oracle mirrors, retained as the living spec: UrlsSpec's
    * parity law fuzzes kernel ≡ staged on adversarial inputs. */
  private[operators] def percentNormalizeStaged(u: Column): Column = {
    val pieces = split(u, "%", -1)
    def norm(p: Column): Column = {
      val hx = upper(substring(p, 1, 2))
      val rest = p.substr(lit(3), length(p))
      val cp = conv(hx, 16, 10).cast("int")
      val unreserved = (cp >= 48 && cp <= 57) || (cp >= 65 && cp <= 90) ||
        (cp >= 97 && cp <= 122) || cp === 45 || cp === 46 ||
        cp === 95 || cp === 126
      when(hx.rlike("^[0-9A-F]{2}$"),
        when(unreserved, concat(call_function("char", cp), rest))
          .otherwise(concat(lit("%"), hx, rest)))
        .otherwise(concat(lit("%"), p))
    }
    concat(element_at(pieces, 1),
      array_join(transform(slice(pieces, lit(2), greatest(size(pieces) - 1, lit(0))),
        norm(_)), ""))
  }

  private[operators] def sortQueryParamsStaged(u: Column): Column = {
    val base = substring_index(u, "?", 1)
    val query = u.substr(length(base) + 2, length(u))
    concat(base,
      when(query === "", lit(""))
        .otherwise(concat(lit("?"),
          array_join(array_sort(split(query, "&", -1)), "&"))))
  }

  /** Step 8.5: RFC 3986 remove_dot_segments over the PATH portion
    * only (`graft_url_dotfold`, [[graft.plans.UrlNorm.dotFold]] — a
    * segment-stack byte walk; kernel for the same CSE reason as
    * steps 2 and 9, and because a fixpoint fold has no closed
    * regex form). `/./` collapses, `/seg/../` pops, `..` above the
    * root is a no-op, and a trailing `/.`|`/..` keeps the directory
    * slash — so `/a/./b`, `/x/../a/b` and `/a/b` are one resource.
    * Idempotent by construction (a folded path has no dot segments
    * left). Runs BEFORE the trailing-slash strip so `/a/..` → `/a/`
    * → `/a` composes. */
  private def foldDotSegments(u: Column): Column =
    graft.plans.GraftFunctions.urlDotfold(u)

  /** The whole cascade as ONE codegen'd byte-walk kernel
    * (`graft_url_canon`, [[graft.plans.UrlNorm.canon]]). Why not the staged
    * regex cascade: it is INLINED per reference in the crawl family's
    * hottest stages (filter + group key both cite the canon alias),
    * and at the r15 cascade width whole-stage codegen either exceeded
    * the 64 KB method limit or JIT-inverted once it compiled (4–5×
    * slower fused at the 100× decade — the r16 root-cause log in
    * BASELINE.md). As one short call per reference, fusion is
    * JIT-friendly again and the r16 no-fuse child session is deleted.
    * [[canonicalizeStaged]] is the retained relational spec; the
    * UrlsSpec full-cascade fuzz law pins kernel ≡ staged bit-equality. */
  def canonicalize(url: Column): Column =
    graft.plans.GraftFunctions.urlCanon(url)

  /** Relational reference for the whole cascade — the shape the
    * DuckDB oracle mirrors, retained as the living spec the
    * full-cascade kernel is fuzzed against (UrlsSpec). */
  private[operators] def canonicalizeStaged(url: Column): Column = {
    val t = percentNormalize(trim(url))
    // lowercase scheme://authority, leave path/query/fragment as-is
    val prefix = regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val c1 = concat(lower(prefix),
      t.substr(length(prefix) + 1, length(t)))
    val c2 = regexp_replace(c1, "^(https?://)www\\.", "$1")
    val c3 = regexp_replace(c2, "#.*$", "")
    val c4 = regexp_replace(c3, "^(http://[^/?#:]*):80([/?#].*)?$", "$1$2")
    val c5 = regexp_replace(c4, "^(https://[^/?#:]*):443([/?#].*)?$", "$1$2")
    // tracking params: non-first (&t=v), first-with-successor (?t=v&),
    // then sole (?t=v$) — after pass one at most one leading remains
    val c6 = regexp_replace(c5, s"&(?:$trackingParamsRe)=[^&#]*", "")
    val c7 = regexp_replace(c6, s"\\?(?:$trackingParamsRe)=[^&#]*&", "?")
    val c8 = regexp_replace(c7, s"\\?(?:$trackingParamsRe)=[^&#]*$$", "")
    val folded = foldDotSegments(c8)
    sortQueryParams(regexp_replace(folded, "([^/:])/+(\\?.*)?$", "$1$2"))
  }

  /** Relational reference for step 8.5 — the segment-stack walk as a
    * higher-order `aggregate` (interpreted; spec-only, the living
    * semantics UrlsSpec fuzzes the kernel against). */
  private[operators] def foldDotSegmentsStaged(u: Column): Column = {
    val pre = regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val rest = u.substr(length(pre) + 1, length(u))
    val path = regexp_extract(rest, "^([^?#]*)", 1)
    val tail = rest.substr(length(path) + 1, length(rest))
    val segs = split(path.substr(lit(2), length(path)), "/", -1)
    val folded = aggregate(segs, array().cast("array<string>"), (acc, s) =>
      when(s === ".", acc)
        .when(s === "..", slice(acc, lit(1), greatest(size(acc) - 1, lit(0))))
        .otherwise(concat(acc, array(s))))
    val last = element_at(segs, -1)
    val withTrail = when(last === "." || last === "..",
      concat(folded, array(lit("")))).otherwise(folded)
    when(pre === "" || !path.startsWith("/"), u)
      .otherwise(concat(pre, lit("/"), array_join(withTrail, "/"), tail))
  }

  /** Host of an already-canonical URL ('' when there is none). */
  def hostOf(canonUrl: Column): Column =
    regexp_extract(canonUrl, "^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1)

  /** Resolve an anchor href against its page's (already-canonical)
    * base URL — the RFC 3986 reference-resolution subset a frontier
    * needs, closed-form so the oracle replays it:
    *
    *  - absolute (`scheme://…`) → as-is
    *  - non-hierarchical scheme (`mailto:`, `javascript:`, `tel:`,
    *    `data:` — a scheme prefix without `//`) → NULL (never a
    *    fetchable page; resolving it path-relatively would mint
    *    garbage candidates like `https://host/dir/mailto:x`)
    *  - protocol-relative (`//host/…`) → base's scheme + `:` + href
    *  - root-relative (`/p`) → base's origin + href
    *  - fragment-only (`#…`) or empty → NULL (a self-link, never a
    *    frontier candidate)
    *  - otherwise path-relative → base's directory (through its last
    *    `/` after the authority; the origin + `/` when the base has
    *    a bare authority) + href. `..`/`.` segments in the result are
    *    folded by [[canonicalize]] step 8.5, not here — resolution
    *    stays a pure string splice.
    *
    * The result is RAW (resolution only); feed it through
    * [[canonicalize]] before any frontier membership test. */
  def resolveHref(base: Column, href: Column): Column = {
    val origin = regexp_extract(base, "^([a-z][a-z0-9+.-]*://[^/?#]+)", 1)
    val scheme = regexp_extract(base, "^([a-z][a-z0-9+.-]*)://", 1)
    val dir = regexp_extract(regexp_replace(base, "[?#].*$", ""),
      "^([a-z][a-z0-9+.-]*://.*/)", 1)
    when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), href)
      .when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), lit(null))
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("/"), concat(origin, href))
      .when(href.startsWith("#") || href === "", lit(null))
      .otherwise(concat(
        when(dir === "", concat(origin, lit("/"))).otherwise(dir), href))
  }

  /** Cheap RAW-href gate, exactly "[[resolveHref]] yields a frontier
    * candidate": drops fragment-only, empty and non-hierarchical
    * (`mailto:`/`javascript:`/`tel:`/`data:` — scheme without `//`)
    * hrefs BEFORE the resolve+canonicalize chain. Gating on the raw
    * href keeps the expensive cascade out of any pushed-down filter
    * (the measured filter-pushdown clone trap) — never post-filter
    * the resolved column for these cases. */
  def hrefIsCandidate(href: Column): Column =
    !href.startsWith("#") && href =!= "" &&
      (!href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:") ||
        href.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"))

  /** The robots.txt line/group frame shared by [[robotsRules]] and
    * [[robotsDelays]]: '#'-comment-stripped trimmed lines with their
    * RFC 9309 group id. CONSECUTIVE `User-agent:` lines form ONE
    * shared group (`User-agent: *` + `User-agent: other` +
    * `Disallow: /x` binds /x to both agents — the spec's stacked
    * form), so a group starts at an agent line whose last NON-EMPTY
    * predecessor is not another agent line — RFC 9309's grammar lets
    * blank and comment-only lines sit between stacked agent lines, so
    * empty lines are dropped BEFORE the lag window (an
    * immediately-preceding test would split the stack and silently
    * drop the wildcard group's rules — a fetch-disallowed bug); the
    * running count of group-starts over line position is the group id
    * (the sessionization pattern). Robots bodies are KB-sized and
    * one-per-host, so the explode is bounded by hosts, never by the
    * frontier. */
  private def robotsLines(df: DataFrame, host: Column,
                          body: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("pos")
    df.select(host.as("host"),
        posexplode(split(body, "\n", -1)).as(Seq("pos", "raw")))
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*$", "")))
      .filter(col("line") =!= "")
      .withColumn("is_agent",
        lower(col("line")).startsWith("user-agent:"))
      .withColumn("starts_group", col("is_agent") &&
        !coalesce(lag(col("is_agent"), 1).over(w), lit(false)))
      .withColumn("grp", sum(col("starts_group").cast("long")).over(w))
  }

  /** The wildcard-agent groups (host, grp) of each robots body. */
  private def starGroups(lines: DataFrame): DataFrame =
    lines.filter(col("is_agent"))
      .select(col("host"), col("grp"),
        trim(substring_index(col("line"), ":", -1)).as("agent"))
      .filter(col("agent") === "*")
      .select("host", "grp").distinct()

  /** RFC 9309 §2.2.1 group selection: the groups a crawler with
    * `productToken` must obey, per host. A group's agent token
    * matches case-insensitively when it is the product token or a
    * TOKEN-BOUNDARY prefix of it (the hierarchical-product-token
    * reading — group `graftbot` binds products `graftbot-news` and
    * `graftbot` because the prefix ends at the `-` segment boundary;
    * a substring like `bot`, or a MID-SEGMENT prefix like
    * `graftbot-ne`, does NOT match — r18: the boundary check the
    * pre-r18 plain-prefix match lacked, UrlsSpec's `graftbot-ne`
    * case). Among matching tokens the LONGEST wins (most specific),
    * every group carrying that winning token contributes, and the
    * chosen groups REPLACE the wildcard groups — they never
    * union with them. Hosts with no matching token fall back to
    * their `*` groups. `None` = wildcard-only (the anonymous-crawler
    * default every pre-r17 row uses). Bounded by hosts × agent
    * lines; one host-keyed max + semi-join, broadcast-sized. */
  private def chosenGroups(lines: DataFrame,
                           productToken: Option[String]): DataFrame =
    productToken match {
      case None => starGroups(lines)
      case Some(a) =>
        val p = a.toLowerCase
        val toks = lines.filter(col("is_agent"))
          .select(col("host"), col("grp"),
            lower(trim(substring_index(col("line"), ":", -1))).as("tok"))
        // boundary-prefix match: exact token, or a prefix whose next
        // product-token character is the `-` separator (a token
        // already ending in `-` carries its own boundary)
        val matched = toks.filter(col("tok") =!= "*" && col("tok") =!= "" &&
          (col("tok") === lit(p) ||
            lit(p).startsWith(concat(col("tok"), lit("-"))) ||
            (col("tok").endsWith("-") && lit(p).startsWith(col("tok")))))
        val best = matched.groupBy("host")
          .agg(max(length(col("tok"))).as("blen"))
        val specific = matched.join(best, Seq("host"))
          .filter(length(col("tok")) === col("blen"))
          .select("host", "grp").distinct()
        specific.unionByName(
          starGroups(lines).join(specific.select("host").distinct(),
            Seq("host"), "left_anti"))
    }

  /** robots.txt access rules for the wildcard agent — Disallow AND
    * Allow prefixes (RFC 9309 §2.2.2), the access half of crawl
    * politeness ([[politeWaves]] / [[robotsDelays]] are the rate
    * half). The deterministic subset both engines replay:
    *
    *  - lines are '#'-comment-stripped and trimmed; groups per
    *    [[robotsLines]] (consecutive agent lines share one group);
    *  - `Disallow:` / `Allow:` lines bind to their group; groups
    *    containing agent `*` contribute their non-empty prefixes (an
    *    empty value means no rule); directive names match
    *    case-insensitively, prefix VALUES stay case-sensitive;
    *  - values may carry RFC 9309 §2.2.3 wildcards: `*` matches any
    *    character run, a trailing `$` anchors the match at the path
    *    end (a `$` anywhere else is literal). The rule VALUE is
    *    emitted as written; [[robotsFilter]] compiles it.
    *
    * Yields (host, prefix, allow); [[robotsFilter]] applies the
    * most-specific-match precedence.
    *
    * `agent` (r17): a crawler's product token — groups are chosen per
    * RFC 9309 §2.2.1 ([[chosenGroups]]: longest case-insensitive
    * token-prefix match wins and REPLACES the wildcard group; no
    * match falls back to `*`). Default `None` keeps the wildcard-only
    * reading. */
  def robotsRules(df: DataFrame, host: Column, body: Column,
                  agent: Option[String] = None): DataFrame = {
    // Staged ONCE (r21): the directive scan + chosenGroups reference
    // this frame up to 4× (agent-token scan, star groups, the best-
    // length join) — unstaged, each reference re-ran the per-host
    // body explode and everything upstream of it (for the crawl
    // composites: a documents scan each). Hosts × lines bounded —
    // the stage-only-bounded-frames rule.
    val lines = org.apache.spark.sql.GraftBridge.stageLocal(
      robotsLines(df, host, body))
    lines
      .filter(lower(col("line")).rlike("^(disallow|allow):"))
      .select(col("host"), col("grp"),
        lower(col("line")).startsWith("allow:").as("allow"),
        trim(expr("substring(line, instr(line, ':') + 1)")).as("prefix"))
      .filter(col("prefix") =!= "")
      .join(chosenGroups(lines, agent), Seq("host", "grp"), "left_semi")
      .select("host", "prefix", "allow").distinct()
  }

  /** [[robotsRules]] with the FETCH STATUS of each robots.txt applied
    * per RFC 9309 §2.3.1 (r20) — the robots file is itself a fetch
    * that can fail, and the RFC assigns semantics to the failure:
    * 2xx parses the body; 4xx ("unavailable") means NO restrictions —
    * an absent robots.txt allows everything, so the host contributes
    * no rules; anything else (5xx "unreachable", or an unresolved
    * redirect handed through) assumes COMPLETE DISALLOW — the
    * conservative reading for a server that cannot answer — as one
    * `(host, "/", allow=false)` rule the most-specific-match gate
    * applies to every path. Same output frame as [[robotsRules]], so
    * robotsFilter and every discovery/scheduling refilter compose
    * unchanged; a later successful fetch simply replaces the rules
    * frame (it is a plan). `status` null = 200. */
  def robotsRulesWithStatus(df: DataFrame, host: Column, body: Column,
                            status: Column,
                            agent: Option[String] = None): DataFrame = {
    val staged = df.select(host.as("host"), body.as("body"),
      coalesce(status, lit(200)).as("__st"))
    val ok = robotsRules(staged.filter(col("__st") >= 200 &&
      col("__st") < 300), col("host"), col("body"), agent)
    val unreachable = staged
      .filter(!(col("__st") >= 200 && col("__st") < 300) &&
        !(col("__st") >= 400 && col("__st") < 500))
      .select(col("host"), lit("/").as("prefix"), lit(false).as("allow"))
      .distinct()
    ok.unionByName(unreachable)
  }

  /** Wildcard-agent `Crawl-delay` per host, in whole seconds — the
    * de-facto rate directive (not in RFC 9309 but emitted by ~10% of
    * sites and honored by every major crawler). Non-numeric values
    * are ignored; multiple wildcard groups keep the MAX (the polite
    * reading). Yields (host, delay_s) — hosts without a delay are
    * absent (callers supply the default). `agent`: same RFC 9309
    * §2.2.1 group choice as [[robotsRules]] — the delay BINDS to the
    * chosen group, so a crawler obeying a specific group's rules
    * obeys that group's delay too, never the wildcard's. */
  def robotsDelays(df: DataFrame, host: Column, body: Column,
                   agent: Option[String] = None): DataFrame = {
    // Staged once — same multi-reference economics as [[robotsRules]].
    val lines = org.apache.spark.sql.GraftBridge.stageLocal(
      robotsLines(df, host, body))
    lines
      .filter(lower(col("line")).startsWith("crawl-delay:"))
      .select(col("host"), col("grp"),
        trim(expr("substring(line, instr(line, ':') + 1)")).as("v"))
      .filter(col("v").rlike("^[0-9]+$"))
      .join(chosenGroups(lines, agent), Seq("host", "grp"), "left_semi")
      .groupBy("host").agg(max(col("v").cast("long")).as("delay_s"))
  }

  /** `Sitemap:` references per host (RFC 9309 §2.3 / sitemaps.org):
    * unlike Allow/Disallow, sitemap lines are NOT group-scoped — they
    * apply regardless of which User-agent group they sit in — so no
    * group join here, just the comment-stripped line scan. Values are
    * absolute URLs by spec and kept verbatim (a crawl loop seeds its
    * frontier from them — the complement of link discovery for pages
    * nothing links to yet). Yields (host, sitemap_url), bounded by
    * hosts × sitemaps-per-host. */
  def robotsSitemaps(df: DataFrame, host: Column, body: Column): DataFrame =
    robotsLines(df, host, body)
      .filter(lower(col("line")).startsWith("sitemap:"))
      .select(col("host"),
        trim(expr("substring(line, instr(line, ':') + 1)")).as("sitemap_url"))
      .filter(col("sitemap_url") =!= "")
      .distinct()

  /** `<loc>` entries of a sitemaps.org XML body, in document order —
    * the content half of sitemap seeding ([[robotsSitemaps]] yields
    * the references; fetching them yields these bodies). Closed-form:
    * one `regexp_extract_all` (whitespace inside the element is
    * insignificant per the protocol and trimmed by the pattern) plus
    * the XML 1.0 predefined-entity decode the protocol REQUIRES for
    * URLs in XML (`&amp;` etc.) — `&amp;` is replaced LAST so
    * `&amp;lt;` decodes to the literal `&lt;` (one pass, not a
    * fixpoint), matching a conforming XML parser. Feed results
    * through [[canonicalize]] + [[robotsFilter]] before scheduling,
    * exactly like discovered links. */
  def sitemapLocs(xml: Column): Column = {
    val raw = regexp_extract_all(xml,
      lit("<loc>\\s*([^<]*?)\\s*</loc>"), lit(1))
    transform(raw, u => xmlEntityDecode(u))
  }

  /** One-pass XML 1.0 predefined-entity decode — `&amp;` LAST so
    * `&amp;lt;` yields the literal `&lt;` (not a fixpoint), matching
    * a conforming XML parser. Shared with [[Html.canonicalHref]]'s
    * attribute-value decode (HTML attribute values carry the same
    * predefined entities — `&amp;` in a query string is the live
    * case). */
  private[operators] def xmlEntityDecode(u: Column): Column =
    replace(replace(replace(replace(replace(u,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&apos;"), lit("'")),
      lit("&amp;"), lit("&"))

  /** File-level kind of a sitemaps.org body: 'index' when the body is
    * a `<sitemapindex>` (its `<loc>` entries are CHILD SITEMAPS to
    * fetch as sitemaps — the shape any site past the protocol's
    * 50k-URL-per-file cap serves), 'urlset' otherwise (entries are
    * page candidates). The protocol forbids mixing `<url>` and
    * `<sitemap>` entries in one file, so kind is a property of the
    * BODY, not of each entry — which keeps the parse closed-form (no
    * per-entry parent tracking; [[sitemapLocs]] stays one extract)
    * and the routing decision one predicate. Routing an index child
    * into the page frontier mints fetch candidates that are XML
    * files, and the pages it lists are never discovered. */
  def sitemapKind(xml: Column): Column =
    when(xml.rlike("<sitemapindex[\\s>]"), "index").otherwise(lit("urlset"))

  /** `<loc>` entries of fetched sitemap bodies with their body's
    * file-level [[sitemapKind]] and document position: (host, kind,
    * pos, loc_url), loc_url entity-decoded verbatim (canonicalize
    * downstream). 'urlset' rows are page candidates; 'index' rows are
    * child sitemaps — [[graft.streaming.IngestCrawl.sitemapSeeds]]
    * routes the two. Bounded by hosts × locs-per-body. */
  def sitemapEntries(bodies: DataFrame, host: Column,
                     xml: Column): DataFrame =
    bodies.select(host.as("host"), sitemapKind(xml).as("kind"),
      posexplode(sitemapLocs(xml)).as(Seq("pos", "loc_url")))

  /** [[sitemapEntries]] plus per-entry `<lastmod>` — the RECRAWL
    * signal the protocol carries (sitemaps.org: lastmod is the
    * file's last-modification time; a scheduler recrawls a listed
    * URL when its lastmod postdates the last fetch, and skips it
    * when nothing changed). Entries are parsed as whole
    * `<url>`/`<sitemap>` blocks (one `(?s)` non-greedy extract —
    * still closed-form, no per-entry parent tracking) so each
    * lastmod binds to ITS OWN entry's loc; an entry without a
    * lastmod yields NULL (the protocol makes every child element
    * optional except loc). The value is kept as written — W3C
    * datetime allows both dates and full timestamps; casting is the
    * consumer's choice. Bounded by hosts × entries-per-body. */
  def sitemapMeta(bodies: DataFrame, host: Column,
                  xml: Column): DataFrame = {
    val blocks = regexp_extract_all(xml,
      lit("(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>"), lit(1))
    bodies.select(host.as("host"), sitemapKind(xml).as("kind"),
        posexplode(blocks).as(Seq("pos", "blk")))
      .select(col("host"), col("kind"), col("pos"),
        xmlEntityDecode(regexp_extract(col("blk"),
          "<loc>\\s*([^<]*?)\\s*</loc>", 1)).as("loc_url"),
        nullif(regexp_extract(col("blk"),
          "<lastmod>\\s*([^<]*?)\\s*</lastmod>", 1), lit("")).as("lastmod"))
  }

  /** Filter frontier candidates through robots rules with RFC 9309
    * §2.2.2/§2.2.3 precedence: among the rules matching the
    * candidate's canonical path+query (the part after the authority —
    * '' for a root URL, so `Disallow: /` blocks every pathed URL but
    * not the bare origin: matching is on the canonical form,
    * documented), the MOST SPECIFIC rule wins — specificity = octet
    * length of the rule value as written, wildcards included (the
    * RFC's most-octets reading); at equal length Allow wins. No
    * matching rule ⇒ allowed. So `Disallow: /a` + `Allow:
    * /articles/` blocks `/ax` but keeps the whole `/articles/`
    * carve-out — under match-any-Disallow the carve-out is lost
    * entirely (a recall, not politeness, bug).
    *
    * Wildcard values (§2.2.3): `*` matches any character run and a
    * trailing `$` anchors at the path end; both compile to ONE SQL
    * LIKE pattern (escape `\`/`%`/`_`, `*` → `%`, `$`-anchored drops
    * the trailing `%`) — the same compilation the DuckDB twin
    * replays, and prefix matching is its wildcard-free special case.
    * Rules WITHOUT wildcards keep the codegen'd `startsWith` path;
    * only the (rare) wildcard rules pay the per-row LIKE compile,
    * and only against candidates of their own host.
    *
    * Shape: two host-keyed theta-joins against the split rules table
    * (bounded by hosts × rules-per-host — broadcast, never
    * frontier-sized), a verdict aggregate keyed on the matched
    * candidates' (host, path) — map-side combined, volume bounded by
    * candidates-with-any-match — and one anti-join against the
    * blocked keys. Candidates matching no rule never shuffle. */
  def robotsFilter(candidates: DataFrame, url: Column,
                   rules: DataFrame): DataFrame = {
    val withHost = candidates.withColumn("__h", hostOf(url))
      .withColumn("__p",
        regexp_replace(url, "^[a-z][a-z0-9+.-]*://[^/?#]+", ""))
    // best matching rule per (host, path) as ONE integer — length*2
    // + allow-bit orders exactly like (length, allow) lexicographic
    // (allow ∈ {0,1}), and the encoding replays verbatim in SQL
    val spec = length(col("r.prefix")) * 2 + col("r.allow").cast("int")
    val hasWild = col("prefix").contains("*") || col("prefix").endsWith("$")
    val anchored = col("prefix").endsWith("$")
    val body = when(anchored,
      col("prefix").substr(lit(1), length(col("prefix")) - 1))
      .otherwise(col("prefix"))
    val likePat = concat(
      replace(replace(replace(body,
          lit("\\"), lit("\\\\")), lit("%"), lit("\\%")), lit("_"), lit("\\_"))
        .cast("string"),
      when(anchored, lit("")).otherwise(lit("%")))
    // rules staged ONCE (r21): the plain/wild split reads it twice,
    // and a caller's rules frame is itself a multi-pass parse chain
    // (robotsRules re-derives the corpus hosts) — hosts × rules
    // bounded, so staging is the bounded-frames discipline.
    val rulesOnce = org.apache.spark.sql.GraftBridge.stageLocal(rules)
    val wildPat = rulesOnce.filter(hasWild)
      .withColumn("__pat", regexp_replace(likePat, "\\*", "%"))
    val plainMatches = withHost
      .join(broadcast(rulesOnce.filter(!hasWild).as("r")),
        col("__h") === col("r.host") &&
          col("__p").startsWith(col("r.prefix")), "inner")
      .select(col("__h"), col("__p"), spec.as("__spec"))
    val wildMatches = withHost
      .join(broadcast(wildPat.as("r")), col("__h") === col("r.host") &&
        like(col("__p"), col("r.__pat")), "inner")
      .select(col("__h"), col("__p"), spec.as("__spec"))
    val blocked = plainMatches.unionByName(wildMatches)
      .groupBy(col("__h"), col("__p"))
      .agg(max(col("__spec")).as("best"))
      .filter(col("best") % 2 === 0)
      .select(col("__h"), col("__p"))
    withHost
      .join(blocked, Seq("__h", "__p"), "left_anti")
      .drop("__h", "__p")
  }

  /** One deterministic redirect hop of the zero-egress fixture: a URL
    * whose path begins with `/old/` 301s to the same URL with that
    * path segment stripped; anything else is final (NULL = no
    * redirect). Chains compose — `/old/old/x` hops to `/old/x` hops
    * to `/x` — the shape [[followRedirects]] walks. A real deployment
    * replaces this with the fetcher's observed (requested →
    * Location) records; the fixture is the deterministic stand-in
    * both engines replay, like syntheticRobots/syntheticSitemap. */
  def redirectHop(url: Column): Column =
    when(url.rlike("^[a-z][a-z0-9+.-]*://[^/?#]+/old/"),
      regexp_replace(url,
        "^([a-z][a-z0-9+.-]*://[^/?#]+)/old/", "$1/"))
      .otherwise(lit(null).cast("string"))

  /** Follow [[redirectHop]] to its fixed point, at most `maxHops`
    * (the loop guard every real fetcher applies — curl's
    * --max-redirs). Yields (final_url, n_hops); a chain still
    * redirecting at the cap is left at its last location. The cap is
    * a compile-time unroll — `maxHops` cheap codegen'd projections,
    * no iteration state. Feed a CANONICAL url; stripping a whole
    * path segment preserves canonical form, but callers re-canon the
    * result anyway (both engines, shared text) so the alias key rule
    * is audit-proof. */
  def followRedirects(url: Column, maxHops: Int = 3): (Column, Column) = {
    var cur = url
    var hops: Column = lit(0L)
    (1 to maxHops).foreach { _ =>
      val h = redirectHop(cur)
      hops = hops + when(h.isNotNull, 1L).otherwise(0L)
      cur = coalesce(h, cur)
    }
    (cur, hops)
  }

  /** Politeness scheduling: assign frontier candidates to fetch WAVES
    * such that no host appears more than `perHostPerWave` times in a
    * wave — the per-host rate cap every real crawler enforces, as a
    * plan: one window keyed on the host (the natural partition axis —
    * depth of a host's queue is the scale dimension, never the corpus
    * width), candidates ranked by (priority desc, url) inside their
    * host, wave = rank div perHostPerWave. Waves are dense from 0 per
    * host, so a scheduler drains wave k completely before k+1 and the
    * per-wave host multiplicity is the cap by construction. */
  def politeWaves(df: DataFrame, url: Column, priority: Column,
                  perHostPerWave: Int = 1): DataFrame = {
    require(perHostPerWave >= 1, s"perHostPerWave must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(col("priority").desc, col("url").asc)
    df.select(url.as("url"), priority.as("priority"))
      .withColumn("host", hostOf(col("url")))
      .withColumn("wave",
        ((row_number().over(w) - 1) / perHostPerWave).cast("long"))
  }

  /** [[politeWaves]] with a PER-HOST cap frame instead of one global
    * cap — the `Crawl-delay` path: a host demanding a d-second gap
    * gets `cap = max(1, wavePeriod / d)` fetches per wave (callers
    * derive the cap frame, e.g. from [[robotsDelays]]). `hostCaps`
    * is (host, cap), bounded by hosts — broadcast onto the
    * candidates; hosts absent from it get `defaultCap`. Same single
    * host-keyed window as the global form; the cap only changes the
    * divisor, so waves stay dense from 0 per host and the per-wave
    * host multiplicity is the cap by construction. */
  def politeWavesCapped(df: DataFrame, url: Column, priority: Column,
                        hostCaps: DataFrame,
                        defaultCap: Int = 1,
                        ipGroups: Option[DataFrame] = None): DataFrame = {
    require(defaultCap >= 1, s"defaultCap must be >= 1, got $defaultCap")
    // IP/server-level grouping (r20): a thousand vanity hostnames on
    // one server defeat a per-HOST cap — with `ipGroups` (host,
    // ip_group; hosts-bounded, broadcast), every member of a group
    // shares ONE wave budget: the window keys on the group and the
    // STRICTEST member cap governs (politeness composes by min —
    // a server is as slow as its most protective host demands).
    // Ungrouped hosts keep their own key, so a partial groups frame
    // changes nothing for the rest of the frontier.
    val based = df.select(url.as("url"), priority.as("priority"))
      .withColumn("host", hostOf(col("url")))
    val keyed = ipGroups match {
      case Some(g) => based
        .join(broadcast(g.select(col("host"), col("ip_group"))),
          Seq("host"), "left")
        .withColumn("polite_key", coalesce(col("ip_group"), col("host")))
        .drop("ip_group")
      case None => based.withColumn("polite_key", col("host"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("polite_key").orderBy(col("priority").desc, col("url").asc)
    val withCap = keyed
      .join(broadcast(hostCaps.select(col("host"), col("cap"))),
        Seq("host"), "left")
      .withColumn("cap",
        greatest(coalesce(col("cap"), lit(defaultCap.toLong)), lit(1L)))
    val capped = ipGroups match {
      // group-wide min rides the SAME key exchange the rank window
      // already pays (identical partitioning) — no extra shuffle
      case Some(_) => withCap.withColumn("cap",
        min(col("cap")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("polite_key")))
      case None => withCap
    }
    val waved = capped.withColumn("wave",
      floor((row_number().over(w) - 1) / col("cap")).cast("long"))
    ipGroups match {
      case Some(_) =>
        waved.select("url", "priority", "host", "polite_key", "cap", "wave")
      case None => waved.select("url", "priority", "host", "cap", "wave")
    }
  }

  /** [[politeWavesCapped]] for MEGA-HOST frontiers (r19): the plain
    * form ranks each host in ONE window partition, so a host owning
    * ~90% of a wide frontier serializes into one external-sorted task
    * — measured 6.2 s vs the 1.3 s balanced control at the 100×
    * rehearsal decade (BASELINE.md#polite_megahost@100x), growing
    * with the decade. This form decomposes the per-host rank exactly:
    *
    *  1. range-repartition on (host, priority desc, url) — partitions
    *     are order-contiguous slices of every host's queue, ~n/P rows
    *     each regardless of host skew (the full key is unique, so no
    *     tie ever straddles a boundary decision);
    *  2. rank WITHIN (partition, host) — a window whose partitions
    *     are slice-sized, never host-sized;
    *  3. per-(host, partition) counts → per-host prefix offsets (a
    *     hosts × P frame — tiny) broadcast back: global per-host rank
    *     = slice offset + local rank, and the wave math is unchanged.
    *
    * Output ≡ [[politeWavesCapped]] row-for-row (UrlsSpec property);
    * cost is one extra (tiny) count aggregate + broadcast join on top
    * of trading the skewed exchange for a range exchange — pay it
    * when one host dominates, keep the plain form for structurally
    * bounded frontiers. Partition ids are read AFTER the range
    * exchange, so a task retry re-reads the same shuffle partition
    * and the (id → slice) mapping is replay-stable. */
  def politeWavesCappedWide(df: DataFrame, url: Column, priority: Column,
                            hostCaps: DataFrame, defaultCap: Int = 1,
                            partitions: Int = 0,
                            ipGroups: Option[DataFrame] = None): DataFrame = {
    require(defaultCap >= 1, s"defaultCap must be >= 1, got $defaultCap")
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // IP-group semantics as in [[politeWavesCapped]] (r20): the rank
    // decomposition keys on the group when one exists — a mega-SERVER
    // behind many vanity hosts is exactly the straggler this form
    // exists for. polite_key = the group, else the host.
    val based = df.select(url.as("url"), priority.as("priority"))
      .withColumn("host", hostOf(col("url")))
    val keyed = ipGroups match {
      case Some(g) => based
        .join(broadcast(g.select(col("host"), col("ip_group"))),
          Seq("host"), "left")
        .withColumn("polite_key", coalesce(col("ip_group"), col("host")))
        .drop("ip_group")
      case None => based.withColumn("polite_key", col("host"))
    }
    // staged, not merely shared (r20, ADVICE): `ranged` feeds BOTH the
    // local-rank window and the offset counts below. Left as a plan,
    // global rank = offset + local rank is consistent only if Spark's
    // exchange reuse deduplicates the range shuffle — defeated reuse
    // would let RangePartitioner's per-execution sampling pick
    // different boundaries for the two executions and silently
    // mis-wave. Staging materializes the sliced frontier ONCE (with
    // __pid already stamped), so both consumers read identical rows
    // by construction, not by optimizer rule.
    val ranged = org.apache.spark.sql.GraftBridge.stageLocal(
      keyed
        .repartitionByRange(p, col("polite_key"), col("priority").desc,
          col("url").asc)
        .withColumn("__pid", spark_partition_id()))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid", "polite_key")
      .orderBy(col("priority").desc, col("url").asc)
    val local = ranged.withColumn("__lr", row_number().over(w))
    val offW = org.apache.spark.sql.expressions.Window
      .partitionBy("polite_key").orderBy("__pid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = ranged.groupBy("polite_key", "__pid")
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(offW), lit(0L)))
      .select("polite_key", "__pid", "__off")
    val joined = local.join(broadcast(offs), Seq("polite_key", "__pid"))
    val waved = ipGroups match {
      case None => joined
        .join(broadcast(hostCaps.select(col("host"), col("cap"))),
          Seq("host"), "left")
        .withColumn("cap",
          greatest(coalesce(col("cap"), lit(defaultCap.toLong)), lit(1L)))
      case Some(_) =>
        // effective group cap = min over member hosts (strictest
        // governs) — derived once on a hosts-bounded projection
        // (map-side partial keeps the distinct's exchange tiny) and
        // broadcast back, never a corpus-wide window
        val capsEff = ranged.select("polite_key", "host").distinct()
          .join(broadcast(hostCaps.select(col("host"), col("cap"))),
            Seq("host"), "left")
          .withColumn("cap",
            greatest(coalesce(col("cap"), lit(defaultCap.toLong)), lit(1L)))
          .groupBy("polite_key").agg(min(col("cap")).as("cap"))
        joined.join(broadcast(capsEff), Seq("polite_key"))
    }
    val out = waved.withColumn("wave",
      floor((col("__off") + col("__lr") - 1) / col("cap")).cast("long"))
    ipGroups match {
      case Some(_) =>
        out.select("url", "priority", "host", "polite_key", "cap", "wave")
      case None => out.select("url", "priority", "host", "cap", "wave")
    }
  }

  /** Blocklist predicate over a host column/expression: exact match
    * or dot-suffix (`example.com` blocks `a.example.com`). ONE regex
    * referencing `host` once — the folded `=== || endsWith` form
    * referenced it 2·|domains| times, and every reference inlines the
    * whole upstream canon cascade when the filter collapses into the
    * keep-first aggregate stage (r16: a clone site in the generated
    * code of the crawl family's hottest stage). */
  def hostBlocked(host: Column, blockedDomains: Seq[String]): Column =
    if (blockedDomains.isEmpty) lit(false)
    else host.rlike(blockedDomains
      .map(java.util.regex.Pattern.quote)
      .mkString("(\\A|\\.)(", "|", ")\\z"))

  /** Lowered, www?-stripped host of a RAW (un-canonicalized) URL —
    * the cheap CONSERVATIVE pre-gate key: [[hostBlocked]] over this
    * value implies [[hostBlocked]] over the canonical host, so a
    * raw-host gate may run BEFORE the canon cascade and drop only
    * rows the canonical gate would drop anyway. Proof sketch: the
    * canonical host differs from this value only by (a) an optional
    * `www.` strip this regex already mirrors, which preserves
    * dot-suffix matching either way, and (b) percent-decoding — but a
    * raw host that still MATCHES the blocklist regex contains no
    * escapes inside the matched suffix (the blocklist is literal), so
    * decoding leaves the matched suffix intact. The reverse direction
    * does NOT hold (an escaped spelling of a blocked host slips the
    * raw gate), which is why the exact canonical gate must still run
    * downstream. A failed extract ('' on whitespace-led or schemeless
    * input) matches nothing → conservatively kept. */
  def rawHostLower(url: Column): Column =
    lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[Ww]{3}\\.)?([^/?#:]+)", 1))

  /** Exact-URL keep-first + domain blocklist: one row per surviving
    * canonical URL with the smallest id (the crawl's first fetch) and
    * the fetch count.
    *
    * Gate placement (re-measured r16; supersedes the r13 note): the
    * conservative [[rawHostLower]] gate runs BEFORE the one exchange
    * — it references only the raw input column, so bulk blocked fetch
    * volume never shuffles and the canon cascade never clones into a
    * filter — and the EXACT canonical-host gate runs AFTER the
    * aggregate, over one row per distinct URL instead of one per
    * fetch. The r13-era shape (exact gate before the exchange,
    * filtering on the projected canon alias) inlined the cascade into
    * the keep-first stage's filter: with r15's dotfold step that
    * stage's generated consume method grew pathological — 2× the
    * whole query at the 100× decade (15.9 s vs 7.4 s per-operator
    * A/B; fused it had stopped compiling outright). Equivalence:
    * host is a function of canon_url, so the exact filter commutes
    * with the url-keyed aggregate, and the raw gate drops only rows
    * whose whole group the exact gate drops. */
  def dedupByUrl(df: DataFrame, url: Column, id: Column,
                 blockedDomains: Seq[String]): DataFrame =
    df.filter(!hostBlocked(rawHostLower(url), blockedDomains))
      .select(id.as("doc_id"), canonicalize(url).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_fetches"))
      .filter(!hostBlocked(hostOf(col("canon_url")), blockedDomains))

  /** Deterministic robots.txt fixture per host, derived from the
    * source string — both engines plant identical bytes, so parsing
    * and filtering are oracle-checkable. Every parser branch is
    * exercised: a comment header; a non-`*` group whose `Disallow: /`
    * and `Crawl-delay: 9` must NOT apply; case-varied directive
    * names; an inline comment on a rule value; an empty Disallow
    * (allow-all, no rule); an `Allow` carve-out UNDER a broader
    * Disallow (`Disallow: /a` + `allow: /articles/` — longest-match
    * keeps the carve-out); STACKED `User-agent` lines sharing one
    * group ACROSS a blank and a comment-only line (RFC 9309 lets
    * them interleave — a directly-preceded group test drops the
    * wildcard stack here, r16); a LIVE star+anchor wildcard value
    * (the m=0 branch's `Disallow:` of star + `bout` + dollar blocks
    * the fixture's `/about` frontier candidates, §2.2.3); wildcard
    * `Crawl-delay`
    * values (and a non-numeric one that must be ignored); `Sitemap:`
    * references at the body tail (r16) — one per host plus a
    * case-varied, inline-commented second on m=1 hosts, sitting
    * INSIDE the last agent group to prove the directive is parsed
    * group-UNSCOPED; specific-agent groups for the §2.2.1
    * product-token choice (r17) — `graftbot-news` on m=1, a
    * `graftbot` + `graftbot-news` pair on m=2 (longest match must
    * win), neither on m∈{0,3} (the `*` fallback, with the top `bot`
    * group proving substring-but-not-prefix tokens never match). */
  def syntheticRobots(source: Column): Column = {
    val m = pmod(length(source), lit(4))
    concat(
      lit("# robots for "), source,
      lit("\nUser-agent: bot\nDisallow: /\nCrawl-delay: 9\n"),
      when(m === 0,
        "User-agent: *\nDisallow: /legal\nDisallow:\nDisallow: /*bout$\nCrawl-delay: 1\n")
        .when(m === 1,
          "user-agent: *\nDISALLOW: /a\nallow: /articles/\nCrawl-delay: 2\n")
        .when(m === 2,
          "User-agent: *\nDisallow: /articles/ # keep shop\nCrawl-delay: soon\n")
        .otherwise(lit(
          "User-agent: *\n\n# both bots\nUser-agent: other\nDisallow: /x\nCrawl-delay: 4\n")),
      lit("Sitemap: https://"), lower(source), lit(".example.com/sitemap.xml\n"),
      when(m === 1, concat(lit("sitemap: https://"), lower(source),
        lit(".example.com/news.xml # primary\n"))).otherwise(lit("")),
      // r17: specific-agent groups for the §2.2.1 product-token rows.
      // m=1 hosts carry ONLY the most-specific group (its rules must
      // REPLACE the '*' group's /a + /articles/ carve-out wholesale);
      // m=2 hosts carry BOTH a shorter prefix-matching group and the
      // specific one (longest token must win; the /g rule must not
      // leak). m∈{0,3} hosts carry neither — for product
      // 'graftbot-news' they exercise the '*' fallback, and the 'bot'
      // group up top proves a substring-but-not-prefix token never
      // matches.
      when(m === 1, lit(
        "User-agent: graftbot-news\nDisallow: /news-archive\n" +
          "Allow: /news-archive/today\nCrawl-delay: 7\n"))
        .when(m === 2, lit(
          "User-agent: graftbot\nDisallow: /g\n" +
            "User-agent: graftbot-news\nDisallow: /news-archive\n" +
            "Allow: /news-archive/today\nCrawl-delay: 7\n"))
        .otherwise(lit("")))
  }

  /** Deterministic sitemaps.org XML fixture per host — both engines
    * plant identical bytes, so `<loc>` extraction and entity decode
    * are oracle-checkable. Exercises: a plain loc; whitespace-padded
    * element content (insignificant per the protocol); an uppercase
    * scheme/host/port spelling (canonicalization fodder downstream —
    * extraction keeps it raw); and the XML-entity gauntlet
    * (`&amp;` in a query string, `&apos;`, and the `&amp;amp;`
    * double-escape whose one-pass decode must yield a literal
    * `&amp;`, not `&`). */
  def syntheticSitemap(source: Column): Column =
    concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "<url><loc>https://"), lower(source),
      lit(".example.com/</loc><lastmod>2024-02-01</lastmod></url>\n" +
        "<url><loc>\n   https://"), lower(source),
      lit(".example.com/articles/7?a=1&amp;b=2\n   </loc></url>\n" +
        "<url><loc>HTTPS://WWW."), upper(source),
      lit(".EXAMPLE.COM:443/articles/9</loc></url>\n" +
        "<url><loc>https://"), lower(source),
      lit(".example.com/o&apos;brien&amp;amp;sons</loc></url>\n</urlset>\n"))

  /** Deterministic `<sitemapindex>` fixture per host — the nested
    * shape [[sitemapKind]] must route: every `<loc>` here is a CHILD
    * SITEMAP reference, never a page. Exercises the same extraction
    * edges as [[syntheticSitemap]] (whitespace-padded element content,
    * an uppercase spelling, an `&amp;` entity in a query string) plus
    * a `lastmod` sibling inside a `<sitemap>` entry. */
  def syntheticSitemapIndex(source: Column): Column =
    concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "<sitemap><loc>https://"), lower(source),
      lit(".example.com/pages-1.xml</loc>" +
        "<lastmod>2024-02-01</lastmod></sitemap>\n" +
        "<sitemap><loc>\n   https://"), lower(source),
      lit(".example.com/pages-2.xml?v=1&amp;rev=2\n   </loc></sitemap>\n" +
        "<sitemap><loc>HTTPS://WWW."), upper(source),
      lit(".EXAMPLE.COM:443/news.xml</loc></sitemap>\n</sitemapindex>\n"))

  /** Deterministic URL fixture derived from (doc_id, source) — both
    * engines compute it identically, so canonicalization and dedup
    * are oracle-checkable on the `documents` table. Every rule above
    * is exercised data-dependently: mixed-case schemes/hosts, www
    * prefixes, default and non-default ports on both schemes,
    * trailing slashes, tracking-only / mixed / clean query strings,
    * fragments, percent-escape variants and flipped parameter
    * orders. All variation moduli divide 300, so doc d and d+300
    * canonicalize identically — the planted URL-dup structure
    * dd_url_dedup must recover. The `flip` term (the 300-block's
    * parity) rotates the SURFACE FORM between the d and d+300
    * twins without changing the canonical value: the twins carry
    * opposite query-parameter orders and rotated `~`/`%7E`/`%7e`
    * (and `%3F`/`%3f`) path spellings, so recovering the pair
    * requires the sort and percent rules, not just case-folding.
    * The `dot3` term rotates the /articles/ prefix through its
    * dot-segment spellings (`/./articles/`, `/p/../articles/`) the
    * same twin-safe way — recovering those pairs requires step 8.5's
    * remove_dot_segments. */
  def syntheticUrl(docId: Column, source: Column): Column = {
    val m = (k: Int) => pmod(docId, lit(k.toLong))
    val ms = (k: Int) => m(k).cast("string")
    val flip = pmod(floor(docId / lit(300)).cast("long"), lit(2L))
    val scheme = when(m(4) === 0, "HTTP").when(m(4) === 1, "https")
      .when(m(4) === 2, "Http").otherwise(lit("HTTPS"))
    val www = when(m(2) === 0, "www.").otherwise(lit(""))
    val host = when(m(4) < 2, upper(source)).otherwise(source)
    val port = when(m(5) === 0, ":80").when(m(5) === 1, ":443")
      .when(m(5) === 2, ":8080").otherwise(lit(""))
    // percent gauntlet: m6∈{0,1,2} rotate ~ / %7E / %7e (decode +
    // hex-case rules unify), m6∈{3,4} flip %3F / %3f (reserved '?'
    // stays encoded, hex uppercases), m6=5 is the plain control.
    // 6 = lcm(2,3): two docs differing mod 6 differ mod 2 or mod 3,
    // which scheme parity / the query branch already distinguish —
    // the segment can never unify docs the other terms keep apart.
    val rep3 = pmod(m(6) + flip, lit(3L))
    val tilde = when(rep3 === 0, "~").when(rep3 === 1, "%7E").otherwise(lit("%7e"))
    val pct3f = when(pmod(m(6) + flip, lit(2L)) === 1, "%3F").otherwise(lit("%3f"))
    val pathSeg = when(m(6) < 3, concat(lit("/t"), tilde, lit("x")))
      .when(m(6) < 5, concat(lit("/t"), pct3f, lit("x")))
      .otherwise(lit("/tx"))
    val slash = when(m(2) === 0, "/").otherwise(lit(""))
    val pair = when(flip === 0,
        concat(lit("?id="), ms(5), lit("&cat="), ms(4)))
      .otherwise(concat(lit("?cat="), ms(4), lit("&id="), ms(5)))
    val query = when(m(3) === 0, lit("?utm_source=feed"))
      .when(m(3) === 1, pair)
      .otherwise(concat(lit("?utm_campaign=x&id="), ms(5)))
    val frag = when(m(2) === 1, concat(lit("#sec"), ms(3))).otherwise(lit(""))
    val dot3 = pmod(m(12) + flip, lit(3L))
    val art = when(dot3 === 0, "/articles/")
      .when(dot3 === 1, "/./articles/")
      .otherwise(lit("/p/../articles/"))
    concat(scheme, lit("://"), www, host, lit(".example.com"), port,
      art, ms(150), pathSeg, slash, query, frag)
  }
}
