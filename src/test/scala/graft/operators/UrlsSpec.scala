package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** URL canonicalization cascade + keep-first dedup: adversarial URL
  * fixtures pin every rule and its edge, and the dedup recovers the
  * planted collision structure with the blocklist applied pre-group. */
class UrlsSpec extends SparkSpec {

  import spark.implicits._

  private def canon(urls: Seq[String]): Map[String, String] = {
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
    df.select(col("url"), Urls.canonicalize(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("canonicalization rules, one adversarial fixture per edge") {
    val cases = Seq(
      // scheme+host lowering, path case preserved
      "HTTP://WWW.Example.COM/Path/File" -> "http://example.com/Path/File",
      // default ports stripped only on the matching scheme
      "http://a.com:80/x" -> "http://a.com/x",
      "https://a.com:443/x" -> "https://a.com/x",
      "http://a.com:443/x" -> "http://a.com:443/x",
      "https://a.com:80/x" -> "https://a.com:80/x",
      "http://a.com:8080/x" -> "http://a.com:8080/x",
      // default port with empty path / query / fragment after it
      "http://a.com:80" -> "http://a.com",
      "http://a.com:80?q=1" -> "http://a.com?q=1",
      "http://a.com:80#f" -> "http://a.com",
      // fragment stripped, even when it contains separators
      "http://a.com/x#frag?fake=1&z=2" -> "http://a.com/x",
      // tracking params: sole, leading, trailing, middle, repeated
      "http://a.com/x?utm_source=f" -> "http://a.com/x",
      "http://a.com/x?utm_source=f&id=2" -> "http://a.com/x?id=2",
      "http://a.com/x?id=2&utm_source=f" -> "http://a.com/x?id=2",
      "http://a.com/x?a=1&gclid=g&b=2" -> "http://a.com/x?a=1&b=2",
      "http://a.com/x?utm_a=1&utm_b=2" -> "http://a.com/x",
      "http://a.com/x?ref=r&ref=s&b=2" -> "http://a.com/x?b=2",
      "http://a.com/x?fbclid=z" -> "http://a.com/x",
      // 'ref' only matches the whole param name, not a prefix
      "http://a.com/x?referrer=keep" -> "http://a.com/x?referrer=keep",
      // trailing slash: path, before-query, runs; the root slash also
      // unifies (http://a.com/ and http://a.com are RFC-equivalent)
      "http://a.com/x/" -> "http://a.com/x",
      "http://a.com/x///" -> "http://a.com/x",
      "http://a.com/x/?id=1" -> "http://a.com/x?id=1",
      "http://a.com/" -> "http://a.com",
      // www only strips on http(s), and only as a prefix label
      "ftp://www.a.com/x" -> "ftp://www.a.com/x",
      "http://wwwx.a.com/x" -> "http://wwwx.a.com/x",
      // whitespace trim; schemeless input passes through case-intact
      "  http://a.com/x " -> "http://a.com/x",
      "not a url" -> "not a url",
      // query parameters sort byte-lexicographically; values keep
      // their internal order ('&'-pieces sort as whole strings)
      "http://a.com/x?b=2&a=1" -> "http://a.com/x?a=1&b=2",
      "http://a.com/x?b=2&utm_source=f&a=1" -> "http://a.com/x?a=1&b=2",
      "http://a.com/x?a=2&a=1" -> "http://a.com/x?a=1&a=2",
      // an empty query is no query
      "http://a.com/x?" -> "http://a.com/x",
      // percent-escapes: unreserved decode (either hex case), other
      // escapes uppercase their hex, '%' + non-hex stays literal
      "http://a.com/%7Efoo" -> "http://a.com/~foo",
      "http://a.com/%7efoo" -> "http://a.com/~foo",
      "http://a.com/a%3fb" -> "http://a.com/a%3Fb",
      "http://a.com/%zz%4" -> "http://a.com/%zz%4",
      // decode runs BEFORE case-folding: a hidden host letter decodes
      // and then lowercases (idempotence demands this order)
      "http://EX%41MPLE.com/x" -> "http://example.com/x",
      // dot segments (step 8.5): '/./' collapses, '/seg/../' pops,
      // '..' above root no-ops, trailing dots keep the directory
      // slash and then the trailing-slash strip composes
      "http://a.com/./x/y" -> "http://a.com/x/y",
      "http://a.com/p/../x" -> "http://a.com/x",
      "http://a.com/a/b/../../x" -> "http://a.com/x",
      "http://a.com/../x" -> "http://a.com/x",
      "http://a.com/x/.." -> "http://a.com",
      "http://a.com/x/y/." -> "http://a.com/x/y",
      "http://a.com/a/../x?b=2&a=1" -> "http://a.com/x?a=1&b=2",
      // %2E decodes to '.' FIRST, then folds — the escape must not
      // hide a dot segment
      "http://a.com/%2E%2E/x" -> "http://a.com/x",
      "http://a.com/a//../x" -> "http://a.com/a/x",
      // a dotted NAME is not a dot segment
      "http://a.com/a./..b/x" -> "http://a.com/a./..b/x")
    val got = canon(cases.map(_._1))
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canon('$in') = '${got(in)}', want '$want'")
    }
  }

  test("canonicalization is idempotent (canon∘canon == canon)") {
    // the defining law of a canonical form: a second pass must be a
    // no-op, on every adversarial fixture AND the registered corpus
    // fixture — a rule that re-fires on its own output (e.g. a port
    // strip exposing a new match) would silently split dedup groups
    // between single- and double-canonicalized producers
    val adversarial = Seq(
      "HTTP://WWW.Example.COM:80/Path/?utm_source=f&id=2#frag",
      "https://a.com:443/x///", "http://a.com:8080/?ref=r",
      "  ftp://www.a.com/x ", "not a url", "http://a.com/x?utm_a=1&utm_b=2",
      // the new rules' re-fire candidates: a decoded letter must not
      // re-case, a sorted query must not re-sort, a kept escape must
      // not re-decode, a dropped bare '?' must stay dropped, a folded
      // path must not re-fold (and %2E must not resurface a dot)
      "http://EX%41MPLE.com:80/%7e/?b=1&a=2#f", "http://a.com/%7E?",
      "http://a.com/x?b=2&a=1&utm_b=3", "http://a.com/a%3fb%25?z=1&y=2",
      "http://a.com/./p/../x/..", "http://a.com/%2E%2E/%2E/x/",
      "http://a.com/a/../../b/./c?b=2&a=1#f")
    import spark.implicits._
    val df = adversarial.toDF("url")
      .unionByName(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(Urls.syntheticUrl(col("doc_id"), col("source")).as("url")))
    val got = df.select(
        Urls.canonicalize(col("url")).as("once"),
        Urls.canonicalize(Urls.canonicalize(col("url"))).as("twice"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"canon not idempotent: '${r.getString(0)}' -> '${r.getString(1)}'"))
  }

  test("resolveHref: the RFC 3986 reference-resolution subset") {
    import spark.implicits._
    val cases = Seq(
      // absolute passes through; scheme case preserved (canonicalize
      // runs AFTER resolution)
      ("http://a.com/x/y?q=1", "HTTPS://b.com/z", "HTTPS://b.com/z"),
      // protocol-relative takes the base's scheme
      ("https://a.com/x", "//b.com/z", "https://b.com/z"),
      // root-relative takes the origin — port included
      ("http://a.com:8080/x/y?q=1#f", "/z", "http://a.com:8080/z"),
      // fragment-only and empty are self-links → null
      ("http://a.com/x", "#sec", null),
      ("http://a.com/x", "", null),
      // non-hierarchical schemes are never fetchable pages → null
      // (NOT spliced into garbage like http://a.com/x/mailto:e)
      ("http://a.com/x/", "mailto:e@b.com", null),
      ("http://a.com/x/", "javascript:void(0)", null),
      ("http://a.com/x/", "tel:+1-555", null),
      ("http://a.com/x/", "data:text/plain;base64,aGk=", null),
      // path-relative resolves against the base's directory, query
      // and fragment stripped first
      ("http://a.com/x/y?q=1", "z.html", "http://a.com/x/z.html"),
      ("http://a.com/x/", "z", "http://a.com/x/z"),
      // a relative name WITH a colon later stays path-relative per
      // the scheme grammar (first segment only)
      ("http://a.com/x/", "z:1/y", null), // scheme-shaped: 'z:' parses
                                          // as a scheme → null
      // dot-segment hrefs splice raw; canonicalize folds them later
      ("http://a.com/x/y", "../z", "http://a.com/x/../z"),
      // bare-authority base: directory is origin + '/'
      ("http://a.com", "z", "http://a.com/z"))
    val got = cases.zipWithIndex
      .map { case ((b, h, _), i) => (i, b, h) }.toDF("i", "base", "href")
      .select(col("i"), Urls.resolveHref(col("base"), col("href")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((b, h, want), i) =>
      assert(got(i) == want, s"resolveHref('$b', '$h') = '${got(i)}', want '$want'")
    }
  }

  test("politeWaves: per-host per-wave cap, dense waves, priority order") {
    import spark.implicits._
    val urls = (1 to 7).map(i => (s"http://a.com/$i", i.toLong)) ++
      Seq(("http://b.com/1", 5L), ("http://b.com/2", 5L), ("http://c.com/1", 1L))
    val out = Urls.politeWaves(urls.toDF("url", "n_refs"),
        col("url"), col("n_refs"), perHostPerWave = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    // cap: never more than 2 URLs of one host in one wave
    out.groupBy(t => (t._3, t._4)).foreach { case (hw, g) =>
      assert(g.size <= 2, s"wave overfull at $hw: $g")
    }
    // dense: host a (7 urls) fills waves 0..3, b fills 0, c fills 0
    val byHost = out.groupBy(_._3).view.mapValues(_.map(_._4).toSet).toMap
    assert(byHost("a.com") == Set(0L, 1L, 2L, 3L))
    assert(byHost("b.com") == Set(0L) && byHost("c.com") == Set(0L))
    // priority: a.com's two highest-n_refs urls are in wave 0
    val aWave0 = out.filter(t => t._3 == "a.com" && t._4 == 0L).map(_._1).toSet
    assert(aWave0 == Set("http://a.com/7", "http://a.com/6"), s"$aWave0")
    // ties break on url: b.com's equal-priority urls order 1 then 2
    assert(out.filter(_._3 == "b.com").sortBy(_._1).map(_._4).toSeq == Seq(0L, 0L))
  }

  test("robotsRules: shared agent groups, case, comments, Allow, empty rules") {
    import spark.implicits._
    val body =
      """# header comment
        |User-agent: bot
        |Disallow: /private
        |user-agent: *
        |DISALLOW: /a   # inline comment
        |Disallow: /b
        |Allow: /a/pub
        |Disallow:
        |Allow:
        |User-agent: *
        |User-agent: other
        |Disallow: /c
        |""".stripMargin
    val rules = Urls.robotsRules(
        Seq(("h.com", body)).toDF("host", "body"), col("host"), col("body"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSet
    // bot's /private never applies; the '*' group contributes /a, /b
    // and the /a/pub Allow (case-insensitive directives, inline
    // comment stripped, empty values yield nothing); /c binds to the
    // STACKED 'User-agent: *' + 'User-agent: other' group — per RFC
    // 9309 consecutive agent lines share ONE group, so /c IS a
    // wildcard rule
    assert(rules == Set(("h.com", "/a", false), ("h.com", "/b", false),
      ("h.com", "/a/pub", true), ("h.com", "/c", false)), s"rules: $rules")
  }

  test("robotsRules/Delays with a product token: RFC 9309 §2.2.1 group " +
      "choice — longest prefix match REPLACES '*', substring non-matches " +
      "fall back, delay binds to the chosen group") {
    import spark.implicits._
    val bodies = Seq(
      // h1: specific + shorter-prefix + '*' — the LONGEST matching
      // token (graftbot-news) must win; graftbot's /g and the '*'
      // rules must not leak; delay = the chosen group's 7, not 2
      ("h1.com",
        """User-agent: *
          |Disallow: /a
          |Allow: /articles/
          |Crawl-delay: 2
          |User-agent: graftbot
          |Disallow: /g
          |Crawl-delay: 4
          |User-agent: GraftBot-News
          |Disallow: /news-archive
          |Allow: /news-archive/today
          |Crawl-delay: 7
          |""".stripMargin),
      // h2: 'bot' is a SUBSTRING of graftbot-news but not a prefix —
      // never matches; the host falls back to '*'
      ("h2.com",
        """User-agent: bot
          |Disallow: /
          |Crawl-delay: 9
          |User-agent: *
          |Disallow: /x
          |Crawl-delay: 3
          |""".stripMargin),
      // h3: a matching group REPLACES '*' even when it RELAXES — the
      // chosen group has an empty Disallow (allow-all) and no delay,
      // so the host yields NO rules and NO delay despite '*' having
      // both
      ("h3.com",
        """User-agent: *
          |Disallow: /
          |Crawl-delay: 5
          |User-agent: graftbot-news
          |Disallow:
          |""".stripMargin),
      // h4 (r18): 'graftbot-ne' is a PREFIX of graftbot-news but ends
      // mid-segment — no token boundary, must NOT bind; 'graftbot-'
      // carries its own boundary and must bind (and being longer than
      // plain 'graftbot' would be, it is also the winner here)
      ("h4.com",
        """User-agent: graftbot-ne
          |Disallow: /mid
          |User-agent: graftbot-
          |Disallow: /dash
          |User-agent: *
          |Disallow: /star
          |""".stripMargin))
      .toDF("host", "body")
    val agent = Some("graftbot-news")
    val rules = Urls.robotsRules(bodies, col("host"), col("body"), agent)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSet
    assert(rules == Set(
      ("h1.com", "/news-archive", false), ("h1.com", "/news-archive/today", true),
      ("h2.com", "/x", false), ("h4.com", "/dash", false)), s"rules: $rules")
    val delays = Urls.robotsDelays(bodies, col("host"), col("body"), agent)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(delays == Map("h1.com" -> 7L, "h2.com" -> 3L), s"delays: $delays")
    // the default (None) keeps the wildcard-only reading
    val star = Urls.robotsRules(bodies, col("host"), col("body"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(star == Set(("h1.com", "/a"), ("h1.com", "/articles/"),
      ("h2.com", "/x"), ("h3.com", "/"), ("h4.com", "/star")), s"star: $star")
  }

  test("robotsDelays: wildcard groups only, numeric only, max across groups") {
    import spark.implicits._
    val body =
      """User-agent: bot
        |Crawl-delay: 99
        |User-agent: *
        |Crawl-delay: 3
        |Crawl-delay: soon
        |User-agent: *
        |Crawl-delay: 5
        |""".stripMargin
    val delays = Urls.robotsDelays(
        Seq(("h.com", body), ("none.com", "User-agent: *\nDisallow: /x\n"))
          .toDF("host", "body"), col("host"), col("body"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // bot's 99 never leaks; 'soon' ignored; max(3, 5) = 5 across the
    // two '*' groups; a host without a delay is absent
    assert(delays == Map("h.com" -> 5L), s"delays: $delays")
  }

  test("robotsFilter: longest-match precedence, Allow wins length ties") {
    import spark.implicits._
    val rules = Seq(
      ("a.com", "/a", false), ("a.com", "/legal", false),
      ("a.com", "/articles/", true),   // carve-out UNDER Disallow /a
      ("b.com", "/", false),
      ("c.com", "/t", false), ("c.com", "/t", true)) // exact tie → Allow
      .toDF("host", "prefix", "allow")
    val cands = Seq(
      "http://a.com/about",         // blocked: /a prefixes /about
      "http://a.com/articles/x",    // KEPT: Allow /articles/ is longer
                                    // than Disallow /a (RFC 9309 carve-out)
      "http://a.com/legal?x=1",     // blocked: query rides the path
      "http://a.com/ok",            // kept: no matching rule
      "http://a.com",               // kept: '' path, no prefix starts it
      "http://b.com/anything",      // blocked: Disallow /
      "http://b.com",               // kept: bare origin ('' path) — the
                                    // documented canonical-form quirk
      "http://c.com/tx",            // kept: equal-length tie → Allow
      "http://d.com/a")             // kept: no rules for d.com
      .map(Tuple1(_)).toDF("url")
    val kept = Urls.robotsFilter(cands, col("url"), rules)
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("http://a.com/articles/x", "http://a.com/ok",
      "http://a.com", "http://b.com", "http://c.com/tx", "http://d.com/a"),
      s"kept: $kept")
  }

  test("robotsRules: stacked agent lines survive blank and comment-only " +
      "interleaves (RFC 9309 grammar)") {
    import spark.implicits._
    val body =
      """User-agent: *
        |
        |# comment between stacked agents
        |User-agent: other
        |Disallow: /x
        |""".stripMargin
    val rules = Urls.robotsRules(
        Seq(("h.com", body)).toDF("host", "body"), col("host"), col("body"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSet
    // the blank line and the comment-only line sit INSIDE the agent
    // stack — a directly-preceded group test starts a second group at
    // 'User-agent: other' and silently drops /x from the wildcard
    // agent (the crawler then fetches a disallowed path)
    assert(rules == Set(("h.com", "/x", false)), s"rules: $rules")
  }

  test("robotsFilter: RFC 9309 §2.2.3 wildcards — '*' runs, '$' anchor, " +
      "specificity includes wildcards, LIKE metachars stay literal") {
    import spark.implicits._
    val rules = Seq(
      ("a.com", "/*.pdf$", false),   // classic: block every pdf
      ("a.com", "/pub*", true),      // wildcard Allow, longer than /p…
      ("a.com", "/p", false),
      ("b.com", "/d$", false),       // anchor: exactly /d, not /dx
      ("c.com", "/100%_a*", false))  // literal % and _ in a WILDCARD
                                     // rule — rides the LIKE path
      .toDF("host", "prefix", "allow")
    val cands = Seq(
      "http://a.com/docs/file.pdf",  // blocked: /*.pdf$ matches via *
      "http://a.com/docs/file.pdfx", // kept: $ anchors — .pdfx no match
      "http://a.com/pub/file.pdf",   // blocked: /*.pdf$ (7 octets) beats
                                     // Allow /pub* (5 octets) — most
                                     // octets wins, wildcards counted
      "http://a.com/pubx",           // kept: Allow /pub* (5) beats /p (2)
      "http://b.com/d",              // blocked: exact anchored match
      "http://b.com/dx",             // kept: anchor rejects the suffix
      "http://c.com/100%_ab",        // blocked: % and _ matched literally
      "http://c.com/100xya")         // kept: unescaped, LIKE '/100%_a%'
                                     // WOULD match it (%→'x', _→'y')
      .map(Tuple1(_)).toDF("url")
    val kept = Urls.robotsFilter(cands, col("url"), rules)
      .collect().map(_.getString(0)).toSet
    val want = Set("http://a.com/docs/file.pdfx", "http://a.com/pubx",
      "http://b.com/dx", "http://c.com/100xya")
    assert(kept == want, s"kept: $kept")
  }

  test("robotsSitemaps: group-unscoped, case-insensitive, comments stripped, " +
      "empty values ignored") {
    import spark.implicits._
    val body =
      """User-agent: bot
        |Disallow: /
        |Sitemap: https://h.com/a.xml
        |User-agent: *
        |Disallow: /x
        |sitemap: https://h.com/b.xml # primary
        |SITEMAP:
        |""".stripMargin
    val maps = Urls.robotsSitemaps(
        Seq(("h.com", body)).toDF("host", "body"), col("host"), col("body"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // a.xml sits inside the bot group, b.xml inside '*' — BOTH apply
    // (RFC 9309 §2.3: sitemap lines are not group-scoped); the
    // case-varied directive parses, the inline comment strips, the
    // empty value yields nothing
    assert(maps == Set(("h.com", "https://h.com/a.xml"),
      ("h.com", "https://h.com/b.xml")), s"sitemaps: $maps")
  }

  test("sitemapLocs: document order, whitespace-insensitive, one-pass XML " +
      "entity decode with &amp; last") {
    import spark.implicits._
    val xml =
      """<?xml version="1.0"?><urlset>
        |<url><loc>https://h.com/</loc><lastmod>2024-01-01</lastmod></url>
        |<url><loc>
        |   https://h.com/a?x=1&amp;y=2
        |</loc></url>
        |<url><loc>https://h.com/o&apos;brien&amp;amp;sons</loc></url>
        |<url><loc>https://h.com/&quot;q&quot;&lt;b&gt;</loc></url>
        |</urlset>""".stripMargin
    val locs = Seq(Tuple1(xml)).toDF("xml")
      .select(Urls.sitemapLocs(col("xml")).as("locs"))
      .collect()(0).getSeq[String](0)
    assert(locs == Seq(
      "https://h.com/",
      "https://h.com/a?x=1&y=2",
      // &amp;amp; one-pass-decodes to a LITERAL &amp; (conforming XML),
      // never all the way to '&'
      "https://h.com/o'brien&amp;sons",
      "https://h.com/\"q\"<b>"), locs)
  }

  test("sitemapMeta: lastmod binds to ITS OWN entry, NULL when absent, " +
      "loc order and kind agree with sitemapEntries") {
    import spark.implicits._
    val urlset =
      """<?xml version="1.0"?><urlset>
        |<url><loc>https://h.com/</loc><lastmod>2024-01-01</lastmod></url>
        |<url><loc>
        |   https://h.com/a?x=1&amp;y=2
        |</loc></url>
        |<url><lastmod>2024-03-05T12:00:00Z</lastmod>
        |<loc>https://h.com/b</loc></url>
        |</urlset>""".stripMargin
    val index =
      """<sitemapindex>
        |<sitemap><loc>https://h.com/pages-1.xml</loc>
        |<lastmod>2024-02-01</lastmod></sitemap>
        |<sitemap><loc>https://h.com/pages-2.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin
    val bodies = Seq(("u", urlset), ("i", index)).toDF("host", "xml")
    val meta = Urls.sitemapMeta(bodies, col("host"), col("xml"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3), Option(r.getString(4)))).sortBy(t => (t._1, t._3))
    assert(meta.toSeq == Seq(
      // lastmod BEFORE loc inside an entry still binds to that entry
      ("i", "index", 0, "https://h.com/pages-1.xml", Some("2024-02-01")),
      ("i", "index", 1, "https://h.com/pages-2.xml", None),
      ("u", "urlset", 0, "https://h.com/", Some("2024-01-01")),
      ("u", "urlset", 1, "https://h.com/a?x=1&y=2", None),
      ("u", "urlset", 2, "https://h.com/b", Some("2024-03-05T12:00:00Z"))),
      meta.toSeq)
    // loc values and kinds agree with the loc-only entry parse
    val entries = Urls.sitemapEntries(bodies, col("host"), col("xml"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3))).sortBy(t => (t._1, t._3))
    assert(entries.toSeq == meta.map(m => (m._1, m._2, m._3, m._4)).toSeq)
  }

  test("rawHostLower is a SAFE pre-gate: raw-blocked implies canonical-blocked") {
    import spark.implicits._
    val blocked = Seq("bad.com", "ads.example.com")
    // adversarial spellings: case, www, ports, percent-escapes in and
    // around the matched suffix, whitespace, schemeless, dot-segments
    val urls = Seq(
      "http://bad.com/x", "HTTPS://WWW.BAD.COM:443/y", "http://a.bad.com/z",
      "http://xbad.com/ok", "http://bad.com.evil.org/ok",
      "http://b%61d.com/escaped-host", "http://www.ads.example.com/p?q=1",
      "  http://bad.com/leading-ws", "bad.com/schemeless",
      "http://sub.ads.example.com/../up", "ftp://www.bad.com/nonhttp",
      "http://ads.example.com%2Ffake/ok", "http://good.com/bad.com")
      .toDF("url")
    val rows = urls.select(col("url"),
        Urls.hostBlocked(Urls.rawHostLower(col("url")), blocked).as("raw_b"),
        Urls.hostBlocked(Urls.hostOf(Urls.canonicalize(col("url"))), blocked)
          .as("canon_b"))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    rows.foreach { case (u, rawB, canonB) =>
      assert(!rawB || canonB,
        s"'$u': raw gate dropped a row the canonical gate keeps")
    }
    // and the gate is not vacuous: it catches the plain spellings
    assert(rows.count(_._2) >= 4, rows.mkString("\n"))
    // the escaped-host spelling slips the raw gate but NOT the exact
    // canonical gate — the reason the downstream gate must stay
    val esc = rows.find(_._1.contains("%61")).get
    assert(!esc._2 && esc._3, s"escaped-host: $esc")
  }

  test("politeWavesCapped: per-host caps, default for capless hosts") {
    import spark.implicits._
    val urls = (1 to 6).map(i => (s"http://a.com/$i", i.toLong)) ++
      (1 to 4).map(i => (s"http://b.com/$i", 5L)) ++
      Seq(("http://c.com/1", 1L), ("http://c.com/2", 1L))
    val caps = Seq(("a.com", 3L), ("b.com", 1L)).toDF("host", "cap")
    val out = Urls.politeWavesCapped(urls.toDF("url", "n_refs"),
        col("url"), col("n_refs"), caps, defaultCap = 2)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3),
        r.getLong(4)))
    // per-host per-wave multiplicity == that host's cap
    out.groupBy(t => (t._2, t._4)).foreach { case ((h, w), g) =>
      val cap = Map("a.com" -> 3, "b.com" -> 1).getOrElse(h, 2)
      assert(g.size <= cap, s"wave $w overfull for $h: $g")
    }
    // a: 6 urls / cap 3 → waves {0,1}; b: 4 / 1 → {0,1,2,3}; c
    // (capless): 2 / default 2 → {0}
    val byHost = out.groupBy(_._2).view.mapValues(_.map(_._4).toSet).toMap
    assert(byHost("a.com") == Set(0L, 1L), s"$byHost")
    assert(byHost("b.com") == Set(0L, 1L, 2L, 3L), s"$byHost")
    assert(byHost("c.com") == Set(0L), s"$byHost")
    // the joined cap column reports what applied
    assert(out.filter(_._2 == "c.com").forall(_._3 == 2L))
  }

  test("politeWavesCappedWide ≡ politeWavesCapped row-for-row on a " +
      "skewed frontier, across partition-count choices") {
    import spark.implicits._
    // one mega-host (90%), a tail of small hosts, duplicate
    // priorities inside the mega-host so order falls to the url
    // tiebreak; sized to straddle many range partitions
    val rows = (1 to 900).map(i =>
        (s"http://mega.com/p/${1000 + i}", (i % 7).toLong)) ++
      (1 to 100).map(i => (s"http://t${i % 13}.com/p/$i", (i % 5).toLong))
    val df = rows.toDF("url", "n_refs")
    val caps = Seq(("mega.com", 4L), ("t1.com", 1L)).toDF("host", "cap")
    val plain = Urls.politeWavesCapped(df, col("url"), col("n_refs"),
        caps, defaultCap = 2)
      .collect().map(_.toSeq).toSet
    for (p <- Seq(3, 7, 32)) {
      val wide = Urls.politeWavesCappedWide(df, col("url"), col("n_refs"),
          caps, defaultCap = 2, partitions = p)
        .collect().map(_.toSeq).toSet
      assert(wide == plain, s"wide(p=$p) must equal the plain schedule")
    }
  }

  test("ipGroups: grouped hosts share ONE wave budget under the " +
      "strictest member cap; ungrouped hosts schedule unchanged") {
    import spark.implicits._
    val urls = (1 to 4).map(i => (s"http://a.com/$i", 9L)) ++
      (1 to 4).map(i => (s"http://b.com/$i", 1L)) ++ // same server as a
      (1 to 4).map(i => (s"http://c.com/$i", 5L))    // own server
    val df = urls.toDF("url", "n_refs")
    val caps = Seq(("a.com", 4L), ("b.com", 2L)).toDF("host", "cap")
    val groups = Seq(("a.com", "srv1"), ("b.com", "srv1"))
      .toDF("host", "ip_group")
    val out = Urls.politeWavesCapped(df, col("url"), col("n_refs"), caps,
        defaultCap = 3, ipGroups = Some(groups))
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    // srv1's budget = min(4, 2) = 2 per wave ACROSS a.com+b.com: the
    // 8 urls rank a.com first (priority 9 > 1) → waves 0..3, two per
    // wave, never two hosts' own caps side by side
    val srv = out.filter(_._3 == "srv1")
    assert(srv.forall(_._4 == 2L), s"strictest member cap governs: $srv")
    assert(srv.groupBy(_._5).forall(_._2.size == 2), s"$srv")
    val aWaves = srv.filter(_._2 == "a.com").map(_._5).toSet
    val bWaves = srv.filter(_._2 == "b.com").map(_._5).toSet
    assert(aWaves == Set(0L, 1L) && bWaves == Set(2L, 3L),
      s"one shared queue, priority-ordered: a=$aWaves b=$bWaves")
    // ungrouped host: own key, default cap — exactly the plain form
    val c = out.filter(_._2 == "c.com")
    assert(c.forall(t => t._3 == "c.com" && t._4 == 3L), s"$c")
    assert(c.map(_._5).toSet == Set(0L, 1L), s"$c")
    // and row-for-row: the plain schedule restricted to ungrouped
    // hosts is unchanged by passing a groups frame
    val plainC = Urls.politeWavesCapped(df, col("url"), col("n_refs"),
        caps, defaultCap = 3)
      .collect().map(r => (r.getString(0), r.getLong(4)))
      .filter(_._1.startsWith("http://c.com")).toSet
    assert(c.map(t => (t._1, t._5)).toSet == plainC)
  }

  test("ipGroups: politeWavesCappedWide ≡ politeWavesCapped under " +
      "grouping, across partition-count choices") {
    import spark.implicits._
    val rows = (1 to 300).map(i =>
        (s"http://v${i % 9}.mega.com/p/${1000 + i}", (i % 7).toLong)) ++
      (1 to 60).map(i => (s"http://t${i % 13}.com/p/$i", (i % 5).toLong))
    val df = rows.toDF("url", "n_refs")
    val caps = Seq(("v1.mega.com", 4L), ("v2.mega.com", 1L), ("t1.com", 1L))
      .toDF("host", "cap")
    // all vanity hosts of one mega server share a group
    val groups = (0 until 9).map(i => (s"v$i.mega.com", "megasrv"))
      .toDF("host", "ip_group")
    val plain = Urls.politeWavesCapped(df, col("url"), col("n_refs"),
        caps, defaultCap = 2, ipGroups = Some(groups))
      .collect().map(_.toSeq).toSet
    for (p <- Seq(3, 32)) {
      val wide = Urls.politeWavesCappedWide(df, col("url"), col("n_refs"),
          caps, defaultCap = 2, partitions = p, ipGroups = Some(groups))
        .collect().map(_.toSeq).toSet
      assert(wide == plain, s"wide(p=$p) must equal the grouped schedule")
    }
  }

  test("robotsRulesWithStatus: RFC 9309 fetch-status semantics — 2xx " +
      "parses, 4xx allows all (even over a disallowing body), 5xx " +
      "blocks everything until a successful fetch") {
    import spark.implicits._
    val body = "User-agent: *\nDisallow: /a\n"
    val hosts = Seq(
      ("ok.com", body, 200),
      ("nullst.com", body, 0),     // encodes a null status below
      ("gone.com", "User-agent: *\nDisallow: /\n", 404),
      ("down.com", "", 503),
      ("moved.com", "", 301))      // unresolved redirect = unreachable
      .toDF("host", "body", "st")
      .withColumn("http_status",
        when(col("st") === 0, lit(null).cast("int")).otherwise(col("st")))
    val rules = Urls.robotsRulesWithStatus(hosts, col("host"), col("body"),
      col("http_status"))
    val byHost = rules.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byHost("ok.com") == Set(("/a", false)), s"$byHost")
    assert(byHost("nullst.com") == Set(("/a", false)),
      "null status means 200")
    assert(!byHost.contains("gone.com"),
      "4xx = unavailable = NO restrictions, the body is not trusted")
    assert(byHost("down.com") == Set(("/", false)), s"$byHost")
    assert(byHost("moved.com") == Set(("/", false)), s"$byHost")
    // and the gate composes: the 503 host loses every URL, the 404
    // host keeps even the path its stale body disallowed
    val cand = Seq("http://ok.com/a/x", "http://ok.com/b",
      "http://gone.com/a", "http://down.com/anything")
      .toDF("url")
    val kept = Urls.robotsFilter(cand, col("url"), rules)
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("http://ok.com/b", "http://gone.com/a"), s"$kept")
  }

  test("redirectHop/followRedirects: hop guard, chains, cap, hop count") {
    import spark.implicits._
    val (fin, hops) = Urls.followRedirects(col("url"))
    val out = Seq(
      "https://h.com/old/x",            // 1 hop → /x
      "https://h.com/old/old/x",        // 2 hops → /x
      "https://h.com/old/old/old/old/x",// 4 hops: cap 3 leaves /old/... wait
      "https://h.com/x",                // no redirect
      "https://h.com/sold/x",           // '/sold/' is NOT '/old/' — no hop
      "https://h.com/a/old/x",          // '/old' mid-path is not a prefix
      "https://h.com/old/x?q=old",      // query untouched by the strip
      "http://h.com")                   // bare origin: no path, no hop
      .toDF("url")
      .select(col("url"), fin.as("fin"), hops.as("n"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out("https://h.com/old/x") == (("https://h.com/x", 1L)))
    assert(out("https://h.com/old/old/x") == (("https://h.com/x", 2L)))
    // the cap leaves a still-redirecting chain at its last location
    assert(out("https://h.com/old/old/old/old/x") ==
      (("https://h.com/old/x", 3L)))
    assert(out("https://h.com/x") == (("https://h.com/x", 0L)))
    assert(out("https://h.com/sold/x") == (("https://h.com/sold/x", 0L)))
    assert(out("https://h.com/a/old/x") == (("https://h.com/a/old/x", 0L)))
    assert(out("https://h.com/old/x?q=old") ==
      (("https://h.com/x?q=old", 1L)))
    assert(out("http://h.com") == (("http://h.com", 0L)))
  }

  test("frontier composition: discovered links already crawled are excluded") {
    import spark.implicits._
    // two fetched pages on one host: page 1 links to page 2 (already
    // crawled — must NOT re-enter the frontier) and to a novel page
    val pages = Seq(
      ("http://a.com/p1",
        "<p><a href=\"/p2\">two</a> <a href=\"new.html\">n</a></p>"),
      ("http://a.com/p2", "<p>no links here</p>"))
      .toDF("canon_url", "html")
    val crawled = pages.select(col("canon_url"))
    val frontier = pages
      .select(col("canon_url").as("referrer"),
        explode(Html.linkHrefs(col("html"))).as("href"))
      .select(Urls.canonicalize(
        Urls.resolveHref(col("referrer"), col("href"))).as("url"))
      .join(crawled.withColumnRenamed("canon_url", "url"), Seq("url"), "left_anti")
      .collect().map(_.getString(0)).toSet
    assert(frontier == Set("http://a.com/new.html"), s"frontier: $frontier")
  }

  test("pct/qsort kernels == relational references (adversarial fuzz)") {
    import spark.implicits._
    // piece pool biased toward the kernels' edges: escapes in every
    // case/validity class, bare and doubled '%', multi-byte text,
    // empty params, repeated '?', '&' runs
    val pieces = Vector("%7E", "%7e", "%3f", "%3F", "%41", "%zz", "%4", "%",
      "%%41", "?", "&", "a=1", "b=2", "A=3", "=", "", "x", "é", "日本", "~",
      "%C3%A9", "%e9", "?b=2&a=1", "#f", "/p")
    val rng = new scala.util.Random(7)
    val urls = (0 until 400).map(_ =>
      "http://h.com/" + (0 until rng.nextInt(8))
        .map(_ => pieces(rng.nextInt(pieces.size))).mkString) :+
      "" :+ "?" :+ "%" :+ "a?b?c&d"
    val df = urls.toDF("u")
    val rows = df.select(col("u"),
        graft.plans.GraftFunctions.urlPct(col("u")).as("kp"),
        Urls.percentNormalizeStaged(col("u")).as("sp"),
        graft.plans.GraftFunctions.urlQsort(col("u")).as("kq"),
        Urls.sortQueryParamsStaged(col("u")).as("sq"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"pct mismatch on '${r.getString(0)}': " +
          s"kernel='${r.getString(1)}' staged='${r.getString(2)}'")
      assert(r.getString(3) == r.getString(4),
        s"qsort mismatch on '${r.getString(0)}': " +
          s"kernel='${r.getString(3)}' staged='${r.getString(4)}'")
    }
  }

  test("dotfold kernel == relational stack walk (adversarial fuzz)") {
    import spark.implicits._
    // segment pool biased toward the fold's edges: dots in every
    // position, dotted names, empty segments, deep pops past the
    // root, query/fragment text that must stay untouched
    val segs = Vector(".", "..", "...", "a", "b.", ".c", "a.b", "", "x")
    val rng = new scala.util.Random(11)
    val urls = (0 until 400).map { _ =>
      val path = (0 until rng.nextInt(7)).map(_ =>
        "/" + segs(rng.nextInt(segs.size))).mkString
      val tail = rng.nextInt(4) match {
        case 0 => "?q=/./x&a=1" // dot segments in a QUERY stay put
        case 1 => "?b=2&a=1"
        case 2 => "#/../f"      // and in a fragment
        case _ => ""
      }
      s"http://h.com$path$tail"
    } ++ Seq("http://h.com", "http://h.com/", "no-scheme/./x", "",
      "http://h.com/..", "http://h.com/.", "mailto:x@y")
    val rows = urls.toDF("u").select(col("u"),
        graft.plans.GraftFunctions.urlDotfold(col("u")).as("k"),
        Urls.foldDotSegmentsStaged(col("u")).as("s"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"dotfold mismatch on '${r.getString(0)}': " +
          s"kernel='${r.getString(1)}' staged='${r.getString(2)}'")
    }
  }

  test("full-cascade kernel == staged cascade (adversarial fuzz + corpus)") {
    import spark.implicits._
    // piece pool spanning EVERY cascade rule's edges at once: schemes
    // in all cases (valid, missing, scheme-shaped garbage), www and
    // near-www hosts, default/other ports with and without paths,
    // percent escapes in every validity class, dot segments in every
    // position, tracking params in every slot (leading/middle/sole/
    // repeated/prefix-named), empty and repeated '?', '&' runs, slash
    // runs before query and end, fragments carrying separators,
    // multi-byte text, whitespace padding
    val scheme = Vector("http://", "HTTPS://", "hTtp://", "ftp://", "", "a+b://",
      "1http://", "http:/", "http:")
    val host = Vector("a.com", "WWW.A.com", "www.a.com", "wwwx.a.com",
      "EX%41MPLE.com", "h%2Fost.com", "日本.jp", "", "www.")
    val port = Vector("", ":80", ":443", ":8080", ":", ":80x", ":0080")
    val path = Vector("", "/", "//", "/x", "/x/", "/x///", "/./x", "/a/../x",
      "/../x", "/x/..", "/a//../x", "/%2E%2E/x", "/a./..b", "/%7Efoo",
      "/%7e/%3f/%zz/%4", "/t~x", "/é/日本", "/.", "/..")
    val query = Vector("", "?", "??", "?b=2&a=1", "?utm_source=f",
      "?utm_a=1&utm_b=2", "?id=2&utm_source=f&z=9", "?ref=r&ref=s&b=2",
      "?referrer=keep", "?gclid=g", "?fbclid=z&fbclid=y", "?utm_=1&utm=2",
      "?a=1&&b=2", "?=", "?a", "?ref=", "?utm_x=%26&a=1", "?a=1?b=2",
      "?REF=up", "?a=1&ref=x")
    val frag = Vector("", "#f", "#frag?fake=1&z=2", "##", "#/../x")
    val pad = Vector("", " ", "  ")
    val rng = new scala.util.Random(17)
    def pick(v: Vector[String]) = v(rng.nextInt(v.size))
    val urls = (0 until 1200).map { _ =>
      pick(pad) + pick(scheme) + pick(host) + pick(port) + pick(path) +
        pick(query) + pick(frag) + pick(pad)
    } ++ Seq("", " ", "not a url", "http://", "https://www.", "?utm_a=1",
      "&gclid=x", "a?b?c&d", "http://a.com/x?utm_a=1&utm_b=2&utm_c=3",
      "http://a.com:80?utm_source=f#f", "HTTP://WWW.EX%41MPLE.COM:80/./a/../b//?b=&a&utm_b=1#z")
    val df = urls.toDF("u")
    val rows = df.select(col("u"),
        Urls.canonicalize(col("u")).as("k"),
        Urls.canonicalizeStaged(col("u")).as("s"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"canon kernel mismatch on '${r.getString(0)}': " +
          s"kernel='${r.getString(1)}' staged='${r.getString(2)}'")
    }
    // and over the registered corpus fixture (the shape the oracle
    // replays at sf0.01)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Urls.syntheticUrl(col("doc_id"), col("source")).as("u"))
      .select(col("u"), Urls.canonicalize(col("u")).as("k"),
        Urls.canonicalizeStaged(col("u")).as("s"))
      .collect()
    corpus.foreach(r => assert(r.getString(1) == r.getString(2),
      s"corpus canon mismatch on '${r.getString(0)}'"))
  }

  test("full-cascade kernel: line-terminator inputs replay the staged regexes") {
    import spark.implicits._
    // java.util.regex '.'/'$' special-case line terminators; the
    // kernel's slow path must stay bit-equal there too
    val urls = Seq("http://a.com/x#f\nrest", "http://a.com:80\n/x",
      "http://a.com/x?utm_a=1\n&b=2", "http://a.com/x/\n", "http://a.com/x#f\n",
      "http://a\u2028.com/x#f", "http://a.com/x?a=\u00852&b=1#f\r\n",
      "\nhttp://a.com/x", "http://a.com/x?b=2&a=1\r")
    val rows = urls.toDF("u").select(col("u"),
        Urls.canonicalize(col("u")).as("k"),
        Urls.canonicalizeStaged(col("u")).as("s"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"slow-path mismatch on '${r.getString(0).replace("\n", "\\n")}': " +
          s"kernel='${r.getString(1)}' staged='${r.getString(2)}'")
    }
  }

  test("hrefIsCandidate ≡ resolveHref yields a candidate (the cheap-gate law)") {
    import spark.implicits._
    val hrefs = Seq("#f", "", "mailto:x@y", "javascript:void(0)", "tel:+1",
      "data:,hi", "http://b.com/x", "HTTPS://b.com", "//b.com/x", "/p",
      "p/q", "../up", "z:1/y", "a:b://c", "p?q=1", "#", "./x")
    val rows = hrefs.map(("http://a.com/d/", _)).toDF("base", "href")
      .select(col("href"),
        Urls.hrefIsCandidate(col("href")).as("gate"),
        Urls.resolveHref(col("base"), col("href")).isNotNull.as("resolved"))
      .collect()
    rows.foreach(r => assert(r.getBoolean(1) == r.getBoolean(2),
      s"gate/resolve disagree on '${r.getString(0)}': " +
        s"gate=${r.getBoolean(1)} resolved=${r.getBoolean(2)}"))
  }

  test("keep-first URL dedup recovers planted collisions; blocklist gates pre-group") {
    val df = Seq(
      (10L, "HTTP://www.A.com:80/p/?utm_source=x"), // canon: http://a.com/p
      (3L, "http://a.com/p"),                       // same page, first fetch
      (7L, "https://a.com/p"),                      // different scheme: distinct
      (5L, "http://ads.bad.com/z"),                 // blocked by suffix
      (6L, "http://bad.com/z"),                     // blocked exactly
      (8L, "http://notbad.com/z"))                  // NOT blocked (no dot-suffix match)
      .toDF("doc_id", "url")
    val out = Urls.dedupByUrl(df, col("url"), col("doc_id"), Seq("bad.com"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(
      "http://a.com/p" -> ((3L, 2L)),
      "https://a.com/p" -> ((7L, 1L)),
      "http://notbad.com/z" -> ((8L, 1L))))
  }

  test("the registered fixture plants exact d/d+300 canon collisions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val c = docs.select(col("doc_id"),
        Urls.canonicalize(
          Urls.syntheticUrl(col("doc_id"), col("source"))).as("canon"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = c.size
    c.keys.filter(d => c.contains(d + 300)).foreach { d =>
      assert(c(d) == c(d + 300), s"doc $d and ${d + 300} must collide")
    }
    // and nothing else collides: distinct canon count = docs - planted pairs
    val planted = c.keys.count(d => c.contains(d + 300))
    assert(c.values.toSet.size == n - planted)
  }

  test("canonicalization + gate stay a pushdown-friendly single scan") {
    val dir = java.nio.file.Files.createTempDirectory("url_plan").toString
    Seq((1L, "http://a.com/x/"), (2L, "https://b.com/y?utm_source=f"))
      .toDF("doc_id", "url").write.mode("overwrite").parquet(dir)
    val plan = Urls.dedupByUrl(spark.read.parquet(dir), col("url"),
        col("doc_id"), Seq("bad.com"))
      .queryExecution.executedPlan.toString
    // exactly one exchange: the keep-first groupBy on the canonical
    // URL (with map-side partial min/count); the blocklist filter and
    // the whole cascade run before it
    assert(plan.split("Exchange").length - 1 == 1,
      s"URL dedup should shuffle exactly once:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial"),
      s"keep-first must combine map-side:\n$plan")
    // NOTE the plan TEXT shows the cascade inlined several times
    // (CollapseProject substitutes the canon/host aliases into the
    // filter); that is fine — the copies are identical unconditional
    // subtrees in one codegen stage and subexpression elimination
    // evaluates the cascade once. See Urls.dedupByUrl's plan-shape
    // note for the measured A/B against the "cheap gate" rewrite.
  }
}
