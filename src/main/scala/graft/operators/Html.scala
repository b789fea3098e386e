package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML main-text extraction — the crawl pipeline's missing front
  * door (reference scope: the candy pipeline ingests pre-extracted
  * JSON/CSV; C4/CCNet/RefinedWeb-style corpora start at raw HTML, so
  * a library claiming the LLM-data surface needs the
  * trafilatura/jusText slot before any text operator can run).
  *
  * The extraction contract is the five-stage cascade documented on
  * [[graft.plans.HtmlExtract]]: strip comments/scripts/styles →
  * block segmentation on the HTML5 block-tag set (attributed or
  * bare — `<div class="c">` delimits like `<p>`) + newlines → per-block
  * generic-tag strip + link count → entity decode → whitespace
  * collapse → keep a block iff it has ≥ `minTokens` tokens and link
  * density ≤ 1/`linkDensityInv` (integer-exact:
  * links·linkDensityInv ≤ tokens). Deterministic and closed-form, so
  * DuckDB replays it verbatim — the `tx_extract_html` oracle row is
  * hash-exact, not heuristic-approximate.
  *
  * Two implementations, bit-equal (HtmlExtractSpec's parity law):
  *  - [[extractMainText]]: the `graft_html_extract` codegen kernel —
  *    one byte-walk per page, a pure projection, NO shuffle. The
  *    registered/scale path: extraction touches every raw byte of a
  *    crawl, so at 100 TB it must not explode blocks or reassemble
  *    per-document state through a corpus-sized groupBy.
  *  - [[extractMainTextStaged]]: the relational cascade (explode +
  *    ordered reassembly) — the spec reference and the shape the
  *    oracle SQL mirrors.
  */
object Html {

  /** jusText-style keep thresholds: ≥5 tokens, link density ≤ 1/5. */
  val minKeepTokens = 5
  val linkDensityInv = 5

  /** The numeric-entity gauntlet the fixture plants over ' stream '
    * tokens — one specimen per S4 decode branch: decimal and hex refs
    * (NBSP twice over, an em dash), the named `&nbsp;`, a non-BMP
    * codepoint (surrogate-pair emission), and the four invalid
    * classes that must fall through as literal text (lone surrogate,
    * beyond U+10FFFF, over-long digit run, codepoint zero), closing
    * with a decoded `&#10;` that must collapse to a space rather than
    * split the block. Pure ASCII so both engines plant identical
    * bytes. */
  val entityGauntlet: String =
    " s&#160;t &#x2014; u&nbsp;v &#x1F600; &#xD800; &#1114112; " +
      "&#99999999; &#x0; w&#10;x "

  /** Kernel path: one codegen'd projection per page. `carry` columns
    * ride through unchanged (composites keep their URL/fetch columns
    * without a join-back).
    *
    * `dropNullHtml` (default true) drops null pages — mirroring the
    * staged path, where a null html explodes into zero block rows.
    * Pass FALSE when `html` is an in-plan DERIVED expression that is
    * non-null by construction (e.g. a concat of non-null inputs):
    * the null gate is a predicate on `html`, and Catalyst pushes it
    * down by CLONING html's whole defining expression into the
    * filter — measured on the 100× rehearsal, the clone landed in a
    * broadcast-nested-loop join CONDITION (interpreted, outside any
    * codegen stage, no subexpression sharing with the projection)
    * and re-ran the page-synthesis regex chain per row: 29 s vs 10 s
    * for the identical result. Same family as the scan-filter
    * kernel-substitution trap (Dedup short-doc gate), one operator
    * further up. */
  def extractMainText(df: DataFrame, html: Column, id: Column,
                      minTokens: Int = minKeepTokens,
                      densityInv: Int = linkDensityInv,
                      carry: Seq[Column] = Nil,
                      dropNullHtml: Boolean = true): DataFrame = {
    // the output schema's names are a CONTRACT — a carry column named
    // main_text would be silently clobbered by the struct expansion
    // below, so collisions (and carry-vs-carry duplicates) fail loudly
    val eTmp = "__graft_html_e"
    val outCols = Seq("doc_id", "main_text", "n_blocks", "kept_blocks",
      "n_links", eTmp)
    val carryNames = carry.map(c => df.select(c).columns.head)
    require(carryNames.toSet.intersect(outCols.toSet).isEmpty,
      s"extractMainText: carry column(s) ${
        carryNames.filter(outCols.contains)
          .mkString("'", "', '", "'")} collide with the output schema " +
        s"(reserved: ${outCols.mkString(", ")}) — alias them first")
    require(carryNames.distinct == carryNames,
      s"extractMainText: duplicate carry column names $carryNames")
    val in = if (dropNullHtml) df.filter(html.isNotNull) else df
    in.select(id.as("doc_id") +: graft.plans.GraftFunctions.htmlExtract(html,
        minTokens, densityInv).as(eTmp) +: carry: _*)
      .withColumn("main_text", col(s"$eTmp.main_text"))
      .withColumn("n_blocks", col(s"$eTmp.n_blocks"))
      .withColumn("kept_blocks", col(s"$eTmp.kept_blocks"))
      .withColumn("n_links", col(s"$eTmp.n_links"))
      .drop(eTmp)
  }

  /** S4 single-pass entity decode, relational form: split on '&' and
    * decode each piece's LEADING entity — named (`amp lt gt quot
    * nbsp`) or numeric character reference (`#d{1,7};` decimal,
    * `#[xX]h{1,6};` hex; decoded iff 1 ≤ cp ≤ 0x10FFFF and not a
    * surrogate), else the '&' was literal text. Exactly the kernel's
    * one pass (decode output is never re-parsed: a former replace()
    * CASCADE would re-match what an earlier stage produced —
    * `&#38;#x41;` must stay the literal text `&#x41;`, not become
    * 'A'). Codepoint → string is `reflect(java.lang.Character,
    * toString, cp)` — the staged path is the interpreted reference,
    * not the scale path, so a reflective per-piece call is fine. */
  private def decodeEntities(c: Column): Column = {
    val pieces = split(c, "&", -1)
    def rest(p: Column, after: Column): Column = p.substr(after, length(p))
    def decodePiece(p: Column): Column = {
      val decDig = regexp_extract(p, "^#([0-9]{1,7});", 1)
      val hexDig = regexp_extract(p, "^#[xX]([0-9a-fA-F]{1,6});", 1)
      val cp = when(decDig =!= "", decDig.cast("long"))
        .when(hexDig =!= "", conv(hexDig, 16, 10).cast("long"))
        .otherwise(lit(-1L))
      val cpOk = cp >= 1L && cp <= 0x10FFFFL && !(cp >= 0xD800L && cp <= 0xDFFFL)
      val entEnd = when(decDig =!= "", length(decDig) + lit(3))
        .otherwise(length(hexDig) + lit(4)) // '#x' + digits + ';' + 1
      val cpStr = call_function("reflect", lit("java.lang.Character"),
        lit("toString"), cp.cast("int"))
      when(p.startsWith("amp;"), concat(lit("&"), rest(p, lit(5))))
        .when(p.startsWith("lt;"), concat(lit("<"), rest(p, lit(4))))
        .when(p.startsWith("gt;"), concat(lit(">"), rest(p, lit(4))))
        .when(p.startsWith("quot;"), concat(lit("\""), rest(p, lit(6))))
        .when(p.startsWith("nbsp;"), concat(lit("\u00A0"), rest(p, lit(6))))
        .when(cpOk, concat(cpStr, rest(p, entEnd)))
        .otherwise(concat(lit("&"), p))
    }
    concat(element_at(pieces, 1),
      array_join(transform(slice(pieces, lit(2), greatest(size(pieces) - 1, lit(0))),
        decodePiece(_)), ""))
  }

  /** Staged relational reference: the cascade stage by stage, with a
    * block explode and an ordered per-document reassembly — an extra
    * corpus-sized shuffle the kernel path avoids. Retained as the
    * living spec of the contract (and the shape the oracle mirrors),
    * not the path to run at scale. */
  def extractMainTextStaged(df: DataFrame, html: Column, id: Column,
                            minTokens: Int = minKeepTokens,
                            densityInv: Int = linkDensityInv): DataFrame = {
    val s1 = regexp_replace(html,
      "(?s)<!--.*?-->|<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " ")
    val s2 = regexp_replace(s1, graft.plans.HtmlExtract.blockTagRegex, "\n")
    val blocks = df.select(id.as("doc_id"),
      posexplode(split(s2, "\n", -1)).as(Seq("pos", "blk")))
    val links = size(regexp_extract_all(col("blk"), lit("<a[ >]"), lit(0)))
    val txt = trim(regexp_replace(
      decodeEntities(regexp_replace(col("blk"), "<[^>]*>", " ")),
      "[ \\t\\n\\r\\f]+", " "))
    val perBlock = blocks
      .select(col("doc_id"), col("pos"), txt.as("txt"), links.as("links"))
      .withColumn("ntok",
        when(col("txt") === "", 0).otherwise(size(split(col("txt"), " "))))
      .withColumn("keep",
        col("ntok") >= minTokens && col("links") * densityInv <= col("ntok"))
    perBlock.groupBy("doc_id").agg(
      array_join(
        transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("pos"), col("txt"))))),
          x => x.getField("txt")),
        "\n").as("main_text"),
      sum(when(col("ntok") > 0, 1L).otherwise(0L)).as("n_blocks"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("kept_blocks"),
      sum(when(col("ntok") > 0, col("links")).otherwise(0L))
        .cast("long").as("n_links"))
  }

  /** The page's declared `<link rel="canonical">` href, or NULL — the
    * in-document half of URL aliasing (the 3xx `Location:` header is
    * the transport half): CMS-era corpora carry it on most pages, and
    * a dedup keyed only on the fetch URL admits the same article under
    * `?page=1` and its canonical URL even when the site says they are
    * one document. The deterministic subset both engines replay:
    * double-quoted attribute values on a `<link` tag, `rel` before
    * `href` or `href` before `rel` (the two orders real templates
    * emit — the FIRST tag carrying `rel="canonical"` wins and its
    * `href` is read from that tag, so attribute order inside the tag
    * is free), value XML-entity-decoded ([[Urls.xmlEntityDecode]] —
    * `&amp;` in a query string is the live case). The value is
    * as-written (possibly relative): resolve with
    * [[Urls.resolveHref]] against the page's own canonical URL and
    * re-canonicalize before any membership test — exactly like a
    * redirect final.
    *
    * Cost shape (the r19 lesson, measured at the 100× streaming
    * decade): the page-sized regex is (a) pre-gated behind a
    * `contains` byte scan — any page the regex can match carries the
    * literal token — and (b) SINGLY-REFERENCED inside the CaseWhen
    * branch: whole-stage codegen hoists multiply-referenced
    * subexpressions out of conditionals and evaluates them for EVERY
    * row, so a `nullif` wrapped directly around the regex silently
    * un-gated the first cut (+1.5 s/batch on pages that declare
    * nothing). The ''→NULL fold doubles only the CaseWhen itself,
    * whose branch laziness is internal. */
  def canonicalHref(html: Column): Column = {
    val tag = regexp_extract(html, "<link[^>]* rel=\"canonical\"[^>]*>", 0)
    val href = regexp_extract(tag, " href=\"([^\"]*)\"", 1)
    nullif(
      when(html.contains(lit("rel=\"canonical\"")),
        Urls.xmlEntityDecode(href)).otherwise(lit("")),
      lit(""))
  }

  /** The page's `<meta name="robots">` directive value, or NULL — the
    * compliance sibling of robots.txt: RFC 9309 governs FETCHING,
    * meta robots governs what happens to the fetched document
    * (`noindex` = do not retain it in the corpus, `nofollow` = do not
    * follow its links). Same deterministic subset and cost shape as
    * [[canonicalHref]]: double-quoted attribute values, the FIRST
    * `<meta>` tag carrying `name="robots"` wins with its `content`
    * read from that tag (attribute order free), page regex pre-gated
    * behind the `contains` byte scan and singly-referenced inside the
    * conditional. */
  def metaRobots(html: Column): Column = {
    val tag = regexp_extract(html, "<meta[^>]* name=\"robots\"[^>]*>", 0)
    val content = regexp_extract(tag, " content=\"([^\"]*)\"", 1)
    nullif(
      when(html.contains(lit("name=\"robots\"")), content).otherwise(lit("")),
      lit(""))
  }

  /** Does a meta-robots content value carry `token`? Token-exact per
    * the HTML spec (comma/whitespace-separated, case-insensitive) —
    * `noindex` never matches inside `nonoindexy`. NULL content (no
    * directive) ⇒ false: the default is index + follow. */
  def robotsContentHas(content: Column, token: String): Column =
    coalesce(array_contains(split(lower(content), "[,\\s]+"), token),
      lit(false))

  /** Outbound link hrefs of a page, document order — the discovery
    * half of a crawl loop (extraction keeps pages; THIS feeds the
    * frontier). The contract is the anchor-tag pattern
    * `<a[^>]* href="…"` (one codegen'd regexp_extract_all — no HOF,
    * no kernel needed: the regex engine is the per-byte walk), which
    * deliberately reads only double-quoted hrefs on `<a` tags — the
    * deterministic subset both engines replay; resolution against the
    * page's own URL is [[Urls.resolveHref]]. */
  def linkHrefs(html: Column): Column =
    regexp_extract_all(html, lit("<a[^>]* href=\"([^\"]*)\""), lit(1))

  /** Deterministic page furniture around a plain-text corpus — the
    * fixture both engines derive identically (closed-form string
    * ops), so extraction can be oracle-checked end to end on the
    * `documents` table: a tracking script, a stylesheet, a comment,
    * a 5-link nav (including a `../up` relative href that exercises
    * dot-segment folding downstream and a `mailto:` href that must
    * resolve to NULL, never a frontier candidate), 12-token
    * paragraphs with 'table' tokens promoted
    * to in-paragraph links, 'agg' tokens to an `&amp;` entity phrase
    * and 'stream' tokens to the [[entityGauntlet]], and a linked
    * footer. Nav/footer fail the keep rule (short + link-dense),
    * paragraphs mostly pass, link-heavy ones data-dependently fail —
    * the fixture exercises every branch. */
  def syntheticPage(text: Column, source: Column): Column = {
    val para = regexp_replace(text, "((?:\\S+ ){11}\\S+) ", "<p>$1</p>")
    val linked = replace(para, lit(" table "),
      lit(" <a href=\"#t\">table</a> "))
    val ent = replace(linked, lit(" agg "), lit(" x &amp; y "))
    val gaunt = replace(ent, lit(" stream "), lit(entityGauntlet))
    concat(
      lit("<html><head><script type=\"text/javascript\">var t=\""), source,
      lit("\";</script><style>.m{color:#333}</style></head>" +
        "<body><!-- graft fixture -->" +
        "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a> " +
        "<a href=\"../up\">up</a> <a href=\"mailto:ed@example.com\">mail</a> " +
        "<a href=\"/"),
      source, lit("\">"), source, lit("</a></nav><div class=\"content\">"),
      gaunt,
      lit("</div><footer>contact &amp; imprint<br/>" +
        "<a href=\"/legal\">legal</a></footer></body></html>"))
  }
}
