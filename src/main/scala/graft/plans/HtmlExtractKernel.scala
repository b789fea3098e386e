package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** HTML main-text extraction in ONE pass — the crawl pipeline's
  * front door (the trafilatura/jusText slot: C4, CCNet and RefinedWeb
  * all begin at raw HTML, before any of the text operators in this
  * library can run). Returns `struct<main_text:string, n_blocks:long,
  * kept_blocks:long, n_links:long>`.
  *
  * The CONTRACT is the deterministic staged cascade that
  * [[graft.operators.Html.extractMainTextStaged]] runs relationally
  * and the DuckDB oracle replays verbatim:
  *
  *  S1  strip invisible regions: one global leftmost-first pass of
  *      `<!--.*?-->` | `<script[^>]*>.*?</script>` |
  *      `<style[^>]*>.*?</style>` → ' ' (dotall; an unterminated
  *      construct does not match and its text falls through).
  *  S2  segment into blocks: lowercase block-level tags (the HTML5
  *      block set in [[HtmlExtract.blockTagNames]]), open or close,
  *      WITH OR WITHOUT attributes — `</?(name)(?:[ /][^>]*)?>` →
  *      '\n' (so `<div class="c">`, `<br/>`, `</p>` all delimit;
  *      `<pre>`-style non-block names and prefix collisions like
  *      `<divx>` fall through to the generic strip). Physical
  *      newlines delimit too (line-blocks, the
  *      text-density-extractor convention).
  *  S3  per block: links = occurrences of `<a[ >]`; then strip
  *      `<[^>]*>` → ' ' (a tag never crosses a block boundary).
  *  S4  entity decode, one pass over each '&'-initiated run: the
  *      named entities `&amp; &lt; &gt; &quot; &nbsp;`, plus numeric
  *      character references — `&#d{1,7};` (decimal) and
  *      `&#x h{1,6};` (hex, case-insensitive 'x' and digits) decode
  *      to their codepoint when 1 ≤ cp ≤ 0x10FFFF and cp is not a
  *      surrogate; anything else (`&bad;`, over-long digits,
  *      out-of-range, surrogate, bare '&') falls through as literal
  *      text. A decoded whitespace char (' ' \t \n \r \f) behaves as
  *      S5 whitespace — in particular `&#10;` never splits a block
  *      (decode runs after segmentation). The staged reference and
  *      the DuckDB oracle implement the SAME per-'&' dispatch by
  *      splitting on '&' and decoding each piece's leading entity,
  *      which is equivalent to this kernel's single pass because a
  *      decode consumes through its ';' and never produces a new
  *      '&'-run (e.g. `&amp;#160;` is the literal text `&#160;` on
  *      both paths — decode output is never re-parsed).
  *  S5  collapse `[ \t\n\r\f]+` → ' ', trim.
  *  S6  keep a block iff tokens ≥ minTokens AND
  *      links·linkDensityInv ≤ tokens (the jusText-style
  *      link-density gate, integer-exact); main_text = kept blocks
  *      in document order joined by '\n'. `n_blocks`/`n_links`
  *      count only blocks with ≥1 token.
  *
  * Why a kernel: the staged form needs a block explode plus a
  * corpus-sized `groupBy(doc_id)` reassembly shuffle whose only
  * purpose is re-joining per-document state the row already had —
  * the exact shape the MinHash/SimHash/hash-embed kernels removed in
  * r12. Extraction runs over every raw byte of a 100 TB crawl, so it
  * must stay a shuffle-free projection inside whole-stage codegen.
  * HtmlExtractSpec pins kernel ≡ staged bit-equality on well-formed
  * and adversarial markup soup alike.
  */
object HtmlExtract {

  /** The HTML5 block-level tag set whose open/close (attributed or
    * bare) delimits blocks — the SINGLE source the staged Spark regex
    * and the DuckDB oracle both generate their S2 pattern from. */
  val blockTagNames: Seq[String] = Seq(
    "p", "div", "br", "hr", "nav", "footer", "header", "main", "aside",
    "article", "section", "ul", "ol", "li", "blockquote",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "table", "thead", "tbody", "tr", "td", "th",
    "html", "head", "body", "title")

  /** The S2 segmentation regex, generated from [[blockTagNames]]. */
  val blockTagRegex: String =
    s"</?(?:${blockTagNames.mkString("|")})(?:[ /][^>]*)?>"

  // names grouped by first char — dispatch so the '<a href' / '<b>'
  // hot cases exit in one comparison
  private val namesByFirst: Array[Array[String]] = {
    val m = new Array[Array[String]](26)
    blockTagNames.groupBy(_.charAt(0)).foreach { case (c, ns) =>
      m(c - 'a') = ns.toArray
    }
    m
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\f'

  /** Exclusive end of the S2 block tag starting at `i` ('<'), or -1.
    * Mirrors the regex `</?(name)(?:[ /][^>]*)?>` on the POST-S1
    * string: the attribute scan jumps embedded VALID S1 constructs
    * (already ' ' there) and an unterminated tag fails the match. */
  private def blockTagEnd(s: String, i: Int): Int = {
    val n = s.length
    var j = i + 1
    if (j < n && s.charAt(j) == '/') j += 1
    if (j >= n) return -1
    val c0 = s.charAt(j)
    if (c0 < 'a' || c0 > 'z') return -1
    val cands = namesByFirst(c0 - 'a')
    if (cands == null) return -1
    var t = 0
    while (t < cands.length) {
      val name = cands(t)
      if (s.startsWith(name, j)) {
        val k = j + name.length
        if (k < n) {
          val c = s.charAt(k)
          if (c == '>') return k + 1
          // the name boundary is ' ' or '/' — or a TERMINATED S1
          // construct, which the staged cascade has already turned
          // into ' ' before S2 runs (`<div<!--x-->>` segments there,
          // so it must segment here; raw-char comparison alone
          // diverged on incomplete-tag markup soup)
          val bSkip =
            if (c == ' ' || c == '/') 1
            else if (c == '<') { val sk = s1SkipLen(s, k); if (sk > 0) sk else -1 }
            else -1
          if (bSkip > 0) {
            var a = k + bSkip
            while (a < n) {
              val ca = s.charAt(a)
              if (ca == '>') return a + 1
              if (ca == '<') {
                val sk = s1SkipLen(s, a)
                a += (if (sk > 0) sk else 1)
              } else a += 1
            }
            // unterminated: this alternative fails, and a LONGER name
            // sharing the prefix can't rescue it (its boundary char
            // would be a letter) — not a block tag
            return -1
          }
        }
      }
      t += 1
    }
    -1
  }

  /** Length of the S1 construct starting at `i`, or -1 if none: a
    * TERMINATED comment, or a script/style whose opening tag closes
    * (`[^>]*>` = everything to the next '>') and whose close tag
    * exists. Mirrors the regex alternation: an unterminated construct
    * does not match and the '<' falls through to tag handling. */
  private def s1SkipLen(s: String, i: Int): Int = {
    if (i + 1 >= s.length) return -1
    val c1 = s.charAt(i + 1) // dispatch: only '!'/'s' can start S1
    if (c1 == '!') {
      if (!s.startsWith("<!--", i)) return -1
      val j = s.indexOf("-->", i + 4)
      return if (j >= 0) j + 3 - i else -1
    }
    if (c1 != 's') return -1
    var open: String = null
    var close: String = null
    if (s.startsWith("<script", i)) { open = "<script"; close = "</script>" }
    else if (s.startsWith("<style", i)) { open = "<style"; close = "</style>" }
    else return -1
    val gt = s.indexOf('>', i + open.length)
    if (gt < 0) return -1
    // the opening tag is `<script[^>]*>` — the prefix up to the FIRST
    // '>' (by construction nothing between can be '>'); the body then
    // runs non-greedily to the first close tag
    val end = s.indexOf(close, gt + 1)
    if (end < 0) -1 else end + close.length - i
  }

  /** Is `<a[ >]` at position i (the link-count pattern)? Matched on
    * POST-S1 semantics like everything in S2/S3: a terminated S1
    * construct right after the 'a' is the ' ' the staged cascade put
    * there (`<a<!--x-->href>` counts a link on both paths). */
  private def linkAt(s: String, i: Int): Boolean =
    i + 2 < s.length && s.charAt(i) == '<' && s.charAt(i + 1) == 'a' &&
      (s.charAt(i + 2) == ' ' || s.charAt(i + 2) == '>' ||
        (s.charAt(i + 2) == '<' && s1SkipLen(s, i + 2) > 0))

  /** Numeric character reference at `i` ('&'): `(len << 32) | cp` for
    * a valid `&#d{1,7};` / `&#x h{1,6};`, else -1. Mirrors the staged
    * regexes `^#([0-9]{1,7});` / `^#[xX]([0-9a-fA-F]{1,6});` — the
    * terminator must follow within the digit budget (8+ digits never
    * match however the regex backtracks, because ';' must directly
    * follow a digit run capped at the budget) — plus the shared
    * validity gate: 1 ≤ cp ≤ 0x10FFFF and not a surrogate. */
  private def numericEntity(s: String, i: Int): Long = {
    val n = s.length
    if (i + 2 >= n || s.charAt(i + 1) != '#') return -1L
    var j = i + 2
    val hex = s.charAt(j) == 'x' || s.charAt(j) == 'X'
    if (hex) j += 1
    val d0 = j
    var cp = 0L
    if (hex) {
      while (j < n && j - d0 <= 6 && isHexDigit(s.charAt(j))) {
        cp = cp * 16 + hexVal(s.charAt(j)); j += 1
      }
      if (j - d0 < 1 || j - d0 > 6) return -1L
    } else {
      while (j < n && j - d0 <= 7 && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
        cp = cp * 10 + (s.charAt(j) - '0'); j += 1
      }
      if (j - d0 < 1 || j - d0 > 7) return -1L
    }
    if (j >= n || s.charAt(j) != ';') return -1L
    if (cp < 1 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) return -1L
    ((j + 1 - i).toLong << 32) | cp
  }

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

  def compute(in: UTF8String, minTokens: Int, linkDensityInv: Int): InternalRow =
    new Walker(in.toString, minTokens, linkDensityInv).run()

  /** One extraction walk. A class, not nested defs: helpers closing
    * over mutable locals would make Scala box every counter into a
    * heap Ref object and tax every character of the corpus — plain
    * fields measured 2.7× faster on the synthesized-page profile
    * (24.7 → 9 µs/page, see BASELINE.md#html_extract@100x notes). */
  private final class Walker(s: String, minTokens: Int, linkDensityInv: Int) {
    private val n = s.length
    private val out = new java.lang.StringBuilder(n / 2)
    private val blk = new java.lang.StringBuilder(64)
    private var pendingSpace = false
    private var blkTokens = 0
    private var blkLinks = 0
    private var nBlocks = 0L
    private var keptBlocks = 0L
    private var nLinks = 0L

    private def emit(c: Char): Unit = {
      if (pendingSpace && blk.length > 0) blk.append(' ')
      if (pendingSpace || blk.length == 0) blkTokens += 1
      pendingSpace = false
      blk.append(c)
    }

    /** Emit a decoded codepoint: S5-collapsible whitespace becomes a
      * pending space (staged decodes first, then collapses — `&#10;`
      * is a space, never a block break), anything else is literal
      * text; non-BMP codepoints append their surrogate pair inside
      * the same token run. */
    private def emitCp(cp: Int): Unit = {
      if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' || cp == '\f')
        pendingSpace = true
      else if (cp < 0x10000) emit(cp.toChar)
      else {
        emit(Character.highSurrogate(cp))
        blk.append(Character.lowSurrogate(cp))
      }
    }

    private def endBlock(): Unit = {
      if (blkTokens > 0) {
        nBlocks += 1
        nLinks += blkLinks
        if (blkTokens >= minTokens && blkLinks * linkDensityInv <= blkTokens) {
          keptBlocks += 1
          if (out.length > 0) out.append('\n')
          out.append(blk)
        }
      }
      blk.setLength(0)
      blkTokens = 0
      blkLinks = 0
      pendingSpace = false
    }

    def run(): InternalRow = {
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        if (c == '\n') { endBlock(); i += 1 }
        else if (isWs(c)) { pendingSpace = true; i += 1 }
        else if (c == '<') {
          val skip = s1SkipLen(s, i)
          if (skip > 0) { pendingSpace = true; i += skip } // S1 → ' '
          else {
            val bte = blockTagEnd(s, i)
            if (bte >= 0) { // S2 → '\n'
              endBlock()
              i = bte
            } else {
            // generic tag (S3): lookahead for the closing '>' of
            // `<[^>]*>` within THIS block — jumping embedded S1
            // constructs (already ' ' in the staged string) and
            // aborting at a block boundary ('\n' or a block tag, both
            // already '\n' there). Links are counted over the scanned
            // range only if the tag is consumed; on abort the '<' is
            // literal text and the inner chars re-process normally.
            var tmpLinks = if (linkAt(s, i)) 1 else 0
            var j = i + 1
            var end = -1 // exclusive end of the consumed tag
            var aborted = false
            while (!aborted && end < 0 && j < n) {
              val cj = s.charAt(j)
              if (cj == '>') end = j + 1
              else if (cj == '\n') aborted = true
              else if (cj == '<') {
                val sk = s1SkipLen(s, j)
                if (sk > 0) j += sk
                else if (blockTagEnd(s, j) >= 0) aborted = true
                else { if (linkAt(s, j)) tmpLinks += 1; j += 1 }
              } else j += 1
            }
            if (end >= 0) { // tag consumed → ' '
              blkLinks += tmpLinks
              pendingSpace = true
              i = end
            } else { // no '>' in this block → the '<' is literal text
              if (linkAt(s, i)) blkLinks += 1
              emit('<')
              i += 1
            }
            }
          }
        } else if (c == '&') {
          // S4 single-pass entity decode (≡ the staged per-'&' piece
          // dispatch — see scaladoc): named entities, then numeric
          // character references, else the '&' is literal text
          if (s.startsWith("&amp;", i)) { emit('&'); i += 5 }
          else if (s.startsWith("&lt;", i)) { emit('<'); i += 4 }
          else if (s.startsWith("&gt;", i)) { emit('>'); i += 4 }
          else if (s.startsWith("&quot;", i)) { emit('"'); i += 6 }
          else if (s.startsWith("&nbsp;", i)) { emit('\u00A0'); i += 6 }
          else {
            val e = numericEntity(s, i) // (len << 32 | cp), or -1
            if (e >= 0) { emitCp((e & 0xFFFFFFFFL).toInt); i += (e >>> 32).toInt }
            else { emit('&'); i += 1 }
          }
        } else { emit(c); i += 1 }
      }
      endBlock()

      new GenericInternalRow(Array[Any](
        UTF8String.fromString(out.toString), nBlocks, keptBlocks, nLinks))
    }
  }
}
