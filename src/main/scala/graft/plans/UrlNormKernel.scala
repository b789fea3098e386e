package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization as compiled byte walks: percent-escape
  * normalization (`graft_url_pct`, cascade step 2), query-parameter
  * sorting (`graft_url_qsort`, step 9), dot-segment folding
  * (`graft_url_dotfold`) and the whole cascade (`graft_url_canon`).
  *
  * Why kernels and not `split`/`transform`/`array_sort`: higher-order
  * functions are interpreted (CodegenFallback), and the canonicalize
  * cascade is INLINED several times in the URL-dedup plan (the filter
  * and group key reference the projected alias — the CollapseProject
  * shape Urls.dedupByUrl documents). With codegen'd regex stages the
  * copies are collapsed by whole-stage-codegen subexpression
  * elimination; the r14 relational forms of these two steps broke
  * that — the quiet sf0.1 sweep measured dd_url_dedup 2.4 → 8.8 s and
  * ds_crawl 6.0 → 10.4 s. As plain unary codegen'd calls the cascade
  * is CSE-eligible end to end again (the same HOF→kernel lesson as
  * the minhash/hash-embed kernels).
  *
  * Byte-level semantics (exactly the relational reference retained in
  * Urls.percentNormalizeStaged / sortQueryParamsStaged, and the
  * DuckDB oracle mirror):
  *  - pct: after each '%', two hex bytes decode to their codepoint
  *    when RFC 3986 UNRESERVED (ALPHA / DIGIT / `-._~`), uppercase
  *    otherwise; '%' not followed by two hex bytes stays literal.
  *  - qsort: split at the FIRST '?'; an empty query drops the '?';
  *    otherwise '&'-separated params sort by UNSIGNED byte order —
  *    identical to Spark's `array_sort` on UTF8String and DuckDB's
  *    `list_sort` (both binary orders), where a UTF-16 `String`
  *    comparison would diverge on supplementary-plane text. All
  *    structural bytes ('%', hex, '?', '&') are ASCII and never occur
  *    inside a UTF-8 continuation, so the byte walk is
  *    encoding-safe.
  *
  * Cascade step 8.5 (`graft_url_dotfold`): RFC 3986
  * remove_dot_segments over the URL's PATH portion — `/./` collapses,
  * `/seg/../` pops, `..` above the root is a no-op, and a trailing
  * `/.`|`/..` keeps the directory slash (so `/a/b/..` → `/a/`,
  * composing with the cascade's trailing-slash strip to `/a`). A
  * segment-stack walk has no closed regex form (the fold is a
  * fixpoint), and as a higher-order `aggregate` it would be
  * interpreted — the same CodegenFallback/CSE break the pct/qsort
  * kernels exist to avoid. Query and fragment are untouched; inputs
  * without a `scheme://authority/` prefix return unchanged. The
  * relational reference (the living spec UrlsSpec fuzzes this
  * against) is Urls.foldDotSegmentsStaged.
  *
  * The WHOLE canonicalization cascade (`graft_url_canon`) — trim,
  * percent normalization, scheme/authority lowering, www strip,
  * fragment strip, default-port strip, tracking-param strips, dot-
  * segment fold, trailing-slash strip, query sort — as ONE codegen'd
  * byte walk.
  *
  * Why one kernel and not the staged cascade of ~7 regex expressions
  * plus the three sub-step kernels: the cascade is INLINED per
  * REFERENCE in the crawl family's hottest stages (filter + group key
  * both cite the canon alias), and at that width whole-stage codegen
  * either exceeded the 64 KB JVM method limit (silently per-operator
  * since r15) or, once it compiled, JIT-inverted — the fused ~1,400-
  * line consume method ran 4–5× slower than per-operator at the 100×
  * decade (BASELINE.md r16 root-cause log). r16 shipped the symptom
  * fix (whole-stage codegen disabled for the family via a child
  * session); this kernel is the root fix — the cascade is one short
  * call per reference, fusion is JIT-friendly again, and the special-
  * case session is deleted. Same pattern as minhash / simhash /
  * html_extract / dsir.
  *
  * Semantics are bit-identical to the staged cascade retained as
  * [[graft.operators.Urls.canonicalizeStaged]] (the living spec —
  * UrlsSpec fuzzes kernel ≡ staged on adversarial inputs, and the
  * DuckDB oracle replays the same staged shape). The staged steps are
  * java.util.regex expressions, whose `.` and `$` treat line
  * terminators (\n, \r, U+0085, U+2028, U+2029) specially — real URLs
  * never contain them, so the byte walk handles the terminator-free
  * case and a terminator-bearing input falls back to a literal
  * java.util.regex replay of the staged steps (the same engine
  * Catalyst's RegExpReplace uses, so the fallback is exact by
  * construction). */
object UrlNorm {

  private def isHex(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')
  private def hexVal(b: Byte): Int =
    if (b <= '9') b - '0' else (b | 0x20) - 'a' + 10
  private def upHex(b: Byte): Byte =
    if (b >= 'a' && b <= 'f') (b - 32).toByte else b
  private def unreserved(cp: Int): Boolean =
    (cp >= '0' && cp <= '9') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= 'a' && cp <= 'z') || cp == '-' || cp == '.' ||
      cp == '_' || cp == '~'

  def percentNorm(in: UTF8String): UTF8String = {
    val b = in.getBytes
    val out = new Array[Byte](b.length) // decode shrinks, re-case keeps
    var i = 0
    var o = 0
    while (i < b.length) {
      if (b(i) == '%' && i + 2 < b.length && isHex(b(i + 1)) && isHex(b(i + 2))) {
        val cp = hexVal(b(i + 1)) * 16 + hexVal(b(i + 2))
        if (unreserved(cp)) { out(o) = cp.toByte; o += 1 }
        else {
          out(o) = '%'; out(o + 1) = upHex(b(i + 1)); out(o + 2) = upHex(b(i + 2))
          o += 3
        }
        i += 3
      } else { out(o) = b(i); o += 1; i += 1 }
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  /** remove_dot_segments over the path of a hierarchical URL: the
    * path is [first '/' after `://`'s authority, first '?' or '#');
    * its '/'-separated segments run through a stack — `.` skipped,
    * `..` pops, anything else (empty segments included: `//` is
    * preserved) pushed — and a final `.`|`..` segment re-appends the
    * directory slash (RFC 3986 §5.2.4's replace-vs-remove split).
    * Fast path: a path without the byte pair "/." returns the input
    * array untouched. */
  def dotFold(in: UTF8String): UTF8String = {
    val b = in.getBytes
    // locate "://", then the authority's end — the path start
    var i = 0
    while (i + 2 < b.length &&
      !(b(i) == ':' && b(i + 1) == '/' && b(i + 2) == '/')) i += 1
    if (i + 2 >= b.length) return in
    var p = i + 3
    while (p < b.length && b(p) != '/' && b(p) != '?' && b(p) != '#') p += 1
    if (p >= b.length || b(p) != '/') return in
    var q = p
    while (q < b.length && b(q) != '?' && b(q) != '#') q += 1
    // fast path: no "/." anywhere in [p, q)
    var k = p
    var hasDot = false
    while (k + 1 < q && !hasDot) {
      if (b(k) == '/' && b(k + 1) == '.') hasDot = true
      k += 1
    }
    if (!hasDot) return in
    // stack of (start, end) segment spans over b, path = [p, q)
    val starts = new Array[Int](q - p)
    val ends = new Array[Int](q - p)
    var top = 0
    var s = p + 1
    var lastWasDots = false
    var j = p + 1
    while (j <= q) {
      if (j == q || b(j) == '/') {
        val len = j - s
        val isDot = len == 1 && b(s) == '.'
        val isDotDot = len == 2 && b(s) == '.' && b(s + 1) == '.'
        if (isDot) ()                      // skip
        else if (isDotDot) { if (top > 0) top -= 1 }
        else { starts(top) = s; ends(top) = j; top += 1 }
        lastWasDots = (isDot || isDotDot) && j == q
        s = j + 1
      }
      j += 1
    }
    val out = new Array[Byte](b.length)
    System.arraycopy(b, 0, out, 0, p)
    var o = p
    var t = 0
    while (t < top) {
      out(o) = '/'; o += 1
      val len = ends(t) - starts(t)
      System.arraycopy(b, starts(t), out, o, len)
      o += len
      t += 1
    }
    if (top == 0 || lastWasDots) { out(o) = '/'; o += 1 }
    System.arraycopy(b, q, out, o, b.length - q)
    o += b.length - q
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  // ---- full-cascade kernel (graft_url_canon) -------------------------

  /** Tracking-parameter name grammar, shared by the kernel's byte
    * matcher and the slow-path regexes: `utm_[a-z0-9_]*`, `gclid`,
    * `fbclid`, `ref` — each followed by '='. Mirrors
    * Urls.trackingParamsRe verbatim. */
  private val trackingAlt = "utm_[a-z0-9_]*|gclid|fbclid|ref"

  // the staged cascade's regexes, compiled once — the slow path AND
  // the executable documentation of what each byte walk implements
  private val P_PREFIX =
    java.util.regex.Pattern.compile("^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)")
  private val P_WWW = java.util.regex.Pattern.compile("^(https?://)www\\.")
  private val P_FRAG = java.util.regex.Pattern.compile("#.*$")
  private val P_P80 =
    java.util.regex.Pattern.compile("^(http://[^/?#:]*):80([/?#].*)?$")
  private val P_P443 =
    java.util.regex.Pattern.compile("^(https://[^/?#:]*):443([/?#].*)?$")
  private val P_T1 = java.util.regex.Pattern.compile(s"&(?:$trackingAlt)=[^&#]*")
  private val P_T2 = java.util.regex.Pattern.compile(s"\\?(?:$trackingAlt)=[^&#]*&")
  private val P_T3 = java.util.regex.Pattern.compile(s"\\?(?:$trackingAlt)=[^&#]*$$")
  private val P_SLASH = java.util.regex.Pattern.compile("([^/:])/+(\\?.*)?$")

  /** The whole cascade. Bit-equal to Urls.canonicalizeStaged — the
    * UrlsSpec full-cascade fuzz law is the proof obligation of every
    * edit here. */
  def canon(in: UTF8String): UTF8String = {
    val t = percentNorm(in.trim())            // steps 1–2 (shared kernels)
    var b = t.getBytes                        // fresh array (percentNorm copies)
    if (hasLineTerminator(b)) return slowCanon(t)
    b = lowerPrefix(b)                        // step 3
    b = stripWww(b)                           // step 4
    b = stripFragment(b)                      // step 5
    b = stripDefaultPort(b)                   // step 6
    b = stripTrackingAmp(b)                   // step 7a: &t=v anywhere
    b = stripTrackingQAmp(b)                  // step 7b: ?t=v& → ?
    b = stripTrackingQEnd(b)                  // step 7c: ?t=v$ → ''
    val folded = dotFold(UTF8String.fromBytes(b)) // step 8.5
    b = stripTrailingSlashes(folded.getBytes)     // step 8
    querySort(UTF8String.fromBytes(b))            // step 9
  }

  /** Java-regex line terminators (the chars `.`/`$` special-case):
    * \n, \r, U+0085 (C2 85), U+2028/U+2029 (E2 80 A8/A9). */
  private def hasLineTerminator(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == 0x0A || c == 0x0D) return true
      if (c == 0xC2.toByte && i + 1 < b.length && b(i + 1) == 0x85.toByte)
        return true
      if (c == 0xE2.toByte && i + 2 < b.length && b(i + 1) == 0x80.toByte &&
          (b(i + 2) == 0xA8.toByte || b(i + 2) == 0xA9.toByte)) return true
      i += 1
    }
    false
  }

  /** Terminator-bearing input: literal replay of the staged regex
    * steps with the same java.util.regex engine Catalyst uses —
    * exactness by construction, speed irrelevant (garbage inputs). */
  private def slowCanon(t: UTF8String): UTF8String = {
    val s0 = t.toString
    val m = P_PREFIX.matcher(s0)
    val prefix = if (m.find()) m.group(1) else ""
    val c1 = UTF8String.fromString(prefix).toLowerCase.toString +
      s0.substring(prefix.length)
    val c2 = P_WWW.matcher(c1).replaceAll("$1")
    val c3 = P_FRAG.matcher(c2).replaceAll("")
    val c4 = P_P80.matcher(c3).replaceAll("$1$2")
    val c5 = P_P443.matcher(c4).replaceAll("$1$2")
    val c6 = P_T1.matcher(c5).replaceAll("")
    val c7 = P_T2.matcher(c6).replaceAll("?")
    val c8 = P_T3.matcher(c7).replaceAll("")
    val folded = dotFold(UTF8String.fromString(c8))
    val c9 = P_SLASH.matcher(folded.toString).replaceAll("$1$2")
    querySort(UTF8String.fromString(c9))
  }

  private def isAlphaB(c: Byte): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  private def isSchemeB(c: Byte): Boolean =
    isAlphaB(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'

  /** End of the `^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*` prefix in bytes;
    * 0 when it doesn't match. Byte-for-char safe: every class byte is
    * ASCII and UTF-8 continuation bytes are ≥ 0x80. */
  private def prefixEnd(b: Array[Byte]): Int = {
    if (b.length == 0 || !isAlphaB(b(0))) return 0
    var i = 1
    while (i < b.length && isSchemeB(b(i))) i += 1
    if (i + 3 > b.length || b(i) != ':' || b(i + 1) != '/' || b(i + 2) != '/')
      return 0
    i += 3
    while (i < b.length && b(i) != '/' && b(i) != '?' && b(i) != '#') i += 1
    i
  }

  /** Step 3: lowercase [0, prefixEnd). ASCII in place; a non-ASCII
    * authority delegates to UTF8String.toLowerCase — the exact
    * function Spark's `lower` applies. */
  private def lowerPrefix(b: Array[Byte]): Array[Byte] = {
    val pe = prefixEnd(b)
    if (pe == 0) return b
    var ascii = true
    var i = 0
    while (i < pe) { if (b(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      i = 0
      while (i < pe) {
        if (b(i) >= 'A' && b(i) <= 'Z') b(i) = (b(i) + 32).toByte
        i += 1
      }
      b
    } else {
      val low = UTF8String.fromBytes(b, 0, pe).toLowerCase.getBytes
      val out = new Array[Byte](low.length + b.length - pe)
      System.arraycopy(low, 0, out, 0, low.length)
      System.arraycopy(b, pe, out, low.length, b.length - pe)
      out
    }
  }

  private def startsWithB(b: Array[Byte], p: String): Boolean = {
    if (b.length < p.length) return false
    var i = 0
    while (i < p.length) { if (b(i) != p.charAt(i).toByte) return false; i += 1 }
    true
  }

  private def remove(b: Array[Byte], at: Int, n: Int): Array[Byte] = {
    val out = new Array[Byte](b.length - n)
    System.arraycopy(b, 0, out, 0, at)
    System.arraycopy(b, at + n, out, at, b.length - at - n)
    out
  }

  /** Step 4: `^(https?://)www\.` → `$1`. */
  private def stripWww(b: Array[Byte]): Array[Byte] =
    if (startsWithB(b, "http://www.")) remove(b, 7, 4)
    else if (startsWithB(b, "https://www.")) remove(b, 8, 4)
    else b

  /** Step 5: truncate at the first '#' (`#.*$` → '', terminator-free). */
  private def stripFragment(b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b.length) {
      if (b(i) == '#') return java.util.Arrays.copyOf(b, i)
      i += 1
    }
    b
  }

  /** Step 6: `^(http://[^/?#:]*):80([/?#].*)?$` → `$1$2` (and the
    * https/:443 twin) — the authority run is forced maximal (':' is
    * excluded from the class, so the regex cannot backtrack into it). */
  private def stripDefaultPort(b: Array[Byte]): Array[Byte] = {
    val (hs, port) =
      if (startsWithB(b, "http://")) (7, ":80")
      else if (startsWithB(b, "https://")) (8, ":443")
      else return b
    var i = hs
    while (i < b.length && b(i) != '/' && b(i) != '?' && b(i) != '#' &&
      b(i) != ':') i += 1
    if (i >= b.length || b(i) != ':') return b
    if (i + port.length > b.length) return b
    var k = 0
    while (k < port.length) {
      if (b(i + k) != port.charAt(k).toByte) return b
      k += 1
    }
    val e = i + port.length
    if (e == b.length || b(e) == '/' || b(e) == '?' || b(e) == '#')
      remove(b, i, port.length)
    else b
  }

  /** `(?:utm_[a-z0-9_]*|gclid|fbclid|ref)=` at position p: index
    * after the '=', or -1. No backtracking ambiguity: '=' is not a
    * name byte and the alternatives have distinct first letters. */
  private def matchTrack(b: Array[Byte], p: Int): Int = {
    val n = b.length
    if (p + 4 <= n && b(p) == 'u' && b(p + 1) == 't' && b(p + 2) == 'm' &&
        b(p + 3) == '_') {
      var q = p + 4
      while (q < n && ((b(q) >= 'a' && b(q) <= 'z') ||
        (b(q) >= '0' && b(q) <= '9') || b(q) == '_')) q += 1
      if (q < n && b(q) == '=') q + 1 else -1
    } else if (regionEq(b, p, "gclid=")) p + 6
    else if (regionEq(b, p, "fbclid=")) p + 7
    else if (regionEq(b, p, "ref=")) p + 4
    else -1
  }

  private def regionEq(b: Array[Byte], p: Int, s: String): Boolean = {
    if (p + s.length > b.length) return false
    var i = 0
    while (i < s.length) {
      if (b(p + i) != s.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** Value run of a matched tracking param: `[^&#]*` from e. */
  private def valueEnd(b: Array[Byte], e: Int): Int = {
    var j = e
    while (j < b.length && b(j) != '&' && b(j) != '#') j += 1
    j
  }

  /** Step 7a: every `&name=value` removed; the terminating '&' (if
    * any) is re-examined as the next match's start — replaceAll
    * continues at match end. */
  private def stripTrackingAmp(b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](b.length)
    var o = 0
    var i = 0
    while (i < b.length) {
      var consumed = false
      if (b(i) == '&') {
        val e = matchTrack(b, i + 1)
        if (e >= 0) { i = valueEnd(b, e); consumed = true }
      }
      if (!consumed) { out(o) = b(i); o += 1; i += 1 }
    }
    if (o == b.length) b else java.util.Arrays.copyOf(out, o)
  }

  /** Step 7b: `?name=value&` → `?`, scanning resuming after the '&'. */
  private def stripTrackingQAmp(b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](b.length)
    var o = 0
    var i = 0
    while (i < b.length) {
      var consumed = false
      if (b(i) == '?') {
        val e = matchTrack(b, i + 1)
        if (e >= 0) {
          val j = valueEnd(b, e)
          if (j < b.length && b(j) == '&') {
            out(o) = '?'; o += 1
            i = j + 1
            consumed = true
          }
        }
      }
      if (!consumed) { out(o) = b(i); o += 1; i += 1 }
    }
    if (o == b.length) b else java.util.Arrays.copyOf(out, o)
  }

  /** Step 7c: leftmost `?name=value` whose value runs to the end of
    * the string → truncate from the '?'. */
  private def stripTrackingQEnd(b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b.length) {
      if (b(i) == '?') {
        val e = matchTrack(b, i + 1)
        if (e >= 0 && valueEnd(b, e) == b.length)
          return java.util.Arrays.copyOf(b, i)
      }
      i += 1
    }
    b
  }

  /** Step 8: `([^/:])/+(\?.*)?$` → `$1$2` — leftmost non-/,: byte
    * whose following slash run ends at a '?' or at the end; at most
    * one match ('$'-anchored). */
  private def stripTrailingSlashes(b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i + 1 < b.length) {
      if (b(i) != '/' && b(i) != ':' && b(i + 1) == '/') {
        var r = i + 2
        while (r < b.length && b(r) == '/') r += 1
        if (r == b.length || b(r) == '?') {
          val out = new Array[Byte](b.length - (r - i - 1))
          System.arraycopy(b, 0, out, 0, i + 1)
          System.arraycopy(b, r, out, i + 1, b.length - r)
          return out
        }
      }
      i += 1
    }
    b
  }

  def querySort(in: UTF8String): UTF8String = {
    val b = in.getBytes
    var q = 0
    while (q < b.length && b(q) != '?') q += 1
    if (q >= b.length) return in                       // no query
    if (q == b.length - 1)                             // '…?' → no '?'
      return UTF8String.fromBytes(java.util.Arrays.copyOf(b, q))
    // split (q, end] on '&', keeping empty params — mirrors
    // split(query, "&", -1) / string_split
    val parts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var s = q + 1
    var i = q + 1
    while (i <= b.length) {
      if (i == b.length || b(i) == '&') {
        parts += java.util.Arrays.copyOfRange(b, s, i)
        s = i + 1
      }
      i += 1
    }
    val arr = parts.toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[Array[Byte]] {
      def compare(x: Array[Byte], y: Array[Byte]): Int = {
        val n = math.min(x.length, y.length)
        var k = 0
        while (k < n) {
          val d = (x(k) & 0xFF) - (y(k) & 0xFF)
          if (d != 0) return d
          k += 1
        }
        x.length - y.length
      }
    })
    val out = new Array[Byte](b.length)
    System.arraycopy(b, 0, out, 0, q + 1)
    var o = q + 1
    var p = 0
    while (p < arr.length) {
      if (p > 0) { out(o) = '&'; o += 1 }
      System.arraycopy(arr(p), 0, out, o, arr(p).length)
      o += arr(p).length
      p += 1
    }
    UTF8String.fromBytes(out)
  }
}
