package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.tokenHash

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * pure column expressions (whole-stage codegen, no UDFs) — they
  * scale as a single projection over the corpus, no shuffle at all
  * until an explicit aggregation.
  */
object TextAnalysis {

  /** Whitespace tokens (single-space convention of the corpus). */
  def tokens(text: Column): Column = split(text, " ")

  /** The single-space token CONTRACT every byte-walk kernel
    * (graft_minhash / graft_simhash / graft_hash_embed /
    * graft_dsir_* / graft_entropy's token alphabet) assumes: tokens
    * separated by EXACTLY one 0x20 — no tabs/newlines/other
    * whitespace, no space runs, no leading/trailing space.
    * [[cleaned]] establishes it (normalize-first is the documented
    * composition); this predicate ENFORCES it where kernels meet raw
    * text — a cheap input-column check (never gate on a kernel
    * output: predicate pushdown would substitute the kernel into the
    * scan filter and run it twice, the PlanShapeSpec trap).
    *
    * The contract is also SAFE to violate: TokenContractSpec proves
    * each kernel and its exploded twin agree even on violating input
    * (both treat only 0x20 as the separator, so a tab-joined pair is
    * consistently ONE token on every path) — a missed normalize
    * degrades token granularity identically everywhere, it never
    * diverges kernel from oracle. */
  def singleSpaced(text: Column): Column =
    !(text.rlike("[\\t\\n\\x0B\\f\\r\\u00a0]") || text.contains("  ") ||
      text.startsWith(" ") || text.endsWith(" "))

  /** BPE-ish regex token pieces: letter runs, digit runs, or single
    * non-alphanumeric symbols. */
  val bpeTokenRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def tokenCounts(df: DataFrame, text: Column, idCols: Column*): DataFrame =
    df.select(idCols :+
      size(tokens(text)).as("ws_tokens") :+
      size(regexp_extract_all(text, lit(bpeTokenRegex), lit(0))).as("bpe_tokens"): _*)

  /** Shannon-entropy quality signals (nats, 6dp): per-code-point and
    * per-whitespace-token, each computed by the single-pass codegen
    * kernel graft.plans.TextEntropy — an explode-free projection, so
    * the gate costs one scan even at corpus scale (the per-char
    * explode it replaces multiplies row count by the document length
    * before the first aggregation). Low char entropy flags
    * repeated-symbol garbage; token entropy separates prose from
    * wide-vocabulary boilerplate. Micro-nat integer terms make both
    * entropies summation-order-invariant (oracle-exact). */
  def entropySignals(df: DataFrame, text: Column, idCols: Column*): DataFrame = {
    val ch = graft.plans.GraftFunctions.entropy(text, "")
    val tk = graft.plans.GraftFunctions.entropy(text, " ")
    df.select(idCols :+ ch.as("__ch") :+ tk.as("__tk"): _*)
      .withColumn("n_codepoints", col("__ch.n"))
      .withColumn("distinct_chars", col("__ch.distinct"))
      .withColumn("char_entropy", round(col("__ch.entropy_u") / lit(1e6), 6))
      .withColumn("n_tokens", col("__tk.n"))
      .withColumn("distinct_tokens", col("__tk.distinct"))
      .withColumn("token_entropy", round(col("__tk.entropy_u") / lit(1e6), 6))
      .drop("__ch", "__tk")
  }

  /** Compression-ratio quality signal (r20) — the classic gibberish
    * gate beside [[entropySignals]]: DEFLATE (zlib level 6, raw) the
    * UTF-8 bytes and report `ratio_pct = 100 · compressed / raw`
    * (integer, floor; empty text → 100). Natural prose lands mid-band
    * (~40–70%); template/boilerplate spam compresses far below it;
    * high-entropy gibberish (random bytes, base64 blobs, minified
    * junk) barely compresses at all — a band cut composes downstream
    * exactly like the entropy gate. Batched partition-local kernel
    * ([[Multimodal]]'s shape): one Deflater per batch, reset per
    * document, `end()`ed per batch so native zlib memory never rides
    * on GC; zero shuffle, cost one scan at corpus scale.
    *
    * NO ORACLE ROW — the first (and only) registered operator without
    * one, by documented exception: the value is the length of a zlib
    * bitstream, and DuckDB exposes no SQL-computable DEFLATE to
    * replay it. The driver records the weaker rows-only check;
    * correctness is spec-pinned instead (CompressionSpec: planted
    * repetitive / prose / incompressible fixtures with the banded
    * ordering, determinism across runs, and exact ratio arithmetic on
    * a hand-deflatable input). */
  def compressionSignals(df: DataFrame, text: Column,
                         id: Column): DataFrame = {
    import df.sparkSession.implicits._
    val batch = 64
    df.select(id.cast("long").as("doc_id"), text.as("__t"))
      .as[(Long, String)]
      .mapPartitions(_.grouped(batch).flatMap { group =>
        val defl = new java.util.zip.Deflater(6, true)
        val buf = new Array[Byte](64 * 1024)
        val out = group.map { case (docId, t) =>
          val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(bytes)
          defl.finish()
          var n = 0L
          while (!defl.finished()) n += defl.deflate(buf)
          val ratio =
            if (bytes.isEmpty) 100L else n * 100L / bytes.length
          (docId, bytes.length.toLong, n, ratio)
        }
        defl.end()
        out
      })
      .toDF("doc_id", "n_bytes", "n_deflate", "ratio_pct")
  }

  /** Tiny per-language stopword profiles (n-gram-free heuristic: a
    * language "wins" on stopword hits; `und` = undetermined). The
    * profiles are deliberately minimal — the operator shape (N
    * profile scores + argmax, one projection) is what scales. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ein", "ist", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "que", "un", "est", "pas"))

  private def hits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words)))

  /** Language-ID: per-profile hit counts + deterministic argmax
    * (ties break by profile order; all-zero → "und"). */
  def languageId(text: Column): Column = {
    val scored = langProfiles.map { case (lang, ws) => (lang, hits(text, ws)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und"): Column) { case ((lang, h), acc) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality signals: token count, mean token length, stopword ratio,
    * alphabetic-token ratio, punctuation density. */
  def qualityScore(df: DataFrame, text: Column, idCols: Column*): DataFrame = {
    val toks = tokens(text)
    val nTok = size(toks)
    val sw = langProfiles.flatMap(_._2).distinct
    df.select(idCols :+
      nTok.as("n_tokens") :+
      (aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x).cast("double")
        / nTok).as("avg_token_len") :+
      (size(filter(toks, t => t.isInCollection(sw))).cast("double") / nTok)
        .as("stopword_ratio") :+
      (size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("double") / nTok)
        .as("alpha_ratio") :+
      size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0)))
        .as("punct_chars"): _*)
  }

  /** Order-insensitive content fingerprint: md5 over the sorted
    * distinct token set — the canonical "same bag of words" key. */
  def contentFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))).cast("binary"))

  /** Cleaning pass: lowercase, strip non-alphanumerics (keep spaces),
    * collapse whitespace runs, trim — the canonical normalization
    * before tokenization/dedup. Pure codegen'd projection. */
  def cleaned(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  /** Deterministic train/val/test assignment from a portable content
    * hash of the id — stable across engines, runs, and cluster sizes
    * (never use RNG for split assignment: reshuffling changes the
    * split). 80/10/10. */
  def splitAssign(id: Column): Column = {
    val bucket = pmod(tokenHash(id.cast("string")), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise(lit("test"))
  }

  val hashVecDims = 16

  /** Hashing-trick term-frequency vectorization: token → hash → one
    * of `hashVecDims` buckets; per-document counts per bucket. The
    * classic pre-embedding featurizer (feature hashing / HashingTF),
    * as one explode + one grouped aggregation with conditional
    * counts — no vocabulary build, no second pass, trivially
    * parallel at corpus scale. Emitted as separate columns c0..c15
    * (engine-portable; assemble into an array/vector as needed). */
  def hashedTermFrequency(df: DataFrame, text: Column, id: Column): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(tokens(text)).as("token"))
      .withColumn("bucket", pmod(tokenHash(col("token")), lit(hashVecDims.toLong)))
    val counts = (0 until hashVecDims).map { j =>
      sum(when(col("bucket") === j, 1L).otherwise(0L)).as(s"c$j")
    }
    tok.groupBy("doc_id").agg(counts.head, counts.tail: _*)
  }

  /** PII-masking regexes — kept RE2-compatible (no backrefs or
    * lookaround) so Java (Spark) and RE2-based engines match the
    * identical spans. */
  val emailRegex = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phoneRegex = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction: mask emails then phone-shaped digit groups. A
    * pure regexp projection (codegen'd, no shuffle) — the standard
    * pre-release scrub over a training corpus. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRegex, "[EMAIL]"),
      phoneRegex, "[PHONE]")

  /** Within-document repetition signals, the Gopher/MassiveText
    * quality-filter family (Rae et al. 2021 §A1.1; reimplemented by
    * Dolma/RedPajama): a document that keeps repeating itself is
    * boilerplate or SEO spam, and the signal is measurable without
    * any model.
    *
    *   - `top_{n}gram_frac` (n ∈ topNs): characters claimed by the
    *     single most frequent word n-gram — count × gram chars /
    *     total token chars. Overlapping windows each count (the
    *     published definition), so a degenerate "a a a a" doc can
    *     exceed 1.0 — the filter thresholds sit far below that.
    *     Count ties break deterministically to the gram with the
    *     most characters (`max(struct(cnt, chars))` over the grams).
    *   - `dup_{n}gram_frac` (n ∈ dupNs): characters COVERED by any
    *     n-gram that occurs ≥2 times in the document, each position
    *     counted once however many duplicated grams overlap it —
    *     the cover-position form, same machinery as the ExactSubstr
    *     trimmer but scoped within-document. Gram identity rides the
    *     O(len) rolling fingerprint ([[graft.plans.RollingGramHash]]);
    *     the oracle keys on gram content, so oracle agreement is the
    *     collision check.
    *
    * Character totals count token characters only (the corpus'
    * single-space convention makes inter-token spaces a constant
    * n−1 per gram; excluding them keeps numerator and denominator
    * on the same basis). Shape at corpus scale: one projection, no
    * shuffle (see [[repetitionStats]]). */
  def repetitionSignals(df: DataFrame, text: Column, id: Column,
                        topNs: Seq[Int] = Seq(2, 3, 4),
                        dupNs: Seq[Int] = Seq(5, 10)): DataFrame = {
    df.select(id.as("doc_id"), repetitionStats(text, topNs, dupNs).as("__st"))
      .select(repetitionFracs(topNs, dupNs): _*)
  }

  /** The shared per-document stats struct `(total_chars, top, dup)` —
    * every signal is a within-document statistic, so it is computed in
    * ONE compiled projection pass ([[graft.plans.RepetitionStats]]:
    * token hash + char prefix sums shared across all widths; same
    * rolling gram fingerprints, counts and tie-breaks as the previous
    * exploded form: RepetitionSpec pins the fractions, tie-breaks and
    * coverage merging against hand counts, RollingGramHashSpec the
    * fingerprint against its definitional polynomial, and
    * RepetitionExplodedSpec the fractions bit-equal against a
    * per-width explode → groupBy reference). The r21-shape
    * alternative — per width, a corpus-wide
    * explode → Exchange(doc_id, h) → Exchange(doc_id) chain, plus a
    * positions-distinct Exchange and a positions join for the dup
    * widths — shuffled every n-gram of the corpus per width (guide
    * §2.4: those shuffles are removable outright, so remove them). */
  private[graft] def repetitionStats(text: Column, topNs: Seq[Int],
                                     dupNs: Seq[Int]): Column =
    graft.plans.GraftFunctions.repStats(tokens(text), topNs, dupNs)

  /** Output columns over the `__st` stats struct — `doc_id` plus the
    * rounded fractions, in the operator's documented column order. */
  private[graft] def repetitionFracs(topNs: Seq[Int], dupNs: Seq[Int]): Seq[Column] =
    col("doc_id") +: (
      topNs.zipWithIndex.map { case (n, i) =>
        round(element_at(col("__st.top"), i + 1).cast("double")
          / col("__st.total_chars"), 6).as(s"top_${n}gram_frac") } ++
      dupNs.zipWithIndex.map { case (n, i) =>
        round(element_at(col("__st.dup"), i + 1).cast("double")
          / col("__st.total_chars"), 6).as(s"dup_${n}gram_frac") })

  val fpPrime = 2147483647L // 2^31 − 1

  /** Order-SENSITIVE positional fingerprint: Σ position-weighted
    * token hashes mod p — a rolling-hash-family key that detects
    * reordered documents, yet is a single scan (and expressible as
    * plain SQL, unlike an iterated polynomial fold). */
  def positionalFingerprint(text: Column): Column =
    aggregate(
      zip_with(tokens(text), sequence(lit(1), size(tokens(text))),
        (t, i) => pmod(tokenHash(t) * i.cast("long"), lit(fpPrime))),
      lit(0L), (acc, v) => pmod(acc + v, lit(fpPrime)))

  /** PMI phrase mining (Church & Hanks 1990): pointwise mutual
    * information of adjacent token pairs — the association statistic
    * phrase extraction and tokenizer-candidate discovery rank by.
    * pmi = ln(C₁₂·T² / (P·C₁·C₂)) over pair count C₁₂, unigram
    * counts, total tokens T and total pairs P; micro-nat rounded so
    * the score is an exact integer. `minCount` kills the low-count
    * noise PMI is notorious for.
    *
    * Shape at corpus scale: one token explode feeding both count
    * frames (map-side combined), two joins keyed on the token — the
    * unigram frame is VOCABULARY-sized, the natural shuffle axis —
    * and the two totals ride as 1-row broadcasts. Nothing pairwise
    * beyond adjacency. */
  def pmiPairs(df: DataFrame, text: Column, minCount: Int): DataFrame = {
    val toks = col("__toks")
    val cnt = size(toks) - 1
    val base = df.select(tokens(text).as("__toks"))
    // deliberately UNSTAGED: three plan branches consume the unigram
    // frame (w1 join, w2 join, t_tokens total) and each re-executes
    // the token explode + vocabulary-keyed agg — but staging it was
    // measured SLOWER at the spill decade (223 s vs 154 s at 1000×):
    // the vocabulary frame grows ×MULT with the salted corpus, and
    // materializing ~50 M deserialized rows through a local
    // checkpoint costs more than two recomputes of a cheap
    // explode+map-side-combine. Staging pays only for frames whose
    // size is DECADE-INVARIANT (the DSIR counts collect, the ≤k
    // alignment frames); vocabulary-sized is not bounded
    val uni = base.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("t_tokens"))
    val pairs = base.select(
        explode(when(cnt >= 1,
          transform(sequence(lit(1), cnt),
            i => struct(element_at(toks, i).as("w1"),
              element_at(toks, i + 1).as("w2"))))
          .otherwise(array())).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val ptot = base.select(greatest(cnt, lit(0)).cast("long").as("np"))
      .agg(sum(col("np")).as("t_pairs"))
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ptot))
      .select(col("w1"), col("w2"), col("c12"),
        round((log(col("c12")) - log(col("t_pairs"))
          - log(col("c1")) - log(col("c2"))
          + lit(2) * log(col("t_tokens"))) * 1e6)
          .cast("long").as("pmi_micro"))
  }
}
