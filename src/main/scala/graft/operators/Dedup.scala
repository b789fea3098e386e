package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructType}
import graft.functions.VectorFunctions.tokenHash

/** Deduplication family for a training-data pipeline: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine. Everything
  * is declarative DataFrame algebra — at 100 TB the only shuffles are
  * the group-bys/joins on content keys, all of which partial-aggregate
  * map-side first; candidate generation is always blocked (shingle,
  * LSH band, label) so no operator ever goes O(N²) on the corpus.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on the content. Emits one row per
    * distinct text with the keeper id (min) and the duplicate count.
    * At scale: group on md5(text) instead of raw text to cut shuffle
    * width — both provided. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text.cast("binary")).as("content_md5"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Distinct word n-gram shingles per document (the blocking unit
    * for Jaccard and the hash input for MinHash).
    *
    * The tokenization is BOUND TO A COLUMN before the n-gram lambda:
    * Spark does no subexpression elimination across higher-order-
    * function boundaries, so a `split()` written inline inside the
    * `transform` body re-executes once per produced n-gram —
    * O(tokens²) work per document. Materializing the token array in a
    * projection first makes every lambda iteration an O(n)-total
    * `slice` over an already-computed array. This is the inner loop
    * of corpus dedup; the quadratic form is the difference between a
    * scan-bound and a CPU-bound 100 TB dedup pass. */
  def shingles(df: DataFrame, text: Column, id: Column, n: Int): DataFrame = {
    val toks = col("__toks")
    val cnt = size(toks) - (n - 1)
    df.select(id.as("doc_id"), split(text, " ").as("__toks"))
      .select(
        col("doc_id"),
        explode(when(cnt >= 1,
          transform(sequence(lit(1), cnt),
            i => concat_ws(" ", slice(toks, i, lit(n)))))
          .otherwise(array())).as("shingle"))
      .distinct()
  }

  /** N-gram Jaccard near-dup pairs: group by shingle, expand each
    * posting list into its ordered pairs, count shared shingles per
    * pair → |A∩B| / (|A|+|B|−|A∩B|). One shuffle on the shingle key
    * (vs a self-join's two + join); pairs only materialize for
    * documents sharing ≥1 shingle, and a posting list of length d
    * costs d·(d−1)/2.
    *
    * SCALE WARNING (measured, 10× rehearsal): when posting lists
    * densify — small vocabulary, boilerplate shingles — pair volume
    * squares; 10× docs cost ~19× here vs ~4× for the MinHash-LSH
    * generator. The exact join is the right tool for candidate
    * CONFIRMATION and modest corpora; at 100 TB generate candidates
    * with `minhashCandidatePairs` (then estimate/confirm), or pass
    * `maxPostingLen` to drop stop-shingles — a shingle shared by
    * thousands of documents carries no blocking information, only
    * quadratic cost. Capping changes semantics (it can only drop
    * pairs, never invent them), so the default keeps the exact join.
    */
  /** Shared shingle-postings core for the exact overlap measures:
    * (id_a, id_b, common, size_a, size_b) for every pair sharing ≥1
    * n-gram. Shingles hash to 8 bytes AT THE EXPLODE, before the
    * distinct — the dedup shuffle then moves longs, not ~n-word
    * strings (the grouping key is internal; outputs are doc-id pairs
    * + counts) — via the rolling-fingerprint kernel
    * ([[graft.plans.RollingGramHash]]): O(len) per document, no
    * per-window string rebuild. The size frames are one row per
    * document — at corpus scale that's O(N-documents), far past any
    * safe broadcast ceiling, so no broadcast hint: AQE broadcasts
    * when the measured size allows and falls back to a shuffled join
    * on id_a/id_b otherwise. */
  /** Distinct 8-byte rolling-fingerprint shingles per document:
    * `(doc_id, h)` — the blocking currency of the overlap measures
    * and the exploded form of the per-document [[shingleSets]]
    * ([[graft.plans.RollingGramHash]]: O(len) per document, no
    * per-window string rebuild). NOT the MinHash input — signature
    * VALUES must replay in the oracle, so that path keeps the
    * portable md5-based tokenHash over shingle strings. */
  private[operators] def hashedShingles(df: DataFrame, text: Column,
                                        id: Column, n: Int): DataFrame = {
    df.select(id.as("doc_id"), split(text, " ").as("__toks"))
      .select(col("doc_id"),
        explode(graft.plans.GraftFunctions.grams(col("__toks"), n)).as("h"))
      .distinct()
  }

  private def shingleOverlap(df: DataFrame, text: Column, id: Column, n: Int,
                             maxPostingLen: Int): DataFrame = {
    // Staged ONCE (r21, guide §2.4/§5): the distinct (doc_id, shingle)
    // frame feeds the postings aggregate AND both size joins — unstaged,
    // the plan re-ran the corpus explode+distinct THREE times (measured:
    // three full Scan parquet → Generate → Exchange chains in the
    // dd_jaccard physical plan). One materialized pass of 16-byte rows;
    // the two size re-aggregations read the staged longs, not the text.
    // stageLocal (not localCheckpoint): doc_id is a raw source id — the
    // constraint-leak rule in GraftBridge's scaladoc.
    val sh = org.apache.spark.sql.GraftBridge.stageLocal(
      hashedShingles(df, text, id, n).withColumnRenamed("h", "shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val postings = sh.groupBy("shingle")
      .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= maxPostingLen)
    val pairs = postings.select(explode(flatten(transform(col("docs"),
      (x, i) => transform(
        slice(col("docs"), i + 2, size(col("docs"))),
        y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
    pairs
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "id_a")
                 .withColumnRenamed("n_shingles", "size_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b")
                 .withColumnRenamed("n_shingles", "size_b"), Seq("id_b"))
  }

  def jaccardPairs(df: DataFrame, text: Column, id: Column, n: Int,
                   threshold: Double, maxPostingLen: Int = Int.MaxValue): DataFrame =
    shingleOverlap(df, text, id, n, maxPostingLen)
      .withColumn("jaccard",
        round(col("common").cast("double")
          / (col("size_a") + col("size_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")

  /** N-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold —
    * the asymmetric partial-duplicate measure. A short document
    * quoted inside a long one has high containment but LOW Jaccard
    * (the union is dominated by the long doc), so MinHash bands
    * rarely collide on it and the symmetric pipeline never proposes
    * it; containment detection therefore rides the shingle-postings
    * generator (same single-shuffle shape as jaccardPairs, same
    * `maxPostingLen` stop-shingle cap for dense corpora). Emits both
    * directional ratios: c_a = |A∩B|/|A| is "how much of A is inside
    * B".
    *
    * Cap posture (r14 flip): the DEFAULT is the capped join at
    * [[containmentDefaultCap]] — the library's measured production
    * posture (BASELINE.md#containment prices it; the uncapped join
    * "would not survive a dense corpus at any heap": a boilerplate
    * shingle's posting list squares the pair volume). A capped run
    * can only DROP pairs whose shared shingle is corpus-stopword-hot
    * (ContainmentSpec's subset law), never invent one; callers that
    * want the exact quadratic confirmation on a corpus they KNOW is
    * sparse opt in with `maxPostingLen = Int.MaxValue`. */
  val containmentDefaultCap = 2000

  def containmentPairs(df: DataFrame, text: Column, id: Column, n: Int,
                       threshold: Double,
                       maxPostingLen: Int = containmentDefaultCap): DataFrame =
    shingleOverlap(df, text, id, n, maxPostingLen)
      .withColumn("c_a", round(col("common").cast("double") / col("size_a"), 6))
      .withColumn("c_b", round(col("common").cast("double") / col("size_b"), 6))
      .filter(greatest(col("c_a"), col("c_b")) >= threshold)
      .select("id_a", "id_b", "common", "c_a", "c_b")

  /** EXACT Jaccard restricted to the LSH candidate set — the
    * production dedup shape: the sub-linear generator proposes, the
    * exact measure verifies, and the quadratic shingle join never
    * runs. Per candidate pair the intersection is computed on the
    * per-document hashed shingle arrays (array_intersect, codegen'd);
    * the candidate table joins the per-doc array table on each id —
    * shuffles keyed on doc id, sized by candidates not by corpus². */
  def lshVerifiedPairs(df: DataFrame, text: Column, id: Column, n: Int,
                       threshold: Double): DataFrame = {
    // Staged ONCE (r21): the id_a and id_b verification joins each
    // read the shingle-set frame — unstaged, the corpus shingling ran
    // twice. stageLocal: doc_id is a raw source id.
    val sets = org.apache.spark.sql.GraftBridge.stageLocal(
      shingleSets(df, text, id, n))
    minhashCandidatePairs(df, text, id, n)
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard",
        round(col("common").cast("double")
          / (size(col("sha")) + size(col("shb")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")
  }

  /** End-to-end dedup: the surviving corpus after dropping (a) exact
    * duplicates (keep the min id per content) and (b) the higher id
    * of every LSH-verified near-dup pair above the Jaccard threshold.
    * Near-dup suppression rides `lshVerifiedPairs` — candidates from
    * the sub-linear LSH generator, verified with the exact measure —
    * so corpus dedup scales like LSH, not like the quadratic shingle
    * join (a pair both LSH bands miss is, by design, accepted noise;
    * recall is tunable via bands × rows). Pairwise suppression is a
    * deliberate single-pass policy — transitive clustering
    * (Graph.connectedComponents) is the iterative refinement a
    * curation pipeline layers on top. */
  def dedupedCorpus(df: DataFrame, text: Column, id: Column, n: Int,
                    threshold: Double): DataFrame = {
    val keepers = exact(df, text, id).select(col("keep_id").as("doc_id"))
    val nearDupLosers = lshVerifiedPairs(df, text, id, n, threshold)
      .select(col("id_b").as("doc_id")).distinct()
    df.join(keepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** Per-document hashed shingle sets — the verification payload for
    * the exact-Jaccard confirm pass (and, persisted, the corpus half
    * of incremental dedup). A per-row projection with no shuffle, at
    * most one row per input row: the same sets as exploding
    * [[hashedShingles]] and regrouping on doc_id (ShingleSetsSpec).
    * Documents with fewer than n tokens, or null text, have no shingle
    * and get no row; the gate runs on the cheap token count, before the
    * kernel, for the reason given in [[minhashSignatures]]. */
  def shingleSets(df: DataFrame, text: Column, id: Column, n: Int): DataFrame =
    df.where(text.isNotNull && size(split(text, " ")) >= n)
      .select(id.as("doc_id"),
        array_distinct(graft.plans.GraftFunctions.grams(split(text, " "), n)).as("sh"))

  /** The corpus-side dedup state incremental ingestion probes against.
    * In production these three frames are PERSISTED artifacts of the
    * previous pipeline run (parquet tables, bucketed on their keys —
    * `ensurePersistedIndex` below) — the whole point of the
    * incremental form is that a new batch never re-scans the corpus
    * text, only joins against this index. The index stores the LSH
    * BUCKET rows (band, bucket, doc_id), not raw signatures: the
    * probe joins on (band, bucket), so that is the key the stored
    * layout must be clustered on. */
  final case class CorpusIndex(md5s: DataFrame, buckets: DataFrame,
                               shingleSets: DataFrame)

  /** Build the index from a corpus frame (the bootstrap / refresh
    * path; steady-state pipelines load the persisted index instead). */
  def indexCorpus(corpus: DataFrame, text: Column, id: Column, n: Int): CorpusIndex =
    CorpusIndex(
      corpus.select(md5(text.cast("binary")).as("content_md5")).distinct(),
      lshBuckets(minhashSignatures(corpus, text, id, n)),
      shingleSets(corpus, text, id, n))

  /** The per-document index columns [[withIndexColumns]] appends and a
    * stream stores next to each accepted document: the content md5,
    * the hashed shingle set `sh` and the LSH `bands` as (band, bucket)
    * structs. Below n tokens `sh` and `bands` are empty arrays, so a
    * null marks a row written without its index. */
  val indexSchema: StructType = new StructType()
    .add("content_md5", StringType)
    .add("sh", ArrayType(LongType))
    .add("bands", ArrayType(new StructType().add("band", IntegerType).add("bucket", StringType)))

  val indexColumns: Seq[String] = indexSchema.fieldNames.toSeq

  /** `df` with the [[indexSchema]] columns appended (recomputed where
    * `df` already has them), both kernels called in one projection:
    * the same md5, shingle set and bucket keys as [[indexCorpus]]. */
  def withIndexColumns(df: DataFrame, text: Column, n: Int): DataFrame = {
    def empty(c: String): Column = array().cast(indexSchema(c).dataType)
    val rest = df.columns.filterNot(indexColumns.contains).map(c => col(s"`$c`")).toSeq
    // the same short-doc gate as minhashSignatures / shingleSets
    val long = text.isNotNull && size(split(text, " ")) >= n
    df.select(rest ++ Seq(
        md5(text.cast("binary")).as("content_md5"),
        when(long, array_distinct(graft.plans.GraftFunctions.grams(split(text, " "), n)))
          .otherwise(empty("sh")).as("sh"),
        when(long, graft.plans.GraftFunctions.minhash(text, n)).as("__sig")): _*)
      .select(rest ++ Seq(col("content_md5"), col("sh"),
        when(col("__sig").isNull, empty("bands"))
          .otherwise(bands(i => col("__sig")(i), 4)).as("bands")): _*)
  }

  /** The index of rows that carry their [[indexColumns]] (a stream's
    * accepted output): plain projections, no kernel call. Equal to
    * [[indexCorpus]] of the same text, the md5s without its `distinct`,
    * which a set of accepted survivors never needs. A row without its
    * stored index (written before a stream stored one) fails the probe
    * loudly rather than being missed. */
  def storedIndex(stored: DataFrame, id: Column): CorpusIndex = {
    val unindexed = raise_error(concat(lit("stored row "), id.cast("string"),
      lit(" has no index columns (written before its stream stored them): " +
        "re-ingest that output into a fresh dir")))
    val ix = stored.select(id.as("doc_id"),
      when(col("bands").isNull, unindexed).otherwise(col("content_md5")).as("content_md5"),
      coalesce(col("sh"), unindexed).as("sh"),
      coalesce(col("bands"), unindexed).as("bands"))
    CorpusIndex(
      ix.select(col("content_md5")),
      bandRows(ix, col("doc_id")),
      ix.where(size(col("sh")) > 0).select(col("doc_id"), col("sh")))
  }

  /** One (doc_id, carry…, band, bucket) row per struct of `ix`'s
    * `bands`. `explode_outer` and a null filter rather than `explode`:
    * ahead of a plain explode of a column Spark infers `size(bands) >
    * 0` and pushes it below the projection that computes `bands`,
    * where it would call the MinHash kernel once per band component. */
  private def bandRows(ix: DataFrame, id: Column, carry: String*): DataFrame =
    ix.select((id.as("doc_id") +: carry.map(col)) :+ explode_outer(col("bands")).as("bb"): _*)
      .where(col("bb").isNotNull)
      .select((col("doc_id") +: carry.map(col))
        :+ col("bb.band").as("band") :+ col("bb.bucket").as("bucket"): _*)

  /** Idempotent persisted-index materialization ([[Bucketing.buildOnce]]):
    * the first call builds the index and writes it as three
    * bucketed+sorted parquet tables, each clustered on its probe key —
    * md5s on content_md5 (the exact-dup semi-join), buckets on
    * (band, bucket) (the LSH candidate join), shingle sets on doc_id
    * (the verification join). With this layout every probe join reads
    * the corpus side co-partitioned: only the |batch|-sided frames
    * shuffle (asserted in DedupIndexSpec). Later calls load the stored
    * layout — the steady-state ingestion shape, where the index is an
    * artifact of the previous run and the corpus text is never
    * rescanned. */
  def ensurePersistedIndex(spark: org.apache.spark.sql.SparkSession, root: String,
                           tag: String, nBuckets: Int = 8)
                          (build: => CorpusIndex): CorpusIndex = {
    val Seq(md5s, buckets, shingles) = Bucketing.buildOnce(spark, root, Seq(
      Bucketing.Table(s"ci_md5_$tag", "md5s", Some(Seq("content_md5") -> nBuckets)),
      Bucketing.Table(s"ci_bkt_$tag", "buckets", Some(Seq("band", "bucket") -> nBuckets)),
      Bucketing.Table(s"ci_sh_$tag", "shingles", Some(Seq("doc_id") -> nBuckets)))) {
      val i = build
      Seq(i.md5s, i.buckets, i.shingleSets)
    }
    CorpusIndex(md5s, buckets, shingles)
  }

  /** Incremental dedup: the rows of `batch` that survive against
    * already-deduped scopes — the shape a continuously-ingested
    * training corpus actually runs (the full-corpus rebuild
    * `dedupedCorpus` is the bootstrap; this is every day after).
    * Returns the batch's own columns; [[incrementalIndexed]] is the
    * same survivors with their [[indexColumns]] kept.
    *
    * A batch doc is dropped when (a) its exact content exists in any
    * scope or earlier in the batch (min doc_id wins, matching
    * `exact`), or (b) an LSH-proposed, exact-Jaccard-verified near-dup
    * exists in any scope or earlier in the batch — the same
    * propose-then-verify policy as `dedupedCorpus`, made asymmetric:
    * a scope always wins regardless of id.
    *
    * `scopes` is a flat list: a streaming twin passes the settled
    * corpus index and the [[storedIndex]] of its own accepted output
    * together. The batch side is one projection ([[withIndexColumns]]:
    * md5, shingle set and bands, each kernel called once); each scope
    * is probed on its own stored layout (no union of scopes, which
    * would discard the bucketed clustering and re-shuffle every
    * index); all losers meet in one anti-join. The plan thus
    * references the batch O(scopes) times, where chaining one call per
    * scope multiplied the references (~10^k subplans for k scopes).
    *
    * Flat equals chained: batch and scope ids are disjoint and every
    * verdict is per pair, so a doc's scope hits do not depend on which
    * other batch docs survived. In-batch dedup re-run on a subset of
    * the batch cannot drop a doc the first pass kept: its winner would
    * be a smaller-id survivor in the subset, hence in the batch, which
    * already dropped it. So the survivors are the batch minus every
    * scope's hits minus the in-batch losers, whichever way it is
    * composed (IncrementalDedupSpec asserts both).
    *
    * Scale shape: every join is keyed by the batch side. Batch bucket
    * rows carry their doc's shingle set, so verification joins only
    * the candidate pairs against each scope's shingle-set table, and
    * the in-batch pairs, which carry both sets, join nothing. A
    * persisted scope's text is never re-indexed, and neither is a
    * stored one's. Each scope's md5, bucket and shingle-set tables are
    * still read in full per call (as a broadcast build side, or as a
    * full bucketed scan on the sort-merge path, since no join key
    * prunes buckets): a persisted index saves the kernel work over the
    * scope's text, not its scan. An in-plan scope (`indexCorpus` over
    * a frame) re-runs the kernels over its whole text per call.
    * Candidate pairs are de-duplicated before verification (a pair
    * colliding in k bands would otherwise be joined and intersected k
    * times; a shingle set is a function of its doc id, so carrying it
    * leaves the pair set unchanged); verified losers and the loser
    * union are not, since the final `left_anti` join ignores
    * duplicate keys. */
  def incremental(scopes: Seq[CorpusIndex], batch: DataFrame, text: Column,
                  id: Column, n: Int, threshold: Double): DataFrame =
    incrementalIndexed(scopes, batch, text, id, n, threshold)
      .select(batch.columns.map(c => col(s"`$c`")).toSeq: _*)

  /** [[incremental]]'s survivors with their [[indexColumns]]
    * appended: what a stream writes, so that a later batch probes the
    * survivors through [[storedIndex]] without re-running a kernel. */
  def incrementalIndexed(scopes: Seq[CorpusIndex], batch: DataFrame, text: Column,
                         id: Column, n: Int, threshold: Double): DataFrame = {
    require(scopes.nonEmpty, "incremental dedup needs at least one scope")
    val bx = withIndexColumns(batch, text, n)
    val bMd5 = bx.select(id.as("doc_id"), col("content_md5"))
    val exactVsScopes = scopes.map(s =>
        bMd5.join(s.md5s, Seq("content_md5"), "left_semi").select("doc_id"))
      .reduce(_ unionByName _)
    val exactInBatch = bMd5
      .join(bMd5.groupBy("content_md5").agg(min(col("doc_id")).as("keep_id")),
        Seq("content_md5"))
      .filter(col("doc_id") =!= col("keep_id")).select("doc_id")

    val bkB = bandRows(bx, id, "sh")
    def candVs(buckets: DataFrame): DataFrame =
      bkB.as("b").join(buckets.as("c"),
          col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
        .select(col("b.doc_id").as("batch_id"), col("b.sh").as("sha"),
          col("c.doc_id").as("other_id"))
        .distinct()
    val candInBatch = bkB.as("b").join(bkB.as("o"),
        col("b.band") === col("o.band") && col("b.bucket") === col("o.bucket")
          && col("b.doc_id") > col("o.doc_id"))
      .select(col("b.doc_id").as("batch_id"), col("b.sh").as("sha"),
        col("o.doc_id").as("other_id"), col("o.sh").as("shb"))
      .distinct()

    // Verification runs per candidate SOURCE (each scope / earlier-
    // batch), so a scope's half joins its shingle-set index directly
    // on its stored doc_id clustering instead of through a union with
    // the batch frame (a union would discard the persisted layout and
    // re-shuffle the scope side). Scope and batch ids are disjoint by
    // contract, so the split is the same pair set.
    def verified(pairs: DataFrame): DataFrame =
      pairs
        .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .withColumn("jaccard",
          round(col("common").cast("double")
            / (size(col("sha")) + size(col("shb")) - col("common")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("batch_id").as("doc_id"))
    val nearLosers = scopes.map(s => verified(candVs(s.buckets)
        .join(s.shingleSets.select(col("doc_id").as("other_id"), col("sh").as("shb")),
          Seq("other_id"))))
      .reduce(_ unionByName _)
      .unionByName(verified(candInBatch))

    bx.join(exactVsScopes.unionByName(exactInBatch).unionByName(nearLosers),
      Seq("doc_id"), "left_anti")
  }

  /** One settled scope — the single-index form of the above. */
  def incremental(index: CorpusIndex, batch: DataFrame, text: Column,
                  id: Column, n: Int, threshold: Double): DataFrame =
    incremental(Seq(index), batch, text, id, n, threshold)

  /** Bootstrap convenience: index the corpus in-plan, then dedupe the
    * batch against it. */
  def incremental(corpus: DataFrame, batch: DataFrame, text: Column,
                  id: Column, n: Int, threshold: Double): DataFrame =
    incremental(indexCorpus(corpus, text, id, n), batch, text, id, n, threshold)

  // ---- MinHash + LSH -------------------------------------------------

  /** The permutation modulus and 16 fixed (a, b) permutations —
    * re-exported from the kernel, the single source of truth
    * ([[graft.plans.MinHashKernel]]; the oracle CTEs replay the same
    * constants). */
  val minhashP = graft.plans.MinHashKernel.P
  val minhashAB: Seq[(Long, Long)] = graft.plans.MinHashKernel.perms

  /** Per-document MinHash signature columns m0..m15 — the single-pass
    * `graft_minhash` kernel: one byte-walk per document inside
    * whole-stage codegen, no shingle explode, no corpus-sized
    * DISTINCT, no groupBy(doc_id) reassembly shuffle. Bit-identical
    * to [[minhashSignaturesExploded]] (duplicate shingles can't move
    * a min, so dropping the distinct is sound — DedupSpec's parity
    * law); documents with fewer than n tokens keep producing NO row
    * (the kernel returns an empty signature, filtered here). */
  def minhashSignatures(df: DataFrame, text: Column, id: Column, n: Int): DataFrame = {
    // the short-doc gate runs on the CHEAP token count, before the
    // kernel projection — filtering on size(__sig) AFTER it lets
    // predicate pushdown substitute the kernel into the filter and
    // evaluate every document's md5 walk twice (measured in the plan:
    // graft_minhash appeared in both the scan DataFilter and the
    // projection); split-count ≥ n is the same predicate the exploded
    // shingle window guard always applied
    df.where(text.isNotNull && size(split(text, " ")) >= n)
      .select(id.as("doc_id"),
        graft.plans.GraftFunctions.minhash(text, n).as("__sig"))
      .select(col("doc_id") +:
        minhashAB.indices.map(i => col("__sig")(i).as(s"m$i")): _*)
  }

  /** The relational twin — retained ONLY as the specs' independent
    * reference for the kernel (the Winnow/DSIR/hashEmbed precedent). */
  def minhashSignaturesExploded(df: DataFrame, text: Column, id: Column,
                                n: Int): DataFrame = {
    val sh = shingles(df, text, id, n)
      .withColumn("h", pmod(tokenHash(col("shingle")), lit(minhashP)))
    val aggs = minhashAB.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(minhashP))).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: md5 over each 4-row band → (band, bucket) keys.
    * Documents sharing any bucket are near-dup candidates; the
    * bucket join replaces the O(N²) signature comparison. `carry`
    * names extra columns to ride through the explode — consumers
    * that need per-document payload on the bucket rows (the
    * signature array in minhashEstimates) carry it here instead of
    * re-joining the signature frame downstream. */
  def lshBuckets(signatures: DataFrame, rowsPerBand: Int = 4,
                 carry: Seq[String] = Nil): DataFrame =
    bandRows(signatures.select(col("doc_id") +: carry.map(col)
        :+ bands(i => col(s"m$i"), rowsPerBand).as("bands"): _*),
      col("doc_id"), carry: _*)

  /** The (band, bucket) structs of one signature, component `i` read
    * by `m(i)`: each bucket is the md5 over its band's components. */
  private def bands(m: Int => Column, rowsPerBand: Int): Column =
    array((0 until minhashAB.size / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(m)
      struct(lit(b).as("band"),
        md5(concat_ws(":", cols: _*).cast("binary")).as("bucket"))
    }: _*)

  /** Bucket self-join half of the candidate generator, factored over
    * a precomputed signature frame so callers that already hold
    * signatures don't pay the shingle→hash→16-min-agg pipeline (the
    * most expensive dedup subtree) a second time. The two join inputs
    * are the identical bucketed subtree, so the bucket exchange is
    * written once and reused for both sides (ReuseExchange). */
  def pairsFromSignatures(signatures: DataFrame): DataFrame = {
    val bk = lshBuckets(signatures)
    bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Candidate pairs from LSH buckets (distinct across bands). */
  def minhashCandidatePairs(df: DataFrame, text: Column, id: Column, n: Int): DataFrame =
    pairsFromSignatures(minhashSignatures(df, text, id, n))

  /** MinHash Jaccard ESTIMATE for the LSH candidate pairs: fraction
    * of equal signature components — the cheap similarity check that
    * replaces exact shingle-set comparison at scale (the estimator's
    * expectation is the true Jaccard).
    *
    * The signature pipeline is computed ONCE: the 16-component array
    * rides through the band explode (`carry`) and the bucket
    * self-join, so the estimate reads both signatures off the joined
    * row instead of re-joining a signature frame per side (which
    * re-ran the whole pipeline from the scan). Cost: bucket-shuffle
    * rows widen by k longs — O(k) per row vs a second signature
    * aggregation plus two doc-id-keyed join shuffles. */
  def minhashEstimates(df: DataFrame, text: Column, id: Column, n: Int): DataFrame = {
    val sigArr = array(minhashAB.indices.map(i => col(s"m$i")): _*)
    val bk = lshBuckets(
      minhashSignatures(df, text, id, n).withColumn("sig", sigArr),
      carry = Seq("sig"))
    // sig_a/sig_b are functions of the ids, so the distinct over
    // (id_a, id_b, sig_a, sig_b) is the same pair set as over the ids.
    val equal = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p))
    bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        round(equal.cast("double") / minhashAB.size, 6).as("est_jaccard"))
  }

  // ---- SimHash -------------------------------------------------------

  /** SimHash over token hashes: per bit, sign of Σ(±1); one groupBy
    * with `bits` conditional sums (single aggregation pass). 32 bits
    * is the oracle-checked default; 64 bits is the scale variant —
    * fingerprint width has to grow with the corpus or band buckets
    * saturate (see simhashPairs). The fingerprint assembles via
    * bitwise OR of distinct powers (identical value to the old sum
    * for 32 bits, and safe for bit 63). */
  def simhash(df: DataFrame, text: Column, id: Column, bits: Int = 32): DataFrame = {
    // the single-pass graft_simhash kernel: one byte-walk per
    // document computes all `bits` vote sums inside whole-stage
    // codegen — no token explode, no groupBy(doc_id) reassembly
    // shuffle (votes are MULTISET sums, so unlike MinHash there was
    // no distinct to drop). Bit-identical to [[simhashExploded]]
    // (SimHashKernelSpec's parity law); hash backend per width as
    // before — ≤32 bits the portable md5 tokenHash (dd_simhash's
    // DuckDB-replayable backend), wider xxhash64 (tokenHash's upper
    // 32 bits are constant zero and would degenerate the high bands)
    df.where(text.isNotNull)
      .select(id.as("doc_id"),
        graft.plans.GraftFunctions.simhash(text, bits).as("simhash"))
  }

  /** The relational twin — retained ONLY as the specs' independent
    * reference for the kernel (the Winnow/DSIR/MinHash precedent). */
  def simhashExploded(df: DataFrame, text: Column, id: Column,
                      bits: Int = 32): DataFrame = {
    val hash = if (bits <= 32) tokenHash(col("token")) else xxhash64(col("token"))
    val tok = df.select(id.as("doc_id"),
      explode(split(text, " ")).as("token"))
      .withColumn("h", hash)
    val bitSums = (0 until bits).map { r =>
      sum(when(shiftright(col("h"), r).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$r")
    }
    val fp = (0 until bits).map { r =>
      when(col(s"s$r") > 0, lit(1L << r)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  val simhashMaxHamming = 3

  /** SimHash near-dup candidates: pairs within `simhashMaxHamming`
    * bits of each other, blocked on `bandBits`-wide fingerprint
    * bands. Any pair ≤ maxHamming bits apart corrupts at most
    * maxHamming bands, so with more than maxHamming bands at least
    * one band survives intact (pigeonhole) — the banding is lossless
    * for the distance cutoff, so this IS the exact Hamming-ball join,
    * but the join key is a band slice instead of an all-pairs cross.
    * One codegen'd `bit_count(xor)` per candidate; the fingerprint
    * table shuffles nBands× (once per band), never N².
    *
    * SCALE: the per-band bucket space is 2^bandBits, so CHANCE
    * collisions (unrelated docs landing in one bucket) grow as
    * N²/2^bandBits — with the 32/8 default's 256 buckets the
    * candidate set goes quadratic once N ≫ thousands (measured in the
    * 100× rehearsal, BASELINE.md). At corpus scale use bits=64,
    * bandBits=16: still 4 bands (lossless for ≤3 bits) but 65,536
    * buckets per band — 256× fewer chance candidates. */
  /** Per-fingerprint (band, bkey) rows: fingerprint split into
    * bandBits-wide slices, one row per slice — the blocking key of
    * the Hamming-ball join (shared by the pair self-join and the
    * incremental batch-vs-corpus probe). */
  def simhashBands(fp: DataFrame, bits: Int, bandBits: Int): DataFrame = {
    val nBands = bits / bandBits
    require(bits % bandBits == 0 && nBands > simhashMaxHamming,
      s"need more than $simhashMaxHamming bands for a lossless Hamming-$simhashMaxHamming join")
    val mask = (1L << bandBits) - 1
    fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until nBands).map(b => struct(
          lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("bkey"))): _*)).as("bd"))
      .select(col("doc_id"), col("simhash"), col("bd.band").as("band"), col("bd.bkey").as("bkey"))
  }

  def simhashPairs(df: DataFrame, text: Column, id: Column,
                   bits: Int = 32, bandBits: Int = 8): DataFrame =
    hammingPairs(simhash(df, text, id, bits), bits, bandBits)

  /** Banded Hamming-ball pair join over ANY `(doc_id, simhash)`
    * fingerprint frame — the blocking machinery is hash-agnostic, so
    * text SimHash and image dHash ([[Multimodal.dHash]]) share it. */
  def hammingPairs(fp: DataFrame, bits: Int, bandBits: Int): DataFrame = {
    val bands = simhashBands(fp, bits, bandBits)
    bands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band")
        && col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= simhashMaxHamming)
  }

  /** Embedding near-dups: cosine ≥ threshold within a blocking key
    * (the label column; at scale an LSH/IVF coarse quantizer provides
    * the blocks — see embeddingNearDupsBy + Similarity.lloydAssign).
    * Norms are computed once per vector BEFORE the pair join — at N²
    * pair counts that removes two-thirds of the floating-point work. */
  def embeddingNearDups(emb: DataFrame, threshold: Double): DataFrame =
    embeddingNearDupsBy(emb, "label", threshold)

  /** The same within-block cosine join over an ARBITRARY blocking
    * column. The block key is what makes embedding dedup scale: the
    * pair join shuffles on `blockCol`, so candidate volume is
    * Σ_b |block_b|² instead of N² — supply a corpus label when one
    * exists, or a trained coarse-quantizer cell (IVF centroid id)
    * when the corpus is unlabeled. Pairs never cross blocks by
    * construction; recall across block boundaries is the quantizer's
    * responsibility (more cells = cheaper join, more boundary
    * misses — the standard IVF trade). */
  def embeddingNearDupsBy(emb: DataFrame, blockCol: String,
                          threshold: Double): DataFrame = {
    val e = emb.withColumn("nrm", sqrt(graft.functions.VectorFunctions.fastNormSq(col("embedding"))))
    e.as("a")
      .join(e.as("b"), col(s"a.$blockCol") === col(s"b.$blockCol")
        && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        graft.functions.VectorFunctions.fastDot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * that decides WHICH vector to keep, not just which pairs collide.
    * Vectors are blocked by their assigned coarse-quantizer cell
    * (`centroids` = e.g. Similarity.lloydTrain output as
    * (centroid_id, cent)); within a cell, cosine-near pairs
    * (≥ threshold) are found exactly as embeddingNearDupsBy, and a
    * vector is DROPPED when any near-neighbor outranks it. Keep
    * priority follows the paper's diversity-keeping choice: the
    * vector FARTHER from its cell centroid wins (it carries the
    * information the centroid doesn't already summarize); ties break
    * to the lower vec_id. The verdict is pairwise dominance, not
    * one-per-connected-component — a dropped vector's own neighbors
    * are judged against their OWN best dominator, matching the
    * paper's per-pair epsilon sweep. The reference pipeline stops at
    * relational ETL (/root/reference/src/data_processor.py); this is
    * the LLM-corpus extension surface.
    *
    * Scale shape: the quantizer bounds the pair join to Σ|cell|²
    * (the dd_embed_ivf argument), and the dominance verdict is
    * computed INSIDE that block join — each candidate pair projects
    * its loser id pair-locally (dist rides the join inputs), so the
    * only things that ever materialize are the assignment frame
    * (N rows, staged once) and the map-side-combined distinct over
    * loser ids. The earlier form materialized the Σ|block|² candidate
    * frame and re-joined the N-row assignment twice to rank it; at
    * the 1000× rehearsal (5 M near-copy-clustered vectors) those
    * pair-keyed joins buffered the candidate stream through a
    * sort-merge join and OOM'd an 8 GB heap — pair-local dominance
    * is the spill-decade posture, not an optimization.
    *
    * `maxCell` (0 = off) is the SKEW GUARD: Σ|cell|² is only a bound
    * if no single cell balloons, and the 100× spill rehearsal caught
    * exactly that failure — one oversized cell put ~|cell|² pairs in
    * one task (a 31-minute straggler before the kill). With
    * maxCell > 0 every cell is deterministically sub-split into
    * ceil(|cell|/maxCell) slices before the pair join, so no block
    * exceeds ~maxCell vectors. The slice is the residue of the md5
    * ID HASH ([[graft.functions.VectorFunctions.tokenHash]]), not of
    * the raw id — the same rationale as Similarity.crossScored's
    * maxBucket: corpora routinely stripe ids (even/odd sides,
    * id·mult+rep salting), and a raw-id residue with an even nsub
    * would annihilate every cross-parity pair in the cell instead of
    * thinning it uniformly. Near-pairs across slices of the same
    * cell are NOT compared — semantically this is "more, finer
    * clusters", the same trade the paper makes when it scales k with
    * the corpus; the cap is the production posture at any scale.
    * The sub-split needs one ≤-k-row count aggregate, broadcast back.
    *
    * Returns every vector with its verdict:
    * (vec_id, centroid_id, dist, kept). */
  def semDedup(emb: DataFrame, centroids: DataFrame,
               threshold: Double, maxCell: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.{fastDot, fastNormSq, tokenHash}
    val assigned = Similarity.lloydAssignDist(emb, centroids)
    val blockedRaw =
      if (maxCell <= 0) assigned.withColumn("block", col("centroid_id"))
      else {
        val nsub = assigned.groupBy("centroid_id")
          .agg(ceil(count(lit(1)) / maxCell.toDouble).cast("long").as("nsub"))
        assigned.join(broadcast(nsub), Seq("centroid_id"))
          .withColumn("block",
            col("centroid_id") * (1L << 32)
              + pmod(tokenHash(col("vec_id").cast("string")), col("nsub")))
      }
    // stage the N·k assignment pass once (GraftBridge.stageLocal, the
    // constraint-free checkpoint): it feeds both sides of the pair
    // join AND the final verdict frame — three evaluations of the
    // broadcast-argmin otherwise
    val blocked = org.apache.spark.sql.GraftBridge.stageLocal(blockedRaw
      .select(col("vec_id"), col("centroid_id"), col("dist"), col("block")))
    val e = blocked.select(col("vec_id"), col("block"), col("dist"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("nrm", sqrt(fastNormSq(col("embedding"))))
    // dominance is pair-local: id_a < id_b by construction, so on a
    // dist tie the pair's loser is b (the lower id keeps); the loser
    // id is projected inside the join and the distinct partial-aggs
    // map-side — no candidate frame survives the stage boundary
    val losers = e.as("a")
      .join(e.as("b"), col("a.block") === col("b.block")
        && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        fastDot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= threshold)
      .select(when(col("a.dist") >= col("b.dist"), col("b.vec_id"))
        .otherwise(col("a.vec_id")).as("vec_id"))
      .distinct()
      .withColumn("lost", lit(true))
    blocked.join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("dist"),
        coalesce(!col("lost"), lit(true)).as("kept"))
  }

  /** The production SemDeDup entry point: coarse quantizer trained on
    * the deterministic [[Similarity.hashSample]] slice with a BOUNDED
    * k, then the [[semDedup]] verdict over the full corpus. This is
    * the spill-decade posture BASELINE.md's 1000× rehearsal forced —
    * full-corpus training with k ∝ corpus is k·N·iters work and
    * OOM'd inside Lloyd's mean reduction, while centroid quality only
    * needs a sketch of the distribution. `sampleMod` ∝ corpus size
    * keeps the training set FIXED-SIZE; cells that come out too wide
    * for the pair join are `maxCell`'s job (deterministic id-slice
    * sub-split — finer blocks, same dominance algebra). Verdict
    * drift vs full-corpus training is bounded in SemDedupSpec; the
    * whole composition replays in the DuckDB oracle (hash slice,
    * 6dp-pinned loop, full-corpus assignment). */
  def semDedupSampled(emb: DataFrame, threshold: Double, maxCell: Int,
                      k: Int, iters: Int, sampleMod: Long): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = Similarity.lloydTrainSampled(emb, k, iters, sampleMod)
    semDedup(emb, cents.toDF("centroid_id", "cent"), threshold, maxCell)
  }

  /** Incremental SemDeDup: dominance VERDICTS for an incoming batch
    * against the settled corpus — the serving composition of
    * [[semDedup]] and the persisted embedding index (the one dedup
    * family whose incremental form stopped at pair detection).
    * `corpusAssigned` is the stored (vec_id, centroid_id, embedding)
    * assignment of the previous run, `centroids` the (centroid_id,
    * cent) table it was trained with. A batch vector is judged by
    * semDedup's EXACT rule — against every cosine-near cell-mate
    * (corpus or batch), the member farther from the cell centroid
    * wins, ties to the lower vec_id — so because dominance is
    * pairwise (never transitive), the batch verdicts are IDENTICAL
    * to a full rebuild's verdicts restricted to the batch rows under
    * the same centroids (IncrementalDedupSpec asserts the
    * equivalence). Corpus rows are not re-judged: a batch arrival
    * that would outrank a settled corpus vector marks the BATCH side
    * only — index maintenance (dropping dominated corpus rows) is
    * the refresh cycle's job, not the probe's.
    *
    * Scale shape: only the batch pays the |B|·k assignment pass; the
    * candidate joins are cell-keyed and batch-driven (the stored
    * assignment is bucketed on centroid_id, so the corpus side reads
    * co-partitioned); corpus-side distances come from a scan-local
    * projection against the broadcast centroid table (no extra
    * shuffle, no stored-dist column needed) — candidate volume
    * ∝ |batch| · cell width, never |corpus|². */
  def incrementalSemDedup(corpusAssigned: DataFrame, centroids: DataFrame,
                          batch: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{fastDot, fastNormSq}
    // stage the batch frame once (GraftBridge.stageLocal — the
    // CONSTRAINT-FREE checkpoint: Dataset.localCheckpoint leaks the
    // batch plan's constraints onto the corpus side through shared
    // source exprIds and empties the corpus join, see the stageLocal
    // scaladoc): its |B|·k assignment pass + embedding join feed both
    // dominated() joins and the final verdict left join — three
    // re-executions of the batch lineage otherwise
    val b = org.apache.spark.sql.GraftBridge.stageLocal(
      Similarity.lloydAssignDist(batch, centroids)
        .join(batch.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .withColumn("nrm", sqrt(fastNormSq(col("embedding")))))
    val c = corpusAssigned
      .join(broadcast(centroids), Seq("centroid_id"))
      .withColumn("dist", Similarity.lloydDist(col("embedding"), col("cent")))
      .drop("cent")
      .withColumn("nrm", sqrt(fastNormSq(col("embedding"))))
    def dominated(other: DataFrame, extraCond: Column): DataFrame =
      b.as("b").join(other.as("o"),
          col("b.centroid_id") === col("o.centroid_id") && extraCond)
        .withColumn("cos", round(
          fastDot(col("b.embedding"), col("o.embedding"))
            / (col("b.nrm") * col("o.nrm")), 6))
        .filter(col("cos") >= threshold)
        // the batch row loses when the OTHER side outranks it: farther
        // from the centroid wins, ties break to the lower vec_id
        .filter(col("o.dist") > col("b.dist")
          || (col("o.dist") === col("b.dist") && col("o.vec_id") < col("b.vec_id")))
        .select(col("b.vec_id").as("vec_id"))
    val losers = dominated(c, lit(true))
      .unionByName(dominated(b, col("b.vec_id") =!= col("o.vec_id")))
      .distinct()
      .withColumn("lost", lit(true))
    b.join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("dist"),
        coalesce(!col("lost"), lit(true)).as("kept"))
  }

  /** N-gram novelty scores — the diversity/memorization metric: what
    * fraction of a document's distinct n-grams appear NOWHERE else in
    * the corpus. Low novelty means the document is assembled from
    * corpus-common phrasing (template/boilerplate mass); a
    * memorization audit reads it in the other direction (an eval doc
    * with low novelty against training data is leaked). ppm integer
    * arithmetic end to end.
    *
    * Shape: the shingle stream rides the rolling xxh64 kernel (8-byte
    * keys, same collision contract as the decontam family — the
    * oracle keys on gram CONTENT, so agreement is the collision
    * check); one gram-keyed document-frequency agg, one keyed join
    * back, one doc-keyed rollup. Documents shorter than n tokens
    * carry no grams and are absent, like the rest of the family. */
  def noveltyScores(df: DataFrame, text: Column, id: Column,
                    n: Int): DataFrame = {
    val sh = hashedShingles(df, text, id, n)
    val freq = sh.groupBy("h").agg(count(lit(1)).as("gdf"))
    sh.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") === 1, 1L).otherwise(0L)).as("unique_grams"))
      .withColumn("novelty_ppm",
        expr("unique_grams * 1000000 div n_grams"))
  }

  // ---- Train/eval decontamination --------------------------------------

  /** Contamination report: (train doc, eval doc, shared distinct
    * n-gram count) for every training document sharing at least one
    * n-gram with an evaluation document — the leakage check a
    * training corpus runs before any benchmark claim (n is the
    * distinctiveness knob; 13 is the common choice for web-scale
    * text, lower for short documents). Shingles hash to longs at the
    * explode so the join shuffles 8-byte keys; the join is blocked on
    * the n-gram and the eval side is tiny, so cost is the eval
    * posting matches, never |train|². */
  def contaminationPairs(train: DataFrame, eval: DataFrame, text: Column,
                         id: Column, n: Int): DataFrame = {
    def hashed(df: DataFrame, as: String) =
      hashedShingles(df, text, id, n).select(col("doc_id").as(as), col("h"))
    hashed(train, "train_id").join(hashed(eval, "eval_id"), Seq("h"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** The decontaminated training set: training docs with NO n-gram
    * overlap against the eval set (anti-join on the report). */
  def decontaminated(train: DataFrame, eval: DataFrame, text: Column,
                     id: Column, n: Int): DataFrame =
    train.join(
      contaminationPairs(train, eval, text, id, n)
        .select(col("train_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  // ---- Incremental (batch-vs-settled-corpus) variants -----------------

  /** Incremental SimHash dedup: the rows of `batch` with no corpus
    * fingerprint (and no EARLIER batch fingerprint) within
    * `simhashMaxHamming` bits. Same policy as `incremental`: the
    * settled corpus always wins regardless of id; within the batch the
    * lower id wins. `corpusFp` is the persisted fingerprint frame
    * (doc_id, simhash) of the previous run — one long per document,
    * the cheapest corpus state of the three dedup families; at 100 TB
    * it is stored banded-bucketed so this probe shuffles only the
    * |batch|·nBands band rows (exact duplicates collapse here too:
    * identical text → identical fingerprint → Hamming 0). */
  def incrementalSimhash(corpusFp: DataFrame, batch: DataFrame, text: Column,
                         id: Column, bits: Int = 32, bandBits: Int = 8): DataFrame =
    incrementalSimhashBands(simhashBands(corpusFp, bits, bandBits), batch,
      text, id, bits, bandBits)

  /** The persisted-index probe form: `corpusBands` is the stored
    * banded fingerprint table — (doc_id, simhash, band, bkey),
    * bucketed on (band, bkey) — so the candidate join reads the
    * corpus side co-partitioned and only the batch bands shuffle
    * (DedupIndexSpec). The in-plan form above derives the same frame
    * from the fingerprint column. */
  def incrementalSimhashBands(bandsC: DataFrame, batch: DataFrame, text: Column,
                              id: Column, bits: Int = 32, bandBits: Int = 8): DataFrame = {
    val bandsB = simhashBands(simhash(batch, text, id, bits), bits, bandBits)
    val candVsCorpus = bandsB.as("b").join(bandsC.as("c"),
        col("b.band") === col("c.band") && col("b.bkey") === col("c.bkey"))
      .select(col("b.doc_id").as("batch_id"),
        col("b.simhash").as("sa"), col("c.simhash").as("sb"))
    val candInBatch = bandsB.as("b").join(bandsB.as("o"),
        col("b.band") === col("o.band") && col("b.bkey") === col("o.bkey")
          && col("b.doc_id") > col("o.doc_id"))
      .select(col("b.doc_id").as("batch_id"),
        col("b.simhash").as("sa"), col("o.simhash").as("sb"))
    val losers = candVsCorpus.unionByName(candInBatch)
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= simhashMaxHamming)
      .select(col("batch_id").as("doc_id")).distinct()
    batch.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Persist / load the SimHash corpus state ([[Bucketing.buildOnce]]):
    * the banded fingerprint rows stored bucketed+sorted on
    * (band, bkey) — the probe's join key, same layout contract as the
    * MinHash bucket table. */
  def ensurePersistedSimhashIndex(spark: org.apache.spark.sql.SparkSession,
                                  root: String, tag: String, nBuckets: Int = 8)
                                 (build: => DataFrame): DataFrame =
    Bucketing.buildOnce(spark, root, Seq(Bucketing.Table(s"ci_sim_$tag",
      "simhash_bands", Some(Seq("band", "bkey") -> nBuckets))))(Seq(build)).head

  /** Persist / load the embedding corpus state ([[Bucketing.buildOnce]]):
    * the cell assignment bucketed+sorted on centroid_id (the per-cell
    * probe key) plus the k-row centroid table the assignment was
    * trained with, as one plain file — centroids are PART of the
    * index; probing with different centroids would change the
    * blocking. */
  def ensurePersistedEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
                                    root: String, tag: String, nBuckets: Int = 8)
                                   (build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val Seq(assigned, centroids) = Bucketing.buildOnce(spark, root, Seq(
      Bucketing.Table(s"ci_emb_$tag", "embed_assign", Some(Seq("centroid_id") -> nBuckets)),
      Bucketing.Table(s"ci_cent_$tag", "embed_centroids"))) {
      val (a, c) = build
      Seq(a, c)
    }
    (assigned, centroids)
  }

  /** Incremental embedding dedup: the rows of `batch` with no cosine
    * near-dup (≥ threshold) in the settled corpus or earlier in the
    * batch, blocked on the trained IVF cell — the unlabeled-corpus
    * posture of embeddingNearDupsBy made asymmetric. `corpusAssigned`
    * is the persisted (vec_id, centroid_id, embedding) assignment of
    * the previous run; `centroids` the (centroid_id, cent) table it
    * was trained with (Similarity.lloydTrain). Only the batch pays an
    * assignment pass, and the pair join is bounded per cell — cost
    * ∝ |batch| · max cell width, never |corpus|². Cross-cell recall
    * stays the quantizer's responsibility, exactly as in the full
    * rebuild — so under the SAME centroids, incremental ≡ rebuild on
    * corpus-id-precedes-batch inputs (IncrementalDedupSpec; a rebuild
    * that also retrains on the batch may block differently, which is
    * the standard index-refresh trade, not a correctness gap). */
  def incrementalEmbedding(corpusAssigned: DataFrame, centroids: DataFrame,
                           batch: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{fastDot, fastNormSq}
    val b = Similarity.lloydAssign(batch, centroids)
      .withColumn("nrm", sqrt(fastNormSq(col("embedding"))))
    val c = corpusAssigned.withColumn("nrm", sqrt(fastNormSq(col("embedding"))))
    def losers(other: DataFrame, extraCond: Column): DataFrame =
      b.as("b").join(other.as("o"),
          col("b.centroid_id") === col("o.centroid_id") && extraCond)
        .withColumn("cos", round(
          fastDot(col("b.embedding"), col("o.embedding"))
            / (col("b.nrm") * col("o.nrm")), 6))
        .filter(col("cos") >= threshold)
        .select(col("b.vec_id").as("vec_id"))
    val all = losers(c, lit(true))
      .unionByName(losers(b, col("b.vec_id") > col("o.vec_id")))
      .distinct()
    batch.join(all, Seq("vec_id"), "left_anti")
  }

  /** Exact-substring repeated-span detection (the ExactSubstr policy
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022): every word k-gram that occurs more than once
    * in the corpus — across documents OR within one — marks a
    * duplicated window; overlapping duplicated windows inside a
    * document then collapse (gaps-and-islands) into MAXIMAL repeated
    * spans `(doc_id, span_start, span_end, span_len, n_windows)`,
    * 1-based word positions, both ends inclusive. This is the
    * span-LEVEL complement to the document-level Jaccard/MinHash
    * verdicts: the emitted spans are the unit a training pipeline
    * TRIMS from otherwise-kept documents. Windows that merely touch
    * (next start == prev end + 1) stay separate spans — each is
    * independently repeated elsewhere, but their concatenation never
    * was, and a trimmer may keep either one.
    *
    * Shape at 100 TB — three keyed shuffles, nothing all-pairs:
    * (1) groupBy on the 8-byte rolling gram fingerprint
    * ([[graft.plans.RollingGramHash]]: O(len) per document, vs the
    * O(len·k) per-window string rebuild the md5 form cost) to find
    * duplicated grams (map-side combine collapses a document's
    * self-repeats before the exchange); (2) LEFT SEMI join of (doc, pos, gram)
    * against that set — a semi join emits each probe row at most
    * once, so a boilerplate gram shared by a million documents costs
    * its posting length, never its square (contrast the pair
    * expansion in `jaccardPairs`, which is why that one needs
    * `maxPostingLen`); (3) one per-document window for the island
    * merge, whose state is a single lag. Positions within a document
    * are distinct, so the running "furthest end seen" is just
    * `lag(pos) + k - 1` — no running-max frame needed. Production
    * uses k≈50 tokens (the paper's setting); tests use small k so a
    * small fixture exercises the merge logic. */
  def repeatedSpans(df: DataFrame, text: Column, id: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = dupWindowHits(df, text, id, k)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("new_span",
        when(lag(col("pos"), 1).over(w).isNull
          || col("pos") >= lag(col("pos"), 1).over(w) + k, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_span")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        (max(col("pos")) + (k - 1) - min(col("pos")) + 1).as("span_len"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "span_len", "n_windows")
  }

  /** `(doc_id, pos, gram)` for every k-gram window whose fingerprint
    * occurs ≥2 times in the corpus — the shared detection core of
    * `repeatedSpans` and `trimRepeatedSpans`. */
  private def dupWindowHits(df: DataFrame, text: Column, id: Column,
                            k: Int): DataFrame = {
    val grams = df
      .select(id.as("doc_id"), split(text, " ").as("__toks"))
      .select(col("doc_id"),
        posexplode(graft.plans.GraftFunctions.grams(col("__toks"), k))
          .as(Seq("off", "gram")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"), col("gram"))
    val dup = grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("gram")
    grams.join(dup, Seq("gram"), "left_semi")
  }

  /** The trim half of the ExactSubstr pipeline: the corpus with every
    * word that falls inside a duplicated k-gram window REMOVED —
    * `(doc_id, clean_text, n_dropped)`, one row per input document
    * (a fully-duplicated document survives as an empty string, so
    * downstream accounting never loses rows). All occurrences of a
    * repeated span are dropped, the paper's aggressive variant; a
    * keep-one-copy policy is `repeatedSpans` minus a keeper choice,
    * left to the caller because keeper choice is corpus policy.
    *
    * Scale shape: the detection core is `dupWindowHits` (see
    * `repeatedSpans`); cover positions explode each dup window into k
    * per-word rows and dedup on (doc, pos) — volume bounded by k·hits,
    * partial-aggregated before its exchange; the word-level LEFT ANTI
    * join is keyed on (doc_id, pos); reassembly is one per-document
    * aggregate whose collect_list is bounded by document length (the
    * same bound `ds_pack_sequences` already rides). Every join and
    * aggregate is equi-keyed — no range join is needed because cover
    * positions are materialized, not interval-probed. */
  def trimRepeatedSpans(df: DataFrame, text: Column, id: Column, k: Int): DataFrame = {
    val words = df
      .select(id.as("doc_id"), posexplode(split(text, " ")).as(Seq("off", "word")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"), col("word"))
    val covered = dupWindowHits(df, text, id, k)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    val kept = words.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x("word")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(id.as("doc_id"),
        size(split(text, " ")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** CROSS-document paragraph dedup with reassembly over FIXED-WIDTH
    * token windows — the fixed-budget VARIANT of the boundary-aware
    * [[paragraphDedupLines]] (which is the form matching MassiveText
    * §A.1.1 / RefinedWeb as published: real delimiter boundaries).
    * This form's segmentation is a token grid, so its recall is
    * alignment-dependent — two documents sharing a verbatim paragraph
    * at DIFFERENT token offsets chunk differently and never collide
    * (ParagraphDedupSpec plants exactly that miss). Its virtue is the
    * fixed per-row work budget on delimiter-free corpora (OCR dumps,
    * minified text) where no boundary exists to split on: segment
    * every document into fixed-width `paraTokens`-word paragraphs,
    * keep exactly one global copy of each distinct paragraph (the
    * earliest by (doc_id, paragraph index) — deterministic, not
    * sampled), and reassemble each document from its surviving
    * paragraphs in original order. One row per input document:
    * `(doc_id, n_paras, n_kept, clean_text)` — a document whose every
    * paragraph lost survives as an empty string so corpus accounting
    * never loses rows (boilerplate-heavy pages collapse to "" here,
    * which is precisely the signal RefinedWeb uses to drop them).
    *
    * Scale shape: segmentation is `Chunking.chunk` (zero-shuffle
    * generator); the keep-first choice is ONE min-struct groupBy on
    * md5(paragraph) — map-side combined, never a row_number window
    * over the hash partition (same answer, but the agg form partial-
    * aggregates before the exchange while the window form ships every
    * occurrence); the winner set broadcast-or-shuffle joins back on
    * the (md5, doc, idx) triple; reassembly is one per-document
    * aggregate bounded by document length. Nothing is quadratic in
    * corpus size and every exchange is keyed. */
  def paragraphDedup(df: DataFrame, text: Column, id: Column,
                     paraTokens: Int): DataFrame = {
    val paras = Chunking.chunk(df, text, id, paraTokens, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text").cast("binary")).as("p_md5"))
    val winners = paras
      .groupBy("p_md5")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("w"))
      .select(col("p_md5"), col("w.doc_id").as("doc_id"),
        col("w.chunk_id").as("chunk_id"))
    val kept = paras.join(winners, Seq("p_md5", "doc_id", "chunk_id"))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
            x => x("chunk_text")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(id.as("doc_id"), text.as("__t"))
      .select(col("doc_id"),
        expr(s"(size(split(__t, ' ')) - 1) div $paraTokens + 1")
          .cast("long").as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Boundary-aware cross-document paragraph dedup — the MassiveText
    * §A.1.1 / RefinedWeb line-dedup semantics AS PUBLISHED (r20,
    * clearing the r19 weak item): paragraphs are the text's OWN
    * blank-line-delimited segments (`\n{2,}`), so a verbatim
    * paragraph shared by two documents collides regardless of its
    * token offset in either — the alignment dependence of the
    * fixed-grid [[paragraphDedup]] does not exist here. Keep exactly
    * one global copy per distinct paragraph (earliest by (doc_id,
    * paragraph index) — deterministic), reassemble survivors in
    * original order joined by a blank line, and account every input
    * row: `(doc_id, n_paras, n_kept, clean_text)` with n_paras
    * counting the document's non-empty paragraphs and a fully-
    * duplicated document surviving as `""`.
    *
    * Scale shape, same as the grid form: segmentation is ONE
    * zero-shuffle generator (`posexplode(split(...))` — paragraph
    * indices are assigned BEFORE the empty-segment filter, so a
    * dropped empty never renumbers its neighbours); the keep-first
    * choice is one min-struct groupBy on md5(paragraph) (map-side
    * combined); the winner join is keyed on the (md5, doc, idx)
    * triple; reassembly is one per-document aggregate. Nothing is
    * quadratic in corpus size. */
  def paragraphDedupLines(df: DataFrame, text: Column,
                          id: Column): DataFrame = {
    val src = df.select(id.as("doc_id"), text.as("__t"))
    val paras = src
      .select(col("doc_id"),
        posexplode(split(col("__t"), "\n{2,}")).as(Seq("chunk_id", "chunk_text")))
      .filter(col("chunk_text") =!= "")
      .withColumn("p_md5", md5(col("chunk_text").cast("binary")))
    val winners = paras
      .groupBy("p_md5")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("w"))
      .select(col("p_md5"), col("w.doc_id").as("doc_id"),
        col("w.chunk_id").as("chunk_id"))
    val kept = paras.join(winners, Seq("p_md5", "doc_id", "chunk_id"))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
            x => x("chunk_text")), "\n\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    src
      .select(col("doc_id"),
        size(filter(split(col("__t"), "\n{2,}"), p => p =!= ""))
          .cast("long").as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Deterministic paragraph-structured furniture over the flat
    * synthetic corpus (the documents table carries no newlines):
    * plants a GLOBAL boilerplate header paragraph, the document's own
    * first `doc_id % 7 + 1` tokens as a second paragraph, a common
    * licence paragraph, and the rest of the document — so the two
    * planted duplicates sit at doc_id-VARYING token offsets. Any
    * fixed token grid therefore slices the licence paragraph
    * differently per document (misses the duplicate); the
    * boundary-aware form recovers it. Closed-form column arithmetic —
    * the oracle replays it verbatim in SQL. */
  def syntheticParagraphedDoc(text: Column, docId: Column): Column = {
    val toks = split(text, " ")
    val k = (docId % 7 + 1).cast("int")
    concat_ws("\n\n",
      lit("newsletter footer unsubscribe daily digest"),
      array_join(slice(toks, lit(1), k), " "),
      lit("licensed under creative commons attribution share alike"),
      array_join(slice(toks, k + 1, size(toks)), " "))
  }
}
