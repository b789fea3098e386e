package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Bucketing, Chunking, Curation, Dedup, LanguageModel, Layout, Multimodal, Sharding, Similarity, TextAnalysis}

/** Training-data pipeline operators as driver-checkable queries over
  * the `documents` / `embeddings` tables, with DuckDB oracle SQL
  * generated from the same constants (hash seeds, profiles, band
  * layout) so both engines compute the identical function.
  */
object DataOps {

  private[queries] def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private[queries] def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  val jaccardThreshold = 0.3
  val cosineThreshold = 0.3
  val annK = 5
  val annQueries = 10 // query set = vec_id < 10
  /** Hamming-≤1 probe masks, shared verbatim with the Spark plan so
    * the oracle's probe set is identical by construction. */
  private[queries] val multiProbeMaskList: String =
    Similarity.probeMasks(Similarity.lshPlanes, 1).mkString(", ")
  /** Hamming-≤2 masks (137 probes) — the recall knob's next stop. */
  private[queries] val multiProbeMaskListR2: String =
    Similarity.probeMasks(Similarity.lshPlanes, 2).mkString(", ")

  // ---- Spark sides ---------------------------------------------------

  def ddExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(docs(s, d), col("text"), col("doc_id"))

  def ddJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(docs(s, d), col("text"), col("doc_id"), 3, jaccardThreshold)

  /** Containment cut for partial-dup detection (quotes/subsets). */
  val containmentThreshold = 0.8

  def ddContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docs(s, d), col("text"), col("doc_id"), 3,
      containmentThreshold)

  /** Span window width for exact-substring dedup. Production uses the
    * paper's ~50 tokens; 4 here so the small-vocabulary fixture
    * actually produces repeats at every sf (a 50-token window over a
    * ~30-word vocabulary never collides on synthetic text). */
  val spanK = 4

  def ddRepeatedSpans(s: SparkSession, d: String): DataFrame =
    Dedup.repeatedSpans(docs(s, d), col("text"), col("doc_id"), spanK)

  def ddTrimSpans(s: SparkSession, d: String): DataFrame =
    Dedup.trimRepeatedSpans(docs(s, d), col("text"), col("doc_id"), spanK)

  /** The trusted reference slice for LM quality scoring: two of the
    * twenty synthetic sources stand in for the clean corpus (CCNet
    * uses Wikipedia). */
  val lmRefSources: Seq[String] = Seq("src0", "src1")
  private[queries] def lmRefSourcesSql: String = lmRefSources.map(s => s"'$s'").mkString(", ")

  private[queries] def lmRef(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("source").isin(lmRefSources: _*))

  def txLmBigrams(s: SparkSession, d: String): DataFrame =
    LanguageModel.bigramLm(lmRef(s, d), col("text"))

  def txLmScore(s: SparkSession, d: String): DataFrame =
    LanguageModel.scoreDocs(docs(s, d), col("text"), col("doc_id"),
      LanguageModel.bigramLm(lmRef(s, d), col("text")))

  /** DSIR-style selection sweep: target model from the trusted slice,
    * reference model from the full corpus, one bigram pass probes
    * both. */
  def txLmContrast(s: SparkSession, d: String): DataFrame =
    LanguageModel.contrastScore(docs(s, d), col("text"), col("doc_id"),
      LanguageModel.bigramLm(lmRef(s, d), col("text")),
      LanguageModel.bigramLm(docs(s, d), col("text")))

  def txRepNgrams(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionSignals(docs(s, d), col("text"), col("doc_id"))

  /** Chunker window: 64 tokens with 16-token overlap (stride 48). */
  val chunkTokens = 64
  val chunkOverlap = 16

  def dsChunk(s: SparkSession, d: String): DataFrame =
    Chunking.chunk(docs(s, d), col("text"), col("doc_id"), chunkTokens, chunkOverlap)

  /** RAG retrieval: chunk the corpus with the standard window, embed
    * via signed feature hashing, index with the sign-LSH layout, and
    * retrieve top-k chunks for the first ragQueries documents used as
    * whole-text queries — the end-to-end corpus→index→probe
    * composition, every stage oracle-replayable. */
  val ragQueries = 3

  def dsRag(s: SparkSession, d: String): DataFrame = {
    val index = graft.operators.Rag.chunkIndex(docs(s, d), col("text"),
      col("doc_id"), chunkTokens, chunkOverlap)
    graft.operators.Rag.retrieve(index,
      docs(s, d).filter(col("doc_id") < ragQueries), col("text"), col("doc_id"),
      annK)
  }

  /** BM25 lexical retrieval over the corpus, queried with the same
    * first-ragQueries documents ds_rag uses — the lexical half of a
    * production retrieval stack (each query doc retrieves itself at
    * rank 1, the standard sanity anchor). Micro-unit contributions
    * make the score order-invariant; ranking is the bounded top-k
    * aggregate under the scoped fallback-raise session. */
  val bm25K1 = 1.2
  val bm25B = 0.75

  def dsBm25(s0: SparkSession, d: String): DataFrame = {
    val s = graft.GraftSession.boundedAggSession(s0)
    val dd = docs(s, d)
    graft.operators.Rag.bm25TopK(dd, col("text"), col("doc_id"),
      dd.filter(col("doc_id") < ragQueries), col("text"), col("doc_id"),
      annK, bm25K1, bm25B)
  }

  /** DSIR data selection (Xie 2023): importance weight of every
    * document under a hashed-n-gram bag model fit with target =
    * the English docs and raw = the whole corpus — the
    * crawl-to-pretraining budget selector. Integer micro-nat
    * log-ratios make every weight an exact integer (order-invariant,
    * bit-replayable); fit is one bounded-state `graft_dsir_counts`
    * aggregate pass, scoring one shuffle-free `graft_dsir_score`
    * projection pass, TakeOrdered selection. */
  val dsirK = 50

  def dsDsirWeights(s: SparkSession, d: String): DataFrame =
    graft.operators.Dsir.weights(docs(s, d), col("text"), col("doc_id"),
      col("lang") === "en")

  def dsDsirSelect(s: SparkSession, d: String): DataFrame =
    graft.operators.Dsir.selectTopK(docs(s, d), col("text"), col("doc_id"),
      col("lang") === "en", dsirK)

  /** Stratified DSIR selection: the per-source quota over importance
    * weights — pure top-k-global selection lets one domain swallow
    * the whole budget, so production selects the best k PER SOURCE.
    * Rides the bounded O(k)-state aggregator: a hot source ships k
    * rows through the exchange, never a per-source sort. */
  def dsDsirStratified(s0: SparkSession, d: String): DataFrame = {
    val s = graft.GraftSession.boundedAggSession(s0)
    val topk = udaf(new graft.functions.Aggregators.TopKByValue(samplePerKey))
    graft.operators.Dsir.weights(docs(s, d), col("text"), col("doc_id"),
        col("lang") === "en")
      .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(topk(col("weight_micro"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("col._2").as("doc_id"), col("col._1").as("weight_micro"))
  }

  /** The serving twin: fit the bucket model once, persist the
    * ≤-4096-row table, score the pool against the STORED model —
    * identical weights to the live fit (same oracle SQL), zero
    * fitting jobs on later calls. */
  def dsDsirPersisted(s: SparkSession, d: String): DataFrame = {
    val (tag, root) = artifact(d, suffix = "_dsir")
    graft.operators.Dsir.ensureModel(s, root, tag) {
      graft.operators.Dsir.ratiosFromCounts(graft.operators.Dsir.bucketCounts(
        docs(s, d), col("text"), col("lang") === "en"))
    }
    graft.operators.Dsir.weightsPersisted(s, tag, docs(s, d),
      col("text"), col("doc_id"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009,
    * the standard k₀=60 form) of the BM25 lexical list and the
    * embedding cosine list for the same query documents — the fusion
    * step every production retrieval stack runs over its lexical and
    * vector halves. Both lists are already rank-deterministic, and
    * each fused score is at most two fixed-order 1/(k₀+rank) terms,
    * so the composite replays exactly. The fusion itself touches only
    * the union of the two top-k lists (≤ 2k rows per query) — its
    * cost is nil next to the retrievals; the vector half here is the
    * exact brute-force list (|Q| tiny), with the ANN family as the
    * documented scale path. */
  val rrfK0 = 60

  def dsHybridRrf(s0: SparkSession, d: String): DataFrame = {
    val s = graft.GraftSession.boundedAggSession(s0)
    val dd = docs(s, d)
    // Both retrieval lists staged ONCE (r21): each feeds the candidate
    // union AND its outer join — unstaged, the whole BM25 chain and
    // the brute-force scan each ran twice (14 documents scans in the
    // ds_hybrid_rrf plan). ≤ k rows per query — trivially bounded.
    val lex = org.apache.spark.sql.GraftBridge.stageLocal(
      graft.operators.Rag.bm25TopK(dd, col("text"), col("doc_id"),
        dd.filter(col("doc_id") < ragQueries), col("text"), col("doc_id"),
        annK, bm25K1, bm25B)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank")))
    val de = graft.operators.Rag.hashEmbed(dd, col("text"), col("doc_id"))
    val vec = org.apache.spark.sql.GraftBridge.stageLocal(Similarity
      .bruteForceTopK(de, de.filter(col("vec_id") < ragQueries), annK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rk").cast("long").as("vec_rank")))
    val cand = lex.select("query_id", "doc_id")
      .union(vec.select("query_id", "doc_id")).distinct()
    val fused = cand
      .join(lex, Seq("query_id", "doc_id"), "left")
      .join(vec, Seq("query_id", "doc_id"), "left")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK0) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK0) + col("vec_rank")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= annK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("rrf"), 6).as("rrf_score"))
  }

  /** Curriculum staging over token counts (train short → long): the
    * exact ntile quintiles through the two-level prefix-sum rank —
    * never an unpartitioned ntile window. */
  val curriculumStageCount = 5

  def dsCurriculum(s: SparkSession, d: String): DataFrame =
    graft.operators.Sharding.curriculumStages(docs(s, d), col("doc_id"),
      size(split(col("text"), " ")), curriculumStageCount)

  /** Recall@annK of an approximate (query_id, neighbor_id) answer
    * against the exact one over `nQueries` queries: the exact pairs
    * the approximate side also found, counted per query, as
    * round(Σhits / (annK·nQueries), 4) plus `queries_with_hits`. The
    * one closure behind every *_recall row. */
  private def recallAtK(exact: DataFrame, approx: DataFrame, nQueries: Int): DataFrame =
    exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
      .agg(round(sum(col("hits")) / (lit(annK) * nQueries), 4).as("recall_at_k"),
        count(lit(1)).as("queries_with_hits"))

  /** Recall of the bucketed retrieval against the exact full-scan
    * rank over the same chunk embeddings — closes the quality loop
    * for ds_rag (same contract as sim_ann_recall / sim_pq_recall). */
  def dsRagRecall(s: SparkSession, d: String): DataFrame = {
    val ce = graft.operators.Rag.chunkEmbeddings(docs(s, d), col("text"),
      col("doc_id"), chunkTokens, chunkOverlap)
    val qe = graft.operators.Rag.hashEmbed(
      docs(s, d).filter(col("doc_id") < ragQueries)
        .select((-(col("doc_id") + 1)).as("qid"), col("text")),
      col("text"), col("qid"))
    val exact = Similarity.bruteForceTopK(ce, qe, annK)
      .select(col("query_id"), col("neighbor_id"))
    val ann = dsRag(s, d).select(
      (-col("query_doc") - 1).as("query_id"),
      (col("src_doc") * graft.operators.Rag.chunkKeyBase + col("chunk_id"))
        .as("neighbor_id"))
    recallAtK(exact, ann, ragQueries)
  }

  /** Per-source document cap (the C4/RefinedWeb domain-cap policy:
    * no single domain may dominate the corpus): keep at most
    * capPerSource docs per source, preferring longer documents
    * (n_chars DESC, doc_id ASC). The bounded O(k)-state aggregate
    * replaces the per-source rank window — a hot domain's partition
    * ships k rows through the exchange and never sorts its history,
    * the same scale argument q37_topk_agg measures head-to-head at
    * 150 M rows in BASELINE.md. */
  val capPerSource = 20

  def dsSourceCap(s0: SparkSession, d: String): DataFrame = {
    val s = graft.GraftSession.boundedAggSession(s0)
    val topk = udaf(new graft.functions.Aggregators.TopKByValue(capPerSource))
    docs(s, d).select(col("source"), col("n_chars"), col("doc_id"))
      .groupBy("source")
      .agg(topk(col("n_chars"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("col._1").as("n_chars"), col("col._2").as("doc_id"))
  }

  /** KMV bottom-k sketch (Beyer et al. 2007, "On synopses for
    * distinct-value estimation"): the k MINIMUM values of a uniform
    * hash per group are simultaneously (a) a k-element uniform sample
    * of the group without any RNG, and (b) the KMV distinct-count
    * estimator D̂ = (k−1)·M/h_k (M = 2³² hash domain, h_k = k-th
    * minimum). Both ride the bounded O(k)-state aggregator — a group
    * ships k rows through the exchange however hot it is, and there
    * is never a per-group sort. Pure integer arithmetic end to end
    * (the estimate uses integral division), so the oracle replays
    * bit-exactly. */
  val samplePerKey = 8
  val kmvK = 32

  def dsGroupSample(s0: SparkSession, d: String): DataFrame = {
    val s = graft.GraftSession.boundedAggSession(s0)
    val topk = udaf(new graft.functions.Aggregators.TopKByValue(samplePerKey))
    docs(s, d)
      .select(col("source"),
        (-graft.functions.VectorFunctions.tokenHash(col("doc_id").cast("string")))
          .as("nh"),
        col("doc_id"))
      .groupBy("source").agg(topk(col("nh"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("col._2").as("doc_id"))
  }

  def dsKmvDistinct(s0: SparkSession, d: String): DataFrame = {
    val s = graft.GraftSession.boundedAggSession(s0)
    val topk = udaf(new graft.functions.Aggregators.TopKByValue(kmvK))
    docs(s, d)
      .select(col("lang"),
        graft.functions.VectorFunctions.tokenHash(col("text")).as("hv"))
      .distinct()
      .select(col("lang"), (-col("hv")).as("nh"), col("hv"))
      .groupBy("lang").agg(topk(col("nh"), col("hv")).as("bot"))
      .select(col("lang"), size(col("bot")).cast("long").as("n_kept"),
        when(size(col("bot")) < kmvK, size(col("bot")).cast("long"))
          .otherwise(expr(
            s"CAST(${kmvK - 1} * 4294967296 AS BIGINT) div element_at(bot, $kmvK)._2"))
          .as("kmv_distinct"))
  }

  /** EXACT per-group quantiles without a per-group sort: token
    * lengths have bounded cardinality, so quantiles reduce to a
    * counting sort — one (group, value) count aggregate, a cumulative
    * window over the ≤|distinct values| summary rows (NOT the
    * corpus), and rank selection at ceil(q·n). The per-group window
    * sorts thousands of summary rows where a naive percentile_cont
    * sorts the corpus; this is the exact twin of the approximate
    * q34 sketch, viable whenever the value domain is bounded (lengths,
    * scores, bucketed floats). Rank convention: lower nearest-rank
    * (the k-th smallest, k = ceil(q·n)) — integer-exact, replayable. */
  val quantileQs: Seq[(String, Int)] = Seq("p50" -> 50, "p90" -> 90, "p99" -> 99)

  def dsLengthQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(s, d)
      .select(col("lang"), size(split(col("text"), " ")).as("len"))
      .groupBy("lang", "len").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("lang").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
    val qs = quantileQs.map { case (name, q) =>
      min(when(col("cum") * 100 >= col("n") * q, col("len")))
        .cast("long").as(name)
    }
    cum.groupBy("lang").agg(qs.head, qs.tail: _*)
  }

  /** Paragraph width for the cross-doc paragraph dedup: 16 words —
    * short enough that the synthetic corpus' repeated phrases
    * actually collide across documents. */
  val paraTokens = 16

  def ddParagraph(s: SparkSession, d: String): DataFrame =
    Dedup.paragraphDedup(docs(s, d), col("text"), col("doc_id"), paraTokens)

  /** Boundary-aware paragraph dedup (r20) over the deterministic
    * paragraph-structured furniture ([[graft.operators.Dedup
    * .syntheticParagraphedDoc]] — the flat corpus carries no
    * newlines): the planted licence paragraph sits at a doc_id-
    * varying token offset, so THIS form recovers the cross-document
    * duplicate that the fixed-grid form provably misses
    * (ParagraphDedupSpec). */
  def ddParagraphLines(s: SparkSession, d: String): DataFrame = {
    val structured = docs(s, d).select(col("doc_id"),
      Dedup.syntheticParagraphedDoc(col("text"), col("doc_id")).as("text"))
    Dedup.paragraphDedupLines(structured, col("text"), col("doc_id"))
  }

  def dqDatacard(s: SparkSession, d: String): DataFrame =
    graft.operators.Profile.datacard(docs(s, d), col("text"), col("doc_id"),
      lmRef(s, d))

  /** Curation-gate thresholds: top-2-gram cap is Gopher's published
    * 0.20; the dup-5-gram cap and the NLL cap (≈ p97 of the corpus
    * under the trusted-slice LM) are calibrated to this corpus. */
  val curateMaxTop2 = 0.2
  val curateMaxDup5 = 0.6
  val curateMaxNll = 3.65

  def dsCurate(s: SparkSession, d: String): DataFrame =
    Curation.audit(docs(s, d), col("text"), col("doc_id"), lmRef(s, d),
      3, jaccardThreshold, curateMaxTop2, curateMaxDup5, curateMaxNll)

  /** The end-to-end corpus→shards pipeline: curation gates → dedup →
    * token-budget shard packing over the survivors, summarized per
    * shard — the whole engine composed into one plan (every stage is
    * the already-verified operator; the composition adds one keyed
    * semi-join and the prefix sum). */
  def dsPipeline(s: SparkSession, d: String): DataFrame = {
    val kept = dsCurate(s, d).filter(col("verdict") === "kept")
      .select("doc_id")
    val survivors = docs(s, d).join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    Sharding.packShards(survivors, "doc_id",
        size(split(col("text"), " ")), shardBudget, shardBlock)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("shard_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  def ddMinhashSig(s: SparkSession, d: String): DataFrame =
    Dedup.minhashSignatures(docs(s, d), col("text"), col("doc_id"), 3)

  def ddLshPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidatePairs(docs(s, d), col("text"), col("doc_id"), 3)

  def ddMinhashEst(s: SparkSession, d: String): DataFrame =
    Dedup.minhashEstimates(docs(s, d), col("text"), col("doc_id"), 3)

  def ddSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(docs(s, d), col("text"), col("doc_id"))

  def ddSimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(docs(s, d), col("text"), col("doc_id"))

  def ddEmbedNearDups(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDups(emb(s, d), cosineThreshold)

  def ddCorpus(s: SparkSession, d: String): DataFrame =
    Dedup.dedupedCorpus(docs(s, d), col("text"), col("doc_id"), 3, jaccardThreshold)
      .select("doc_id", "lang", "source", "n_chars")

  def simTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < annQueries), annK)
  }

  /** Vector-index drift monitor: per-cell occupancy + mean assignment
    * distance, corpus vs incoming batch, under the SAME stored
    * quantizer (batch = vec_id%10==7, the incremental-embed split;
    * centroids trained corpus-side — the serving posture). */
  def simIndexDrift(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = emb(s, d)
    val isBatch = pmod(col("vec_id"), lit(10L)) === 7
    val corpus = e.filter(!isBatch)
    val cents = Similarity.lloydTrain(corpus, lloydK, lloydIters)
      .toDF("centroid_id", "cent")
    Similarity.indexDrift(cents, corpus, e.filter(isBatch))
  }

  /** Exact hard-negative mining: k nearest cross-class neighbors per
    * query vector (the contrastive-training near-misses). */
  def simHardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.hardNegatives(e, e.filter(col("vec_id") < annQueries), annK)
  }

  /** The scale form: cross-class mining through the sign-LSH bucket
    * join — |Q| probes, never |Q|·|C|. */
  def simHardNegativesAnn(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.hardNegativesAnn(e, e.filter(col("vec_id") < annQueries), annK)
  }

  def simLshAnn(s: SparkSession, d: String): DataFrame =
    Similarity.lshAnn(emb(s, d), annK)

  def simLshMultiProbe(s: SparkSession, d: String): DataFrame =
    Similarity.lshAnnMultiProbe(emb(s, d), annK)

  /** Cross-corpus alignment: mutual best matches between the even-id
    * and odd-id halves of the embedding corpus — the bitext-mining /
    * dataset-linking verdict (both sides corpus-sized, LSH-bucket
    * blocked, one candidate join ranked in both directions). */
  /** Hot-bucket cap for the alignment family — the semDedup maxCell
    * discipline applied to the sign-LSH bucket join (one viral
    * document's bucket otherwise goes Σ|A_b|·|B_b| quadratic). Small
    * here so sf0.01 genuinely sub-splits; the oracle replays the
    * per-bucket counts, ceil, and id-residue slice exactly. */
  val alignMaxBucket = 4

  def simMutualMatch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.mutualMatches(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1),
      maxBucket = alignMaxBucket)
  }

  /** Margin-scored alignment over the same even/odd halves: the
    * ratio-margin verdict (k-NN-mean denominator) that absolute
    * cosine thresholds can't give. */
  val marginK = 4
  val marginThresholdMicro = 1050000L

  def simMarginMatch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.marginMatches(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1),
      marginK, minMarginMicro = marginThresholdMicro,
      maxBucket = alignMaxBucket)
  }

  /** Multi-probe bound to the query SET — a 10-lookup probe costs
    * 10·17 bucket probes, not |corpus|·17 (the same asymmetry that
    * took sim_ann_recall from 9.9s to 0.9s in r3). */
  def simLshMultiProbeFor(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.lshAnnMultiProbeFor(e, e.filter(col("vec_id") < annQueries), annK)
  }

  /** The probe-radius recall knob at its next stop: Hamming-≤2
    * probing (137 buckets per query instead of 17) for the same
    * query-bound asymmetry — still costs |Q|·probes, never |corpus|. */
  def simLshMultiProbeR2(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.lshAnnMultiProbeFor(e, e.filter(col("vec_id") < annQueries), annK,
      probeRadius = 2)
  }

  /** IVF with k-means-TRAINED centroids (vs sim_ivf's fixed seed
    * vectors). Training is the deterministic Lloyd loop
    * (Similarity.lloydTrain: closed-form init + 6dp-pinned
    * iterations), so the FULL train-then-assign pipeline replays in
    * the DuckDB oracle — MLlib k-means|| (trainCentroids) stays as
    * the sampled-init alternative, quality-asserted in
    * SimilaritySpec. */
  def simIvfKmeans(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = emb(s, d)
    val cents = Similarity.lloydTrain(e, lloydK, lloydIters)
    Similarity.lloydAssign(e, cents.toDF("centroid_id", "cent"))
      .groupBy("centroid_id").agg(count(lit(1)).as("n_vectors"))
  }

  val lloydK = 4
  val lloydIters = 4

  /** Product quantization layout: 4 subspaces × 16 dims, 4 codes per
    * codebook, 2 Lloyd iterations (the oracle unrolls m×iters
    * assignment/recenter blocks — kept small enough to replay). */
  val pqM = 4
  val pqK = 4
  val pqIters = 2

  def simPqCodes(s: SparkSession, d: String): DataFrame =
    Similarity.pqEncode(emb(s, d), pqM, pqK, pqIters)

  def simPqAdc(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.pqAdcTopK(e, e.filter(col("vec_id") < annQueries),
      pqM, pqK, pqIters, annK)
  }

  /** Recall@k of PQ-ADC against exact brute force — the quality
    * closure for the compressed serving leg, same contract as
    * sim_rp_ann's recall row. */
  def simPqRecall(s: SparkSession, d: String): DataFrame = {
    val exact = simTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val adc = simPqAdc(s, d).select(col("query_id"), col("neighbor_id"))
    recallAtK(exact, adc, annQueries)
  }

  /** IVF-PQ (IVFADC) layout: the coarse quantizer is the SAME
    * 4-cell/4-iteration Lloyd loop the IVF family shares (memoized —
    * one training per JVM), the residual codebooks reuse the flat-PQ
    * geometry (4 subspaces × 16 dims, 4 codes, 2 iterations) under
    * the squared-L2 pinned loop. nprobe=2 of 4 cells. */
  val ivfpqNprobe = 2

  def simIvfPqCodes(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqEncode(emb(s, d), lloydK, lloydIters, pqM, pqK, pqIters)

  def simIvfPqAdc(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.ivfPqAdcTopK(e, e.filter(col("vec_id") < annQueries),
      lloydK, lloydIters, pqM, pqK, pqIters, ivfpqNprobe, annK)
  }

  /** IVFADC against the PERSISTED model: centroid/codebook tables plus
    * the code frame bucketed on the probe's (cell, subspace, code)
    * equi-join key — a serving session reads the model, never trains
    * or re-encodes (IvfPqModelSpec asserts the bucketed scan and
    * child-session serving). Same answer as the live path. */
  def simIvfPqPersisted(s: SparkSession, d: String): DataFrame = {
    val (tag, root) = artifact(d)
    val (codes, cents, books) = Similarity.ensureIvfPqModel(s,
      s"$root/ivfpq", tag, emb(s, d),
      lloydK, lloydIters, pqM, pqK, pqIters, bucketCount)
    Similarity.ivfPqProbe(codes, cents, books,
      emb(s, d).filter(col("vec_id") < annQueries),
      graft.operators.Similarity.lshDims / pqM, ivfpqNprobe, annK)
  }

  /** Recall@k of IVFADC against exact brute force — the quality
    * closure for the composed cell-routed + residual-compressed
    * serving leg (contrast sim_pq_recall: flat scan, raw-vector
    * codebooks). */
  def simIvfPqRecall(s: SparkSession, d: String): DataFrame = {
    val exact = simTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val adc = simIvfPqAdc(s, d).select(col("query_id"), col("neighbor_id"))
    recallAtK(exact, adc, annQueries)
  }

  /** IVF-blocked embedding dedup — the unlabeled-corpus form of
    * dd_embed_neardups: block on the TRAINED coarse cell
    * (lloydTrain → lloydAssign) instead of a corpus label, then run
    * the same within-block cosine join. At 100 TB this is the only
    * viable posture: labels don't exist, and the quantizer bounds the
    * pair join to Σ|cell|² instead of N². Fully oracle-replayable —
    * the centroids come from the 6dp-pinned Lloyd loop DuckDB
    * already replays for sim_ivf_kmeans. */
  def ddEmbedIvf(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = emb(s, d)
    val cents = Similarity.lloydTrain(e, lloydK, lloydIters)
    val assigned = Similarity.lloydAssign(e, cents.toDF("centroid_id", "cent"))
    Dedup.embeddingNearDupsBy(assigned, "centroid_id", cosineThreshold)
  }

  /** SemDeDup: dd_embed_ivf's pair detection upgraded to a keep/drop
    * verdict — within each trained cell, the member of a cosine-near
    * pair closer to the centroid is dropped (the paper keeps the
    * far-from-centroid representative for diversity). The quantizer
    * trains on the deterministic md5-hash SAMPLE slice (1/4 here so
    * sf0.01 genuinely subsamples) with bounded k — the spill-decade
    * posture (full-corpus training at k ∝ corpus is k·N·iters work
    * and OOM'd at 1000×, BASELINE.md); the oracle replays the slice
    * predicate, the 6dp-pinned loop over it, and the full-corpus
    * assignment. */
  val semdedupSampleMod = 4L

  def ddSemdedup(s: SparkSession, d: String): DataFrame =
    Dedup.semDedupSampled(emb(s, d), cosineThreshold, maxCell = 0,
      k = lloydK, iters = lloydIters, sampleMod = semdedupSampleMod)

  /** Off-manifold vector gate over the shared Lloyd assignment. */
  def simEmbedOutliers(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = emb(s, d)
    val cents = Similarity.lloydTrain(e, lloydK, lloydIters)
    Similarity.assignmentOutliers(
      Similarity.lloydAssignDist(e, cents.toDF("centroid_id", "cent")))
  }

  /** The skew-guarded SemDeDup twin: cells capped at [[semdedupMaxCell]]
    * vectors via deterministic id-hash sub-splitting — the posture the
    * 100× rehearsal forced (one ballooned cell = one \|cell\|²-pair
    * straggler task). Small cap here so sf0.01 genuinely sub-splits. */
  val semdedupMaxCell = 50

  def ddSemdedupCapped(s: SparkSession, d: String): DataFrame =
    Dedup.semDedupSampled(emb(s, d), cosineThreshold,
      maxCell = semdedupMaxCell,
      k = lloydK, iters = lloydIters, sampleMod = semdedupSampleMod)

  /** Recall@k of the JL-projected sign-LSH index (compress → index →
    * full-dim rerank) against exact brute force over the query set —
    * closes the loop sim_rp opens: the projection is only worth its
    * 4× width cut if the index built on it still finds the true
    * neighbors. Same deterministic-replay contract as sim_ann_recall
    * (the projection planes are closed-form literals in the oracle). */
  def simRpAnn(s: SparkSession, d: String): DataFrame = {
    val exact = simTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val e = emb(s, d)
    val ann = Similarity.rpAnnFor(e, e.filter(col("vec_id") < annQueries), annK)
      .select(col("query_id"), col("neighbor_id"))
    recallAtK(exact, ann, annQueries)
  }

  /** JL random projection 64 → 16 dims (scale 1/√16 = 0.25 exactly,
    * so the oracle's literal is representation-exact), flattened to
    * (vec_id, dim, v) rows for the element-exact hash compare. */
  def simRandomProject(s: SparkSession, d: String): DataFrame =
    Similarity.randomProject(emb(s, d), 16)
      .select(col("vec_id"), posexplode(col("rp")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"), col("col").as("v"))

  /** Z-order layout key over (partkey, suppkey) buckets, summarized
    * per Z block — the write-side clustering primitive, checked
    * bit-exactly (the Morton interleave is pure integer math both
    * engines replay term for term). */
  def dsZorder(s: SparkSession, d: String): DataFrame = {
    val z = Tables(s, d, "lineitem").select(
      Layout.zOrderKey2(col("l_partkey") % 1024, col("l_suppkey") % 1024, 10).as("zkey"))
    z.groupBy(shiftright(col("zkey"), 10).as("zblock"))
      .agg(count(lit(1)).as("n"), min(col("zkey")).as("zmin"), max(col("zkey")).as("zmax"))
  }

  def simIvf(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val centroids = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.ivfAssign(e, centroids)
      .groupBy("centroid_id").agg(count(lit(1)).as("n_vectors"))
  }

  /** ANN against a PERSISTED sign-LSH index: the (vec_id, embedding,
    * bucket, nrm) frame is a stored table bucketed on `bucket`; the
    * probe computes sign bits only for the 10 query vectors and reads
    * the corpus co-partitioned. Same answer as lshAnnFor over the
    * live corpus; AnnIndexSpec asserts the index is scanned, not
    * rebuilt. */
  def simAnnPersisted(s: SparkSession, d: String): DataFrame = {
    val (tag, root) = artifact(d)
    val index = Bucketing.buildOnce(s, root, Seq(Bucketing.Table(s"ann_idx_$tag",
        "ann_index", Some(Seq("bucket") -> bucketCount)))) {
      Seq(Similarity.annIndexFrame(emb(s, d)))
    }.head
    Similarity.lshAnnProbe(index, emb(s, d).filter(col("vec_id") < annQueries), annK)
  }

  /** The IVF twin: assignment + norms persisted bucketed on the cell
    * id; probing pays one broadcast-centroid assignment for the query
    * set and an in-cell exact rerank. */
  def simIvfPersisted(s: SparkSession, d: String): DataFrame = {
    val (tag, root) = artifact(d)
    val e = emb(s, d)
    val centroids = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val index = Bucketing.buildOnce(s, root, Seq(Bucketing.Table(s"ivf_idx_$tag",
        "ivf_index", Some(Seq("bucket") -> bucketCount)))) {
      Seq(Similarity.ivfIndexFrame(e, centroids))
    }.head
    Similarity.ivfProbe(index, centroids, e.filter(col("vec_id") < annQueries), annK)
  }

  /** Recall@k of the LSH ANN against exact brute force over the
    * query set — the quality metric an approximate index must ship
    * with (oracle-exact: the hyperplanes are deterministic closed
    * form, so DuckDB replays the whole index + rerank + metric).
    * On THIS corpus the expected value is ~0: the embeddings are
    * unclustered (max pairwise cosine ≈ 0.47), and sign-LSH only
    * collides vectors at small angles — recall on planted
    * near-duplicates (cos ≈ 1) is the operative guarantee, asserted
    * in DataOpsSpec. */
  def simAnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = simTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val e = emb(s, d)
    // probe with ONLY the query set (lshAnnFor) — the index answer for
    // 10 queries must not cost the all-pairs self-join sim_lsh_ann runs
    val ann = Similarity.lshAnnFor(e, e.filter(col("vec_id") < annQueries), annK)
      .select(col("query_id"), col("neighbor_id"))
    recallAtK(exact, ann, annQueries)
  }

  /** Id offset for deterministically planted near-dup twins — far
    * above any synthetic vec_id, so twins never collide with corpus
    * ids and `vec_id < annQueries` still selects only originals. */
  val plantedIdBase = 100000L

  /** The planted near-dup twin of each query vector: element i scaled
    * by 1 + 0.001·((i mod 7) − 3) — a deterministic ±0.3% per-position
    * warp (cosine ≈ 0.999998 with the source, closed-form in both
    * engines: double arithmetic, cast back to float). */
  private[queries] def plantedTwins(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < annQueries)
      .select((col("vec_id") + plantedIdBase).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") *
            (lit(1.0) + lit(0.001) * (pmod(i, lit(7)) - lit(3)).cast("double")))
            .cast("float")).as("embedding"))

  /** [[simAnnRecall]]'s informative twin: the same index + rerank +
    * metric over the corpus WITH planted near-duplicates of every
    * query vector. On the unclustered synthetic embeddings the plain
    * recall row reads ~0 by design (sign-LSH only collides small
    * angles), so it guards nothing; here each query provably has a
    * cos≈1 neighbor that brute force ranks first and the index MUST
    * bucket with it — the registered value is materially > 0 and any
    * banding/rerank regression drives it down, visible in
    * CORRECTNESS. `planted_found` counts queries whose twin the ANN
    * retrieved (the direct guarantee). */
  def simAnnRecallPlanted(s: SparkSession, d: String): DataFrame = {
    val corpus = emb(s, d).select(col("vec_id"), col("embedding"))
      .unionByName(plantedTwins(emb(s, d)))
    val qs = corpus.filter(col("vec_id") < annQueries)
    val exact = Similarity.bruteForceTopK(corpus, qs, annK)
      .select(col("query_id"), col("neighbor_id"))
    val ann = Similarity.lshAnnFor(corpus, qs, annK)
      .select(col("query_id"), col("neighbor_id"))
    val plantedFound = ann
      .filter(col("neighbor_id") === col("query_id") + plantedIdBase)
      .agg(count(lit(1)).as("planted_found"))
    recallAtK(exact, ann, annQueries)
      .crossJoin(plantedFound)
  }

  /** HTML main-text extraction over deterministic page furniture
    * (script/style/comment, link-dense nav+footer, paragraphized body
    * with in-paragraph links and entities — Html.syntheticPage) —
    * the kernel path: one codegen'd projection, no shuffle. */
  def txExtractHtml(s: SparkSession, d: String): DataFrame = {
    // cheap RAW-column null gate (pushes to the scan as attribute
    // IsNotNulls); the synthesized html is then non-null by
    // construction, so the operator's own null gate — a predicate on
    // the derived html whose pushdown CLONES the synth chain — is
    // skipped (Html.extractMainText scaladoc)
    val pages = docs(s, d)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"),
        graft.operators.Html.syntheticPage(col("text"), col("source")).as("html"))
    graft.operators.Html.extractMainText(pages, col("html"), col("doc_id"),
      dropNullHtml = false)
  }

  /** Domain blocklist for the URL-dedup gate (2 of the 20 synthetic
    * sources stand in for the spam/ads lists a crawl maintains). */
  val blockedDomains: Seq[String] = Seq("src7.example.com", "src13.example.com")

  /** URL canonicalization over the deterministic per-doc URL fixture
    * (Urls.syntheticUrl) — a pure projection, every rule of the
    * cascade exercised data-dependently. */
  def txUrlCanon(s: SparkSession, d: String): DataFrame = {
    docs(s, d)
      .select(col("doc_id"),
        graft.operators.Urls.syntheticUrl(col("doc_id"), col("source")).as("url"))
      .select(col("doc_id"), col("url"),
        graft.operators.Urls.canonicalize(col("url")).as("canon_url"))
  }

  /** Exact-URL keep-first + domain blocklist over the same fixture:
    * all variation moduli divide 300, so docs d and d+300 carry the
    * same canonical URL — the planted dup structure the gate must
    * recover (300 canon groups at sf0.01; 30 blocked). */
  def ddUrlDedup(s: SparkSession, d: String): DataFrame = {
    graft.operators.Urls.dedupByUrl(
      docs(s, d).select(col("doc_id"),
        graft.operators.Urls.syntheticUrl(col("doc_id"), col("source")).as("url")),
      col("url"), col("doc_id"), blockedDomains)
  }

  def txClean(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      TextAnalysis.cleaned(col("text")).as("clean_text"))

  def dsSplit(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), TextAnalysis.splitAssign(col("doc_id")).as("split"))
      .groupBy("split").agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))

  /** Leakage-safe split: assign train/val/test by the document's
    * dedup COMPONENT (transitive LSH near-dup cluster), not its own
    * id — a near-duplicate pair under a naive id-hash split lands in
    * train AND test with probability 2·0.8·0.1, silently inflating
    * eval. Hashing the component id gives every cluster one verdict,
    * so near-dups can never straddle splits, while singletons reduce
    * to exactly dsSplit's per-doc assignment. Cost over dsSplit is
    * the already-measured CC pass; the split itself stays a pure
    * projection. */
  def dsSplitSafe(s: SparkSession, d: String): DataFrame =
    ddCc(s, d).select(col("doc_id"), col("component"),
      TextAnalysis.splitAssign(col("component")).as("split"))

  /** Dedup audit rollup: the cluster-size histogram every dedup run
    * reports before anyone trusts its drop rate — n_clusters per
    * component size (size 1 = unique docs) and the duplicate mass
    * each size contributes ((size−1)·n, what dedup would remove).
    * Two keyed aggregations over the CC output; the histogram is at
    * most max-cluster-size rows. */
  def ddClusterSizes(s: SparkSession, d: String): DataFrame =
    ddCc(s, d).groupBy("component").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      .withColumn("dup_docs", (col("csize") - 1) * col("n_clusters"))

  /** Exact profile (oracle-checkable); the library default
    * `Profile.numeric` is the HLL-approximate path — see Profile's
    * scaladoc and the Expand-free plan assertions in ProfileSpec. */
  /** Referential-integrity audit between the text corpus and its
    * embedding table — the pre-flight check before any join-shaped
    * curation (a doc without a vector silently skips semantic dedup;
    * a vector without a doc is an orphan from a stale run). Both
    * sides project to bare 8-byte ids BEFORE the full-outer join, so
    * a 100 TB audit moves ids, not payloads (the Snapshot.diff
    * discipline); output is the 3-row status rollup. */
  def dqRefIntegrity(s: SparkSession, d: String): DataFrame = {
    val dIds = docs(s, d).select(col("doc_id").as("id"))
      .withColumn("has_doc", lit(true))
    val eIds = emb(s, d).select(col("vec_id").as("id"))
      .withColumn("has_vec", lit(true))
    dIds.join(eIds, Seq("id"), "full_outer")
      .select(when(col("has_doc") && col("has_vec"), "matched")
        .when(col("has_doc"), "doc_only").otherwise("vec_only").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))
  }

  def dqProfile(s: SparkSession, d: String): DataFrame =
    graft.operators.Profile.numericExact(Tables(s, d, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey"))

  def txTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(docs(s, d), col("text"), col("doc_id"))

  def txQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, d), col("text"), col("doc_id"))

  def txEntropy(s: SparkSession, d: String): DataFrame =
    TextAnalysis.entropySignals(docs(s, d), col("text"), col("doc_id"))

  /** Compression-ratio gibberish gate (r20). Registered ROWS-ONLY —
    * the engine's single no-oracle exception, documented at
    * [[graft.operators.TextAnalysis.compressionSignals]]: the value
    * is a zlib bitstream length DuckDB cannot replay in SQL;
    * correctness is spec-pinned (CompressionSpec). */
  def txCompress(s: SparkSession, d: String): DataFrame =
    TextAnalysis.compressionSignals(docs(s, d), col("text"), col("doc_id"))

  /** Corpus novelty: 5-gram uniqueness fraction per document. */
  val noveltyN = 5

  def txNovelty(s: SparkSession, d: String): DataFrame =
    Dedup.noveltyScores(docs(s, d), col("text"), col("doc_id"), noveltyN)

  def txLangid(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      TextAnalysis.languageId(col("text")).as("lang_pred"))

  /** Language-ID QA: the labeled-vs-predicted confusion matrix — the
    * report that decides whether the heuristic classifier is
    * trustworthy per language before its verdicts gate a corpus.
    * One projection + one keyed count; |langs|² output rows. */
  def txLangConfusion(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("lang").as("labeled"),
        TextAnalysis.languageId(col("text")).as("predicted"))
      .groupBy("labeled", "predicted").agg(count(lit(1)).as("n"))

  def txHashVec(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashedTermFrequency(docs(s, d), col("text"), col("doc_id"))

  def txFingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      TextAnalysis.contentFingerprint(col("text")).as("content_fp"),
      TextAnalysis.positionalFingerprint(col("text")).as("positional_fp"))

  /** Transitive dedup clusters: connected components over the LSH
    * candidate-pair graph (operators.Graph, min-label propagation).
    * Docs in no pair are their own singleton component. */
  def ddCc(s: SparkSession, d: String): DataFrame = {
    val comp = graft.operators.Graph
      .connectedComponents(ddLshPairs(s, d), "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    docs(s, d).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** Cluster-based corpus dedup: ONE representative (min doc_id) per
    * transitive near-dup component — the policy large corpora apply
    * when pairwise suppression isn't aggressive enough (exact dups
    * have identical signatures, so they're already edges of the LSH
    * graph; singletons represent themselves). */
  def ddCorpusCc(s: SparkSession, d: String): DataFrame = {
    val reps = ddCc(s, d)
      .groupBy("component").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs(s, d).join(reps, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Cluster dedup with a QUALITY representative: keep the longest
    * member of each transitive near-dup component (ties → lower id)
    * instead of the lowest id — the policy curation pipelines
    * actually run, since near-dup clusters usually hold truncated or
    * boilerplate-padded variants of one document and the longest is
    * the best-preserved. Same argmin-as-min(struct) trick as
    * ivfAssign: partial-aggregatable, no per-component sort. */
  def ddCorpusCcBest(s: SparkSession, d: String): DataFrame = {
    val reps = ddCc(s, d)
      .join(docs(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy("component")
      .agg(min(struct((-col("n_chars")).as("neg_len"), col("doc_id"))).as("m"))
      .select(col("m.doc_id").as("doc_id"))
    docs(s, d).join(reps, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Stratified deterministic sampling: per-source keep rate decided
    * by the stratum (50% for src0..src9, 20% for the rest), membership
    * by the portable content hash — reshuffle/cluster-size invariant,
    * like splitAssign. */
  def dsSample(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(graft.functions.VectorFunctions.tokenHash(
      col("doc_id").cast("string")), lit(100L))
    val rate = when(substring(col("source"), 4, 10).cast("int") < 10, 50).otherwise(20)
    docs(s, d).filter(bucket < rate)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** Corpus-wide inverse document frequency: df per token over the
    * distinct (doc, token) set, idf = ln((N+1)/(df+1)) + 1 (the
    * smoothed sklearn form). One explode + one grouped count; the
    * scalar corpus size joins in by broadcast. */
  def txIdf(s: SparkSession, d: String): DataFrame = {
    val dcs = docs(s, d)
    val total = dcs.agg(count(lit(1)).as("n_docs"))
    dcs.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .select(col("token"), col("df"),
        round(log((col("n_docs") + lit(1)).cast("double")
          / (col("df") + lit(1))) + 1.0, 6).as("idf"))
  }

  /** PII scrub over text carrying a synthetic contact line (the
    * corpus itself is PII-free, so the query plants one deterministic
    * email + phone per doc and masks them — the oracle checks the
    * full redacted string). */
  def txRedact(s: SparkSession, d: String): DataFrame = {
    val contact = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com tel: +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
    docs(s, d).select(col("doc_id"),
      TextAnalysis.redactPii(contact).as("redacted"))
  }

  /** Symmetric int8 quantization of the embedding column (the storage
    * shrink before ANN serving): per-vector scale = 127/max|x|,
    * qᵢ = round(xᵢ·scale). Emitted as summary stats (sum/min/max of
    * the quantized codes) so the oracle hash pins every element
    * without shipping arrays. */
  def simQuantize(s: SparkSession, d: String): DataFrame = {
    val amax = aggregate(
      transform(col("embedding"), v => abs(v.cast("double"))),
      lit(0.0), (a, v) => greatest(a, v))
    // zero vector → scale 0 and all-zero codes (guard against the
    // 127/0 = Inf → round(0·Inf) = NaN path; can't occur in this
    // corpus but an operator must not emit NaN on degenerate input)
    val q = transform(col("embedding"),
      v => when(col("amax") > 0,
        round(v.cast("double") * lit(127.0) / col("amax")).cast("long"))
        .otherwise(lit(0L)))
    emb(s, d)
      .select(col("vec_id"), col("embedding"), amax.as("amax"))
      .select(col("vec_id"),
        when(col("amax") > 0, round(lit(127.0) / col("amax"), 6))
          .otherwise(lit(0.0)).as("scale"),
        aggregate(q, lit(0L), (a, v) => a + v).as("qsum"),
        aggregate(q, lit(Long.MaxValue), (a, v) => least(a, v)).as("qmin"),
        aggregate(q, lit(Long.MinValue), (a, v) => greatest(a, v)).as("qmax"))
  }

  /** Edit distance over the LSH candidate pairs (exact integer
    * Levenshtein — the fine-grained confirmation pass AFTER blocking;
    * never run pairwise on the full corpus). Candidates come from
    * MinHash LSH, not the exact-Jaccard join: the 10× scale rehearsal
    * measured LSH candidates growing ~4× for 10× docs while the exact
    * shingle join grew ~19× (dense posting lists square) — the confirm
    * pass must ride the sub-linear generator. */
  def txLevenshtein(s: SparkSession, d: String): DataFrame = {
    val texts = docs(s, d).select(col("doc_id"), col("text"))
    ddLshPairs(s, d)
      .join(texts.withColumnRenamed("doc_id", "id_a")
                 .withColumnRenamed("text", "text_a"), Seq("id_a"))
      .join(texts.withColumnRenamed("doc_id", "id_b")
                 .withColumnRenamed("text", "text_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b")).as("edit_dist"))
  }

  def mmDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.decode(Multimodal.documentsAsImages(docs(s, d))).toDF()
  }

  /** MIME routing at the fetch boundary (r20): the seven payload
    * postures ([[graft.operators.Multimodal.documentsAsMixedPayloads]]
    * — real PNG/JPEG/WAV containers, an HTML page, plain text, a gzip
    * member, a PDF header) sniffed back by the magic-byte CaseWhen
    * over the actual bytes; the oracle replays the variant arithmetic
    * and the planted 4-byte head. */
  def mmSniff(s: SparkSession, d: String): DataFrame =
    Multimodal.documentsAsMixedPayloads(docs(s, d)).toDF()
      .select(col("media_id").as("doc_id"),
        Multimodal.sniffMime(col("payload")).as("mime"),
        lower(hex(substring(col("payload"), 1, 4))).as("head_hex"))

  /** Gzip unpack at the fetch boundary (r20): even docs gzipped, odd
    * docs plain — the real inflate must invert the real deflate
    * byte-for-byte (the decoded text IS the hash surface), plain
    * payloads pass through, and the flags replay trivially. */
  def mmGunzip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mixed = docs(s, d)
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[Multimodal.MediaRecord]
      .map { r =>
        if (r.media_id % 2 != 0) r
        else {
          val bo = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bo)
          gz.write(r.payload); gz.close()
          Multimodal.MediaRecord(r.media_id, bo.toByteArray)
        }
      }
    Multimodal.gunzip(mixed).toDF()
      .select(col("media_id").as("doc_id"), col("was_gzip"), col("ok"),
        org.apache.spark.sql.functions.decode(col("payload"), "UTF-8")
          .as("text"))
  }

  /** Audio metadata extraction: documents wrapped as REAL RIFF/WAVE
    * containers (LIST + fmt + data chunks), parsed back by walking
    * the actual bytes; the oracle replays the parameter arithmetic. */
  def mmAudio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.decodeAudio(Multimodal.documentsAsAudio(docs(s, d))).toDF()
  }

  /** Winnowing fingerprints (MOSS): k-gram window size and selection
    * window per Schleimer 2003 §4; the pair verdict needs ≥2 shared
    * fingerprints with boilerplate grams capped out of the join. */
  val winnowK = 4
  val winnowW = 4
  val winnowMinShared = 2
  val winnowCap = 50

  // oracleHash pins the md5 backend: fingerprint VALUES are part of
  // the output, so the oracle must replay the hash order (the xxh64
  // rolling kernel is the production default; WinnowSpec proves the
  // backends agree on coverage + copy verdicts, the rehearsal row
  // measures the kernel's absolute win)
  def txWinnow(s: SparkSession, d: String): DataFrame =
    graft.operators.Winnow.fingerprints(docs(s, d), col("text"),
      col("doc_id"), winnowK, winnowW, oracleHash = true)

  def ddWinnowPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.Winnow.sharedPairs(txWinnow(s, d), winnowMinShared, winnowCap)

  def ddWinnowSpans(s: SparkSession, d: String): DataFrame =
    graft.operators.Winnow.alignedSpans(txWinnow(s, d), winnowMinShared, winnowCap)

  /** PCM feature extraction over the WAV data chunk — RMS, peak, and
    * mean-crossing rate from the real little-endian s16 stream. */
  def mmAudioFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.audioFeatures(Multimodal.documentsAsAudio(docs(s, d))).toDF()
  }

  def mmFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.documentsAsMedia(docs(s, d)), Multimodal.batchSize)

  def mmFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.documentsAsMedia(docs(s, d)))

  /** Real nearest-neighbor resize 16×12 → 8×6 over raw-pixel
    * fixtures; the oracle replays the gather byte-for-byte (ASCII
    * text → char code == byte value) via the pix_sum checksum. */
  def mmResize(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Multimodal.resizeNearest(Multimodal.documentsAsPixels(docs(s, d)), 8, 6)
      .map(p => (p.media_id, p.width, p.height, p.pixels.length.toLong,
        p.pixels.map(b => (b & 0xff).toLong).sum))
      .toDF("media_id", "out_w", "out_h", "n_bytes", "pix_sum")
  }

  /** Perceptual dHash per image (the 64-bit image near-dup key). */
  def mmPhash(s: SparkSession, d: String): DataFrame =
    Multimodal.dHash(Multimodal.documentsAsPixels(docs(s, d)))

  /** Image near-dup pairs: banded Hamming join over the dHashes. The
    * oracle is the BRUTE-FORCE all-pairs Hamming join at the cutoff,
    * so the green row doubles as a banding-losslessness proof on the
    * live corpus. */
  def mmImageNearDups(s: SparkSession, d: String): DataFrame =
    Multimodal.imageNearDups(mmPhash(s, d))

  /** Global bigram frequency table, top 20 (count desc, bigram asc —
    * a total order, so the cut is deterministic). The corpus-statistics
    * staple: one explode + one partial-agg count + a k-row ordered
    * take; nothing but the 20 survivors ever reaches the driver. */
  /** PMI phrase mining (Church & Hanks 1990): pointwise mutual
    * information of adjacent token pairs — the association statistic
    * phrase extraction and tokenizer-candidate discovery rank by.
    * pmi = ln(C₁₂·T² / (P·C₁·C₂)) over pair count C₁₂, unigram
    * counts, total tokens T and total pairs P; micro-nat rounded so
    * the score is an exact integer. `pmiMinCount` kills the
    * low-count noise PMI is notorious for. Shape: one token
    * explode feeding both count frames, two keyed joins on the
    * token (the unigram frame is vocabulary-sized), totals as 1-row
    * broadcasts — nothing pairwise beyond adjacency. */
  val pmiMinCount = 5

  def txPmi(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pmiPairs(docs(s, d), col("text"), pmiMinCount)

  def txTopBigrams(s: SparkSession, d: String): DataFrame = {
    // tokens bound to a column BEFORE the bigram lambda — an inline
    // split inside `transform` re-executes per element (O(tokens²)/doc)
    val toks = col("__toks")
    val cnt = size(toks) - 1
    docs(s, d).select(TextAnalysis.tokens(col("text")).as("__toks"))
      .select(
        explode(when(cnt >= 1,
          transform(sequence(lit(1), cnt),
            i => concat_ws(" ", slice(toks, i, lit(2)))))
          .otherwise(array())).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)
  }

  /** Incremental ingestion dedup: the corpus is every doc except the
    * batch (doc_id % 10 = 7 — a deterministic tenth of the table
    * standing in for "today's crawl"), and the batch survives only
    * where it collides with neither the corpus nor its own earlier
    * rows — exact or LSH-verified-near-dup. The production form
    * probes a PERSISTED Dedup.CorpusIndex; semantics are identical. */
  def ddIncremental(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val isBatch = pmod(col("doc_id"), lit(10L)) === 7
    Dedup.incremental(all.filter(!isBatch), all.filter(isBatch),
        col("text"), col("doc_id"), 3, jaccardThreshold)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** The production form of dd_incremental: the corpus index is a
    * PERSISTED artifact — three bucketed+sorted parquet tables, each
    * clustered on its probe key — and the batch probes the stored
    * layout. Identical semantics (same oracle); DedupIndexSpec
    * asserts the probe plan never shuffles the corpus side. */
  def ddIncrementalPersisted(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val isBatch = pmod(col("doc_id"), lit(10L)) === 7
    val (tag, root) = artifact(d)
    val index = Dedup.ensurePersistedIndex(s, s"$root/corpus_index",
        tag, bucketCount) {
      Dedup.indexCorpus(all.filter(!isBatch), col("text"), col("doc_id"), 3)
    }
    Dedup.incremental(index, all.filter(isBatch),
        col("text"), col("doc_id"), 3, jaccardThreshold)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Decontamination n-gram width: distinctive for 40–60-token docs
    * (web-scale corpora use ~13; the knob is per-corpus). */
  val decontamN = 5

  /** Train→eval contamination report over the deterministic split:
    * every training doc sharing a 5-gram with a test doc, with the
    * shared count — the leakage check before any benchmark claim. */
  def dsContamination(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).withColumn("split", TextAnalysis.splitAssign(col("doc_id")))
    Dedup.contaminationPairs(
      dd.filter(col("split") === "train"), dd.filter(col("split") === "test"),
      col("text"), col("doc_id"), decontamN)
  }

  /** The decontaminated training set (anti-join on the report). */
  def dsDecontaminate(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).withColumn("split", TextAnalysis.splitAssign(col("doc_id")))
    Dedup.decontaminated(
        dd.filter(col("split") === "train"), dd.filter(col("split") === "test"),
        col("text"), col("doc_id"), decontamN)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** SimHash family of incremental ingestion: the corpus state is one
    * fingerprint long per settled document; batch docs within
    * Hamming-3 of a corpus fingerprint (or an earlier batch one) are
    * dropped. Same batch/corpus split as dd_incremental. */
  def ddIncrementalSimhash(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val isBatch = pmod(col("doc_id"), lit(10L)) === 7
    val corpusFp = Dedup.simhash(all.filter(!isBatch), col("text"), col("doc_id"))
    Dedup.incrementalSimhash(corpusFp, all.filter(isBatch),
        col("text"), col("doc_id"))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Embedding family of incremental ingestion: corpus state =
    * (vec_id, centroid_id, embedding) assignment under the Lloyd
    * centroids of the settled corpus; the batch pays one assignment
    * pass and a per-cell cosine probe. Same deterministic training
    * replay as dd_embed_ivf, trained on the CORPUS side only (the
    * index predates the batch by construction). */
  def ddIncrementalEmbed(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = emb(s, d)
    val isBatch = pmod(col("vec_id"), lit(10L)) === 7
    val corpus = e.filter(!isBatch)
    val cents = Similarity.lloydTrain(corpus, lloydK, lloydIters)
      .toDF("centroid_id", "cent")
    val corpusAssigned = Similarity.lloydAssign(corpus, cents)
    Dedup.incrementalEmbedding(corpusAssigned, cents, e.filter(isBatch),
        cosineThreshold)
      .select(col("vec_id"), col("label"))
  }

  /** dd_incremental_simhash against the STORED band index — the
    * steady-state shape where the corpus fingerprints are an artifact
    * of the previous run (bucketed on the probe key, so only batch
    * bands shuffle; DedupIndexSpec). */
  def ddIncrementalSimhashPersisted(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val isBatch = pmod(col("doc_id"), lit(10L)) === 7
    val (tag, root) = artifact(d)
    val bands = Dedup.ensurePersistedSimhashIndex(s,
        s"$root/corpus_index", tag, bucketCount) {
      Dedup.simhashBands(
        Dedup.simhash(all.filter(!isBatch), col("text"), col("doc_id")), 32, 8)
    }
    Dedup.incrementalSimhashBands(bands, all.filter(isBatch),
        col("text"), col("doc_id"))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** dd_incremental_embed against the STORED assignment index (cell
    * rows bucketed on centroid_id) and its stored centroids — the
    * batch pays one broadcast-centroid assignment, the corpus side is
    * read co-partitioned on the cell. */
  def ddIncrementalEmbedPersisted(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = emb(s, d)
    val isBatch = pmod(col("vec_id"), lit(10L)) === 7
    val (tag, root) = artifact(d)
    val (assigned, cents) = Dedup.ensurePersistedEmbeddingIndex(s,
        s"$root/corpus_index", tag, bucketCount) {
      val corpus = e.filter(!isBatch)
      val c = Similarity.lloydTrain(corpus, lloydK, lloydIters)
        .toDF("centroid_id", "cent")
      (Similarity.lloydAssign(corpus, c), c)
    }
    Dedup.incrementalEmbedding(assigned, cents, e.filter(isBatch), cosineThreshold)
      .select(col("vec_id"), col("label"))
  }

  /** Incremental SemDeDup: dominance VERDICTS for the batch against
    * the same STORED embedding index dd_incremental_embed_persisted
    * probes (cell rows bucketed on centroid_id + the stored
    * centroids) — semDedup's exact pairwise rule (farther-from-
    * centroid wins, ties to the lower id), so the batch verdicts
    * equal a full rebuild's restricted to the batch rows
    * (IncrementalDedupSpec). */
  def ddIncrementalSemdedup(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = emb(s, d)
    val isBatch = pmod(col("vec_id"), lit(10L)) === 7
    val (tag, root) = artifact(d)
    val (assigned, cents) = Dedup.ensurePersistedEmbeddingIndex(s,
        s"$root/corpus_index", tag, bucketCount) {
      val corpus = e.filter(!isBatch)
      val c = Similarity.lloydTrain(corpus, lloydK, lloydIters)
        .toDF("centroid_id", "cent")
      (Similarity.lloydAssign(corpus, c), c)
    }
    Dedup.incrementalSemDedup(assigned, cents, e.filter(isBatch), cosineThreshold)
  }

  val shardBudget = 1000L
  /** Prefix-sum block size: ≥2 orders of magnitude below the corpus
    * so the rehearsal actually exercises the two-level structure; at
    * 100 TB this is a layout knob (rows per task), not a tuning. */
  val shardBlock = 100L

  /** Token-budget shard packing in stable doc_id order via the
    * two-level distributed prefix sum (operators.Sharding) — the
    * single-partition global window it replaces is asserted absent in
    * ShardingSpec. */
  def dsPackShards(s: SparkSession, d: String): DataFrame =
    Sharding.packShards(docs(s, d).select(col("doc_id"), col("text")),
        "doc_id", size(split(col("text"), " ")), shardBudget, shardBlock)
      .select(col("doc_id"), col("n_tokens"), col("cum").as("cum_tokens"),
        col("shard_id"))

  val shuffleEpochs = 2
  val shuffleShards = 8

  def dsShuffle(s: SparkSession, d: String): DataFrame =
    Sharding.epochShuffle(docs(s, d), col("doc_id"),
      shuffleEpochs, shuffleShards)

  /** Shard materialization: the packed documents concatenated into one
    * training sequence per shard (doc_id order inside the shard, an
    * <eos> separator between documents). One groupBy on shard_id —
    * shard sizes are budget-bounded, so the per-group state is too;
    * sort_array over (doc_id, text) structs pins the concat order
    * without a sort shuffle. */
  def dsPackSequences(s: SparkSession, d: String): DataFrame =
    Sharding.packShards(docs(s, d).select(col("doc_id"), col("text")),
        "doc_id", size(split(col("text"), " ")), shardBudget, shardBlock)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"),
        concat_ws(" <eos> ",
          transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
            st => st.getField("text"))).as("sequence"))

  /** Fixed training-row length for ds_pack_fixed (tokens, incl. the
    * per-document EOS). */
  val seqLen = 128

  /** Length-bucket batch size for ds_length_buckets. */
  val lenBatchSize = 16

  def dsLengthBuckets(s: SparkSession, d: String): DataFrame =
    Sharding.lengthBucketBatches(docs(s, d), col("doc_id"),
      size(split(col("text"), " ")), lenBatchSize, shardBlock)

  def dsPackFixed(s: SparkSession, d: String): DataFrame =
    Sharding.packFixedSequences(docs(s, d).select(col("doc_id"), col("text")),
      "doc_id", size(split(col("text"), " ")), seqLen, shardBlock)

  /** Per-source mixture budgets (tokens): even-numbered sources get
    * 1000, odd (and non-numeric suffixes) 500 — the null-safe
    * fall-through matches ds_sample's TRY_CAST convention. */
  private[queries] def mixBudget: Column =
    when(pmod(substring(col("source"), 4, 10).cast("int"), lit(2)) === 0, 1000L)
      .otherwise(500L)

  /** Data mixing: per-source token-budget prefix sampling in stable
    * doc_id order through the grouped two-level prefix sum (no
    * one-task-per-source window). */
  def dsMix(s: SparkSession, d: String): DataFrame =
    Sharding.mixByBudget(docs(s, d).select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", size(split(col("text"), " ")), mixBudget, shardBlock)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum").as("cum_tokens"))

  /** Temperature mixture: α = 0.7 (the mT5 default family) against a
    * 30k-token target budget — below the corpus total, so head
    * sources genuinely downsample while the computed rates stay a
    * pure function of the per-source token counts. */
  val mixAlpha = 0.7
  val mixTempBudget = 30000L

  def dsMixTemperature(s: SparkSession, d: String): DataFrame =
    Sharding.mixByTemperature(
        docs(s, d).select(col("doc_id"), col("source"), col("text")),
        "source", col("doc_id"), size(split(col("text"), " ")),
        mixAlpha, mixTempBudget)
      .groupBy("source", "c_tokens", "rate_ppm")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("text"), " "))).cast("long").as("kept_tokens"))

  val bucketCount = 8

  /** Root for session-materialized table layouts (bucketed joins,
    * persisted dedup/ANN indexes). Config-overridable, tmp-derived —
    * never a repo-absolute path. */
  val tableRoot: String = sys.env.getOrElse("SPARK_GRAFT_TABLE_ROOT",
    s"${System.getProperty("java.io.tmpdir")}/graft-bucketed")

  /** A persisted artifact of sf dir `d`: its catalog tag — `d` made
    * catalog-safe, between `prefix` and `suffix` — and the root its
    * tables are written under ([[Bucketing.buildOnce]]),
    * `$tableRoot/$dirPrefix$tag`. */
  private[graft] def artifact(d: String, prefix: String = "", suffix: String = "",
                              dirPrefix: String = ""): (String, String) = {
    val tag = prefix + d.replaceAll("[^A-Za-z0-9]", "_") + suffix
    (tag, s"$tableRoot/$dirPrefix$tag")
  }

  /** Fact-to-fact join on bucketed, sorted tables: both sides are
    * laid out on the join key (Bucketing.buildOnce — one shuffle,
    * paid once at write), so the sort-merge join runs with NO
    * exchange and NO sort (asserted in BucketingSpec); the only
    * shuffle left in the query is the 5-row priority rollup. The
    * result is layout-independent — the oracle is the plain join. */
  def dsBucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (tag, root) = artifact(d)
    val Seq(li, ord) = Bucketing.buildOnce(s, root, Seq(
      Bucketing.Table(s"li_bkt_$tag", "lineitem", Some(Seq("l_orderkey") -> bucketCount)),
      Bucketing.Table(s"ord_bkt_$tag", "orders", Some(Seq("o_orderkey") -> bucketCount)))) {
      Seq(Tables(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
        Tables(s, d, "orders").select("o_orderkey", "o_orderpriority"))
    }
    li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), (sum(col("cents")) / 100.0).as("revenue"))
  }

  /** The allocation through its typed view (`Allocate.apply`), the
    * same operator as p_alloc_plan. */
  def allocGreedy(s: SparkSession, d: String): DataFrame =
    allocByProduct(s, d) { demand =>
      import s.implicits._
      graft.pipeline.Allocate(demand.as[graft.pipeline.Model.DemandLine]).toDF()
    }

  /** The allocation through the custom Catalyst operator
    * (plans.GreedyAllocationNode); DataOpsSpec holds it equal to the
    * typed reference scan. */
  def allocGreedyPlan(s: SparkSession, d: String): DataFrame =
    allocByProduct(s, d)(graft.pipeline.Allocate.viaPlan(_))

  /** lineitem as candy demand lines (order = l_orderkey, product =
    * l_partkey, opening stock = p_size·100), allocated by `allocate`
    * and rolled up per product. */
  private[graft] def allocByProduct(s: SparkSession, d: String)(
      allocate: DataFrame => DataFrame): DataFrame = {
    val demand = Tables(s, d, "lineitem")
      .join(broadcast(Tables(s, d, "part").select(col("p_partkey"),
        (col("p_size").cast("long") * 100L).as("opening_stock"))),
        col("l_partkey") === col("p_partkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_suppkey").as("customer_id"),
        date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss").as("order_datetime"),
        col("l_partkey").as("product_id"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") / col("l_quantity"), 2)
          .cast("decimal(38,18)").as("unit_price"),
        col("opening_stock"),
        date_format(col("l_shipdate"), "yyyyMMdd").cast("int").as("day"),
        col("l_orderkey").as("seq"),
        col("l_linenumber").as("pos"))
    allocate(demand)
      .groupBy("product_id")
      .agg(sum(col("quantity")).as("filled_qty"),
        sum(when(col("quantity") === 0, 1L).otherwise(0L)).as("cancelled_lines"),
        count(lit(1)).as("total_lines"))
  }

  // ---- Oracle SQL ----------------------------------------------------

  /** Shared CTE: distinct 3-gram shingles with a portable 32-bit hash
    * (mirrors Dedup.shingles + VectorFunctions.tokenHash). The `rel`
    * parameter scopes the chain to any (doc_id, text) relation — the
    * curation composite runs it over its quality-surviving subset. */
  private[queries] def shingleCteOver(rel: String) =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel),
       s0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks)-1, 1)),
                i -> array_to_string(toks[i:i+2], ' '))) AS shingle FROM d),
       s AS (SELECT DISTINCT doc_id, shingle FROM s0)"""

  private[queries] val shingleCte = shingleCteOver("documents")

  private[queries] def minhashSigCteOver(rel: String) = {
    val p = Dedup.minhashP
    val mins = Dedup.minhashAB.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $p) AS m$i"
    }.mkString(", ")
    s"""${shingleCteOver(rel)},
        hh AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % $p AS h
               FROM s),
        sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id)"""
  }

  private[queries] val minhashSigCte = minhashSigCteOver("documents")

  /** Shared CTE: LSH band/bucket rows per doc — `bands(doc_id, band,
    * bucket)` (mirrors Dedup.lshBuckets). */
  private[queries] def lshBandsCteOver(rel: String) = {
    val bandSelects = (0 until 4).map { band =>
      val cols = (band * 4 until band * 4 + 4)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $band AS band, md5($cols) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"${minhashSigCteOver(rel)}, bands AS ($bandSelects)"
  }

  private[queries] val lshBandsCte = lshBandsCteOver("documents")

  /** Shared CTE chain: MinHash-LSH candidate pairs (mirrors
    * Dedup.minhashCandidatePairs) — `pairs(id_a, id_b)`. */
  private[queries] def lshPairsCteOver(rel: String) =
    s"""${lshBandsCteOver(rel)},
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id)"""

  private[queries] val lshPairsCte = lshPairsCteOver("documents")

  /** Shared CTE chain: the dHash replay (mirrors Multimodal.dHash over
    * documentsAsPixels' 16×12×3 tiled-text buffers — buffer byte i is
    * the doc's ASCII char at i mod len, the mm_resize convention).
    * Bit 63 can't be built by `1 << 63` in signed BIGINT arithmetic;
    * it lands via xor with MIN_BIGINT instead, and the shift argument
    * is clamped so the THEN branch stays overflow-free even if the
    * engine evaluates it eagerly on non-selected rows. */
  private[queries] val phashCte =
    """d AS (SELECT doc_id, text, len(text) AS L FROM documents),
       g AS (SELECT doc_id, y.range AS y, x.range AS x,
               (ord(substr(text, CAST(((((y.range*12//8)*16 + (x.range*16//9))*3 + 0) % L) AS INT) + 1, 1))
              + ord(substr(text, CAST(((((y.range*12//8)*16 + (x.range*16//9))*3 + 1) % L) AS INT) + 1, 1))
              + ord(substr(text, CAST(((((y.range*12//8)*16 + (x.range*16//9))*3 + 2) % L) AS INT) + 1, 1))) // 3 AS gv
             FROM d, range(0, 8) y, range(0, 9) x),
       bt AS (SELECT a.doc_id, a.y*8 + a.x AS k,
                     CASE WHEN a.gv < b.gv THEN 1 ELSE 0 END AS bit
              FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1),
       hs AS (SELECT doc_id,
                CAST(sum(CASE WHEN bit = 1 AND k < 63 THEN (1::BIGINT << CAST(least(k, 62) AS INT)) ELSE 0 END) AS BIGINT) AS lo,
                max(CASE WHEN bit = 1 AND k = 63 THEN 1 ELSE 0 END) AS hi
              FROM bt GROUP BY doc_id),
       ph AS (SELECT doc_id AS media_id,
                CASE WHEN hi = 1 THEN xor(lo, (-9223372036854775808)::BIGINT) ELSE lo END AS dhash
              FROM hs)"""

  /** Shared CTE: 32-bit SimHash per document (mirrors Dedup.simhash). */
  private[queries] val simhashCte = {
    val bitSums = (0 until 32)
      .map(r => s"sum(CASE WHEN (h >> $r) & 1 = 1 THEN 1 ELSE -1 END) AS s$r")
      .mkString(", ")
    val fp = (0 until 32)
      .map(r => s"(CASE WHEN s$r > 0 THEN ${1L << r} ELSE 0 END)").mkString(" + ")
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        hh AS (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h FROM t),
        bits AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id),
        sim AS (SELECT doc_id, $fp AS simhash FROM bits)"""
  }

  /** Shared CTE chain for the sign-LSH ANN family: per-vector bucket
    * from the SAME closed-form hyperplane weights the Spark side uses
    * (Similarity.planeWeight, embedded as double literals of the
    * float-rounded weights — the hash is deterministic, so both
    * engines dot against identical planes), plus the norm table.
    * Yields `bk(vec_id, bucket)` and `nrm(vec_id, nrm)`. */
  /** The URL fixture CTE — mirrors Urls.syntheticUrl verbatim
    * (including the 300-block `flip` that rotates the d / d+300
    * twins' parameter order and percent spellings). */
  /** Urls.syntheticUrl mirrored as one SQL expression over bare
    * `doc_id` / `source` columns — shared by [[urlSynthCte]] and the
    * planted-seed CTEs (which synthesize over a one-row-per-source
    * subset). */
  private[queries] val urlSynthSqlExpr: String =
    """((CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
                 WHEN 2 THEN 'Http' ELSE 'HTTPS' END)
           || '://' || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
           || (CASE WHEN doc_id % 4 < 2 THEN upper(source) ELSE source END)
           || '.example.com'
           || (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                    WHEN 2 THEN ':8080' ELSE '' END)
           || (CASE (doc_id % 12 + (doc_id // 300) % 2) % 3
                    WHEN 0 THEN '/articles/' WHEN 1 THEN '/./articles/'
                    ELSE '/p/../articles/' END)
           || CAST(doc_id % 150 AS VARCHAR)
           || (CASE WHEN doc_id % 6 < 3 THEN '/t' ||
                      (CASE (doc_id % 6 + (doc_id // 300) % 2) % 3
                            WHEN 0 THEN '~' WHEN 1 THEN '%7E' ELSE '%7e' END) || 'x'
                    WHEN doc_id % 6 < 5 THEN '/t' ||
                      (CASE WHEN (doc_id % 6 + (doc_id // 300) % 2) % 2 = 1
                            THEN '%3F' ELSE '%3f' END) || 'x'
                    ELSE '/tx' END)
           || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
           || (CASE doc_id % 3 WHEN 0 THEN '?utm_source=feed'
                    WHEN 1 THEN (CASE WHEN (doc_id // 300) % 2 = 0
                      THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
                           || '&cat=' || CAST(doc_id % 4 AS VARCHAR)
                      ELSE '?cat=' || CAST(doc_id % 4 AS VARCHAR)
                           || '&id=' || CAST(doc_id % 5 AS VARCHAR) END)
                    ELSE '?utm_campaign=x&id=' || CAST(doc_id % 5 AS VARCHAR) END)
           || (CASE WHEN doc_id % 2 = 1 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR)
                    ELSE '' END))"""

  private[queries] val urlSynthCte: String =
    s"u AS (SELECT doc_id, $urlSynthSqlExpr AS url FROM documents)"

  /** Step 2 of Urls.canonicalize — percent-escape normalization —
    * over the SQL expression `in`: split on '%', decode an unreserved
    * leading escape, uppercase the hex of any other. */
  private[queries] def percentNormSqlExpr(in: String): String = {
    val cp = "CAST(('0x' || substr(p, 1, 2)) AS BIGINT)"
    val unres = s"($cp BETWEEN 48 AND 57 OR $cp BETWEEN 65 AND 90 OR " +
      s"$cp BETWEEN 97 AND 122 OR $cp IN (45, 46, 95, 126))"
    s"""((string_split($in, '%'))[1] ||
        coalesce(list_aggr(list_transform((string_split($in, '%'))[2:], p ->
          CASE WHEN regexp_matches(substr(p, 1, 2), '^[0-9a-fA-F]{2}$$')
               THEN CASE WHEN $unres THEN chr(CAST($cp AS INT)) || substr(p, 3)
                         ELSE '%' || upper(substr(p, 1, 2)) || substr(p, 3) END
               ELSE '%' || p END), 'string_agg', ''), ''))"""
  }

  /** Step 9 of Urls.canonicalize — query-parameter sort — over the
    * SQL expression `in` (keep `in` a bare column: it is repeated).
    * An empty query (`…?`) canonicalizes to no '?' at all. */
  private[queries] def sortParamsSqlExpr(in: String): String =
    s"""(CASE WHEN strpos($in, '?') = 0 THEN $in
          WHEN substr($in, strpos($in, '?') + 1) = ''
            THEN substr($in, 1, strpos($in, '?') - 1)
          ELSE substr($in, 1, strpos($in, '?') - 1) || '?' ||
            array_to_string(list_sort(string_split(
              substr($in, strpos($in, '?') + 1), '&')), '&') END)"""

  /** Urls.canonicalize steps 1–8 replayed as one nested DuckDB
    * expression over the SQL expression `in` — the same cascade, RE2
    * '\1' backrefs instead of Java '$1'. Callers stage this into a
    * CTE column and wrap it with [[sortParamsSqlExpr]] (step 9),
    * keeping the repeated operand of the sort a bare column. */
  /** Step 8.5 (remove_dot_segments) — the FIXTURE-BOUNDED mirror of
    * the graft_url_dotfold kernel's general stack walk: the synthetic
    * URLs and resolved hrefs carry at most one dot segment per value
    * and never a '/' (let alone '/.') inside a query string, so two
    * applications of each rewrite reach the fixpoint, and whole-string
    * replacement is path-equivalent. `/./` collapses; `/seg/../` pops
    * a poppable segment — any segment that is not itself '.' or '..'
    * (the three-alternative class; DuckDB's RE2 has no lookahead) —
    * and a LEADING '/../' (nothing to pop: an href resolved against a
    * bare-authority base) is the RFC's above-root no-op, rewritten
    * BEFORE each pop pass — the pop regex cannot know the first path
    * slash from the '//' of the authority, so an unhandled leading
    * '/../' would let a pop eat the HOST as if it were a segment
    * ('http://h/../up' → 'http://up'); clearing it first keeps every
    * pop inside the real path, and the interleaved root pass also
    * catches a pop that empties the path ('/a/../../b', r16 — both
    * shapes previously diverged silently from the kernel). */
  private[queries] def dotFoldSqlExpr(in: String): String = {
    val root = """'^([a-z][a-z0-9+.-]*://[^/?#]*)/\.\./', '\1/', 'g')"""
    val pop = """'/(\.\.[^/?]+|\.[^/?.][^/?]*|[^/?.][^/?]*)/\.\./', '/', 'g')"""
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(regexp_replace(" +
      in + ",\n" +
      """ '/\./', '/', 'g'),""" + "\n" +
      """ '/\./', '/', 'g'),""" + "\n" +
      s" $root,\n $pop,\n $root,\n $pop,\n $root"
  }

  private[queries] def urlCanonSqlExpr(in: String): String = {
    val pn = percentNormSqlExpr(s"trim($in)")
    val prefix =
      "regexp_extract(" + pn + ", '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)"
    val lowered = "(lower(" + prefix + ") || substr(" + pn +
      ", length(" + prefix + ") + 1))"
    val tp = graft.operators.Urls.trackingParamsRe
    val steps17 =
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_replace(regexp_replace(regexp_replace(" +
        lowered + ",\n" +
        """ '^(https?://)www\.', '\1', 'g'),""" + "\n" +
        """ '#.*$', '', 'g'),""" + "\n" +
        """ '^(http://[^/?#:]*):80([/?#].*)?$', '\1\2', 'g'),""" + "\n" +
        """ '^(https://[^/?#:]*):443([/?#].*)?$', '\1\2', 'g'),""" + "\n" +
        " '&(?:" + tp + ")=[^&#]*', '', 'g'),\n" +
        " '\\?(?:" + tp + ")=[^&#]*&', '?', 'g'),\n" +
        " '\\?(?:" + tp + ")=[^&#]*$', '', 'g')"
    "regexp_replace(" + dotFoldSqlExpr(steps17) + ",\n" +
      """ '([^/:])/+(\?.*)?$', '\1\2', 'g')"""
  }

  /** S4 entity decode as a CASE over one '&'-piece `p` (the text
    * after a '&'): the same single-pass per-piece dispatch as
    * Html.decodeEntities and the kernel — named entities, then
    * decimal/hex numeric refs under the shared validity gate
    * (1..0x10FFFF, no surrogates), else literal '&'. */
  private[queries] val entityDecodeSqlCase: String = {
    val dec = "regexp_extract(p, '^#([0-9]{1,7});', 1)"
    val hex = "regexp_extract(p, '^#[xX]([0-9a-fA-F]{1,6});', 1)"
    val decCp = s"CAST($dec AS BIGINT)"
    val hexCp = s"CAST(('0x' || $hex) AS BIGINT)"
    def valid(cp: String) =
      s"$cp BETWEEN 1 AND 1114111 AND $cp NOT BETWEEN 55296 AND 57343"
    s"""CASE
          WHEN p LIKE 'amp;%' THEN '&' || substr(p, 5)
          WHEN p LIKE 'lt;%' THEN '<' || substr(p, 4)
          WHEN p LIKE 'gt;%' THEN '>' || substr(p, 4)
          WHEN p LIKE 'quot;%' THEN '"' || substr(p, 6)
          WHEN p LIKE 'nbsp;%' THEN chr(160) || substr(p, 6)
          WHEN $dec <> '' AND ${valid(decCp)}
            THEN chr(CAST($decCp AS INT)) || substr(p, length($dec) + 3)
          WHEN $hex <> '' AND ${valid(hexCp)}
            THEN chr(CAST($hexCp AS INT)) || substr(p, length($hex) + 4)
          ELSE '&' || p END"""
  }

  /** The HTML extraction cascade (plans.HtmlExtract's documented
    * stages) over any (doc_id, text, source) relation, as a
    * parenthesized subquery yielding (doc_id, main_text, n_blocks,
    * kept_blocks, n_links) — shared by tx_extract_html (over
    * `documents`) and ds_crawl (over the URL-dedup winners). */
  /** Urls.resolveHref mirrored over SQL expressions `base`/`href`
    * (keep both bare columns — they repeat). */
  private[queries] def resolveHrefSqlExpr(base: String, href: String): String = {
    val origin = s"regexp_extract($base, '^([a-z][a-z0-9+.-]*://[^/?#]+)', 1)"
    val scheme = s"regexp_extract($base, '^([a-z][a-z0-9+.-]*)://', 1)"
    val dir = s"regexp_extract(regexp_replace($base, '[?#].*$$', ''), " +
      "'^([a-z][a-z0-9+.-]*://.*/)', 1)"
    s"""(CASE WHEN regexp_matches($href, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN $href
          WHEN regexp_matches($href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN NULL
          WHEN $href LIKE '//%' THEN $scheme || ':' || $href
          WHEN $href LIKE '/%' THEN $origin || $href
          WHEN $href LIKE '#%' OR $href = '' THEN NULL
          ELSE (CASE WHEN $dir = '' THEN $origin || '/' ELSE $dir END) || $href
        END)"""
  }

  /** Html.syntheticPage mirrored as one SQL expression over the
    * columns `text`/`source` — shared by the extraction cascade and
    * the link-discovery queries. */
  private[queries] val pageSynthSqlExpr: String =
    s"""'<html><head><script type="text/javascript">var t="' || source ||
        '";</script><style>.m{color:#333}</style></head><body><!-- graft fixture -->' ||
        '<nav><a href="/">home</a> <a href="/about">about</a> ' ||
        '<a href="../up">up</a> <a href="mailto:ed@example.com">mail</a> ' ||
        '<a href="/' ||
        source || '">' || source || '</a></nav><div class="content">' ||
        replace(replace(replace(
                regexp_replace(text, '((?:\\S+ ){11}\\S+) ', '<p>\\1</p>', 'g'),
                ' table ', ' <a href="#t">table</a> '),
                ' agg ', ' x &amp; y '),
                ' stream ', '${graft.operators.Html.entityGauntlet}') ||
        '</div><footer>contact &amp; imprint<br/><a href="/legal">legal</a></footer></body></html>'"""

  private[queries] def htmlExtractSql(docRel: String): String =
    htmlExtractOverHtmlSql(
      s"(SELECT doc_id, $pageSynthSqlExpr AS html FROM $docRel)")

  /** The extraction cascade over a relation that already carries
    * (doc_id, html) — the r19 parameterization letting fixture
    * variants (meta-robots, canonical) reuse the same S1–S6 SQL. */
  private[queries] def htmlExtractOverHtmlSql(rel: String): String = {
    val mt = graft.operators.Html.minKeepTokens
    val inv = graft.operators.Html.linkDensityInv
    s"""(WITH hx AS (SELECT doc_id, html
          FROM $rel),
        sx1 AS (SELECT doc_id, regexp_replace(html,
                 '<!--.*?-->|<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
                 ' ', 'gs') AS t FROM hx),
        sx2 AS (SELECT doc_id,
                 regexp_replace(t, '${graft.plans.HtmlExtract.blockTagRegex}',
                   chr(10), 'g') AS t
               FROM sx1),
        bx AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS blk,
                     generate_subscripts(string_split(t, chr(10)), 1) AS pos FROM sx2),
        c0 AS (SELECT doc_id, pos,
                len(regexp_extract_all(blk, '<a[ >]')) AS links,
                string_split(regexp_replace(blk, '<[^>]*>', ' ', 'g'), '&') AS pc
              FROM bx),
        cx AS (SELECT doc_id, pos, links,
                trim(regexp_replace(
                  pc[1] || coalesce(list_aggr(list_transform(pc[2:], p ->
                    $entityDecodeSqlCase), 'string_agg', ''), ''),
                  '[ \\t\\n\\r\\f]+', ' ', 'g')) AS txt
              FROM c0),
        mx AS (SELECT doc_id, pos, links, txt,
                CASE WHEN txt = '' THEN 0 ELSE len(string_split(txt, ' ')) END AS ntok
              FROM cx),
        kx AS (SELECT *, (ntok >= $mt AND links * $inv <= ntok) AS keep FROM mx)
        SELECT doc_id,
          coalesce(string_agg(CASE WHEN keep THEN txt END, chr(10) ORDER BY pos), '')
            AS main_text,
          CAST(sum(CASE WHEN ntok > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
          CAST(sum(CASE WHEN ntok > 0 THEN links ELSE 0 END) AS BIGINT) AS n_links
        FROM kx GROUP BY doc_id)"""
  }

  /** Sign-bucket + norm CTEs over an arbitrary (vec_id, embedding)
    * relation `rel` — `bk(vec_id, bucket)` / `nrm(vec_id, nrm)`. */
  private[queries] def lshBucketCteFor(rel: String): String = {
    import graft.operators.Similarity.{lshDims, lshPlanes, planeWeight}
    val planeRows = (0 until lshPlanes).map { p =>
      val wl = (0 until lshDims)
        .map(d => planeWeight(p, d).toFloat.toDouble.toString)
        .mkString("[", ", ", "]")
      s"($p, ${1L << p}, $wl)"
    }.mkString(", ")
    s"""planes(p, pw, wl) AS (VALUES $planeRows),
        pdots AS (SELECT e.vec_id, pl.pw,
                   list_sum(list_transform(range(1, ${lshDims + 1}),
                     i -> CAST(e.embedding[i] AS DOUBLE) * pl.wl[i])) AS dp
                 FROM $rel e CROSS JOIN planes pl),
        bk AS (SELECT vec_id,
                      CAST(sum(CASE WHEN dp >= 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
               FROM pdots GROUP BY vec_id),
        nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM
                  (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM $rel)
                GROUP BY vec_id)"""
  }

  private[queries] val lshBucketCte = lshBucketCteFor("embeddings")

  /** Sign-bucket CTEs for the JL-projected index (mirrors
    * Similarity.rpAnnFor): the 16 projection planes as literals, the
    * 6dp-rounded coordinates, bucket = Σ sign-bit·2^p. Defines the
    * same `bk(vec_id, bucket)` / `nrm(vec_id, nrm)` surface as
    * lshBucketCte so the recall body composes over either index. */
  private[queries] val rpBucketCte: String = {
    import graft.operators.Similarity.{lshDims, planeWeight, rpSeedOffset}
    val planeRows = (0 until 16).map { p =>
      val wl = (0 until lshDims)
        .map(d => planeWeight(rpSeedOffset + p, d).toFloat.toDouble.toString)
        .mkString("[", ", ", "]")
      s"($p, ${1L << p}, $wl)"
    }.mkString(", ")
    s"""rplanes(p, pw, wl) AS (VALUES $planeRows),
        rpv AS (SELECT e.vec_id, pl.pw,
                  round(list_sum(list_transform(range(1, ${lshDims + 1}),
                    i -> CAST(e.embedding[i] AS DOUBLE) * pl.wl[i])) * 0.25, 6) AS v
                FROM embeddings e CROSS JOIN rplanes pl),
        bk AS (SELECT vec_id,
                      CAST(sum(CASE WHEN v >= 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
               FROM rpv GROUP BY vec_id),
        nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM
                  (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
                GROUP BY vec_id)"""
  }

  /** Recall@k of a bucketed ANN index vs exact brute force over the
    * query set, parameterized by the index's bucket CTEs (`bucketCtes`
    * must define `bk(vec_id, bucket)` and `nrm(vec_id, nrm)`) —
    * shared by sim_ann_recall (full-dim sign-LSH) and sim_rp_ann
    * (JL-projected sign-LSH); candidates join on the bucket, rerank
    * is exact full-dimension cosine in both. */
  private[queries] def annRecallSql(bucketCtes: String, rel: String = "embeddings",
                           tailCtes: String = "", extraSelect: String = ""): String =
    s"""WITH $bucketCtes,
        ep AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      q.embedding AS ea, c.embedding AS eb
               FROM $rel q JOIN $rel c ON q.vec_id <> c.vec_id
               WHERE q.vec_id < $annQueries),
        eu AS (SELECT query_id, neighbor_id, CAST(unnest(ea) AS DOUBLE) AS x,
                      CAST(unnest(eb) AS DOUBLE) AS y FROM ep),
        ed AS (SELECT query_id, neighbor_id, sum(x*y) AS dp FROM eu
               GROUP BY query_id, neighbor_id),
        es AS (SELECT query_id, neighbor_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
               FROM ed JOIN nrm na ON query_id = na.vec_id
                       JOIN nrm nb ON neighbor_id = nb.vec_id),
        exact_rk AS (SELECT query_id, neighbor_id FROM
                       (SELECT query_id, neighbor_id,
                               row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rk FROM es)
                     WHERE rk <= $annK),
        ap AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      qe.embedding AS ea, ce.embedding AS eb
               FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
               JOIN $rel qe ON qe.vec_id = q.vec_id
               JOIN $rel ce ON ce.vec_id = c.vec_id
               WHERE q.vec_id < $annQueries),
        au AS (SELECT query_id, neighbor_id, CAST(unnest(ea) AS DOUBLE) AS x,
                      CAST(unnest(eb) AS DOUBLE) AS y FROM ap),
        ad AS (SELECT query_id, neighbor_id, sum(x*y) AS dp FROM au
               GROUP BY query_id, neighbor_id),
        asq AS (SELECT query_id, neighbor_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
                FROM ad JOIN nrm na ON query_id = na.vec_id
                        JOIN nrm nb ON neighbor_id = nb.vec_id),
        ann_rk AS (SELECT query_id, neighbor_id FROM
                     (SELECT query_id, neighbor_id,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rk FROM asq)
                   WHERE rk <= $annK),
        hits AS (SELECT e.query_id, count(*) AS hits FROM exact_rk e
                 WHERE EXISTS (SELECT 1 FROM ann_rk a
                               WHERE a.query_id = e.query_id
                                 AND a.neighbor_id = e.neighbor_id)
                 GROUP BY e.query_id)$tailCtes
        SELECT round(CAST(sum(hits) AS BIGINT) / ${annK * annQueries}.0, 4) AS recall_at_k,
               count(*) AS queries_with_hits$extraSelect
        FROM hits"""

  /** Bucket-candidate → exact-cosine rerank (mirrors the shared tail
    * of Similarity.lshAnn / lshAnnMultiProbe). `candCte` must define
    * `cand(query_id, neighbor_id, ea, eb)`. */
  /** sim_mutual_match replay: the same literal-plane buckets/norms as
    * every LSH oracle, the even/odd candidate join, exact cosine at
    * 6dp, and row_number in BOTH directions — mutual = both ranks 1,
    * tie-breaks mirroring the Spark windows (other-side id asc). */
  /** Shared even/odd cross-corpus candidate chain (buckets, pair
    * join, exact 6dp cosine) — the base of both alignment oracles.
    * Replays the hot-bucket cap exactly: per-bucket side counts,
    * nsub = ceil(max/cap), and the same-id-residue slice predicate
    * restricting the pair join. */
  private[queries] val crossScoredCtes: String =
    s"""$lshBucketCte,
        bcnt AS (SELECT bucket,
                        sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
                        sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS nb
                 FROM bk GROUP BY bucket),
        ns AS (SELECT bucket,
                      CAST(ceil(greatest(na, nb) / ${alignMaxBucket.toDouble}) AS BIGINT) AS nsub
               FROM bcnt),
        cand AS (SELECT ba.vec_id AS a_id, bb.vec_id AS b_id,
                        ea.embedding AS ea, eb.embedding AS eb
                 FROM bk ba JOIN bk bb ON ba.bucket = bb.bucket
                 JOIN ns ON ns.bucket = ba.bucket
                 JOIN embeddings ea ON ea.vec_id = ba.vec_id
                 JOIN embeddings eb ON eb.vec_id = bb.vec_id
                 WHERE ba.vec_id % 2 = 0 AND bb.vec_id % 2 = 1
                   AND CAST(('0x' || substr(md5(CAST(ba.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % ns.nsub
                     = CAST(('0x' || substr(md5(CAST(bb.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % ns.nsub),
        u AS (SELECT a_id, b_id, CAST(unnest(ea) AS DOUBLE) AS x,
                     CAST(unnest(eb) AS DOUBLE) AS y FROM cand),
        d AS (SELECT a_id, b_id, sum(x*y) AS dp FROM u GROUP BY a_id, b_id),
        scored AS (SELECT a_id, b_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
                   FROM d JOIN nrm na ON a_id = na.vec_id
                          JOIN nrm nb ON b_id = nb.vec_id)"""

  private[queries] val mutualMatchOracle: String =
    s"""WITH $crossScoredCtes,
        ranked AS (SELECT a_id, b_id, cos,
                          row_number() OVER (PARTITION BY a_id
                            ORDER BY cos DESC, b_id) AS fr,
                          row_number() OVER (PARTITION BY b_id
                            ORDER BY cos DESC, a_id) AS br
                   FROM scored)
        SELECT a_id, b_id, cos FROM ranked WHERE fr = 1 AND br = 1"""

  /** sim_margin_match replay: integer micro cosines, both per-side
    * top-k sums, and the exact-integer ratio algebra (all operands
    * < 2⁵³, so the IEEE division is value-identical in both
    * engines). */
  private[queries] def marginMatchOracle: String = {
    val k = marginK
    val denom = "(na.sum_a * nb.n_b + nb.sum_b * na.n_a)"
    val margin = s"round(1e6 * ra.cu * 2 * na.n_a * nb.n_b / $denom)"
    s"""WITH $crossScoredCtes,
        cu AS (SELECT a_id, b_id, cos,
                      CAST(round(cos * 1e6) AS BIGINT) AS cu FROM scored),
        ra AS (SELECT a_id, b_id, cos, cu,
                 row_number() OVER (PARTITION BY a_id
                   ORDER BY cu DESC, b_id) AS rn_a,
                 row_number() OVER (PARTITION BY b_id
                   ORDER BY cu DESC, a_id) AS rn_b
               FROM cu),
        na AS (SELECT a_id, CAST(sum(cu) AS BIGINT) AS sum_a,
                      CAST(count(*) AS BIGINT) AS n_a
               FROM ra WHERE rn_a <= $k GROUP BY a_id),
        nb AS (SELECT b_id, CAST(sum(cu) AS BIGINT) AS sum_b,
                      CAST(count(*) AS BIGINT) AS n_b
               FROM ra WHERE rn_b <= $k GROUP BY b_id)
        SELECT ra.a_id, ra.b_id, ra.cos,
               CAST($margin AS BIGINT) AS margin_micro
        FROM ra JOIN na ON na.a_id = ra.a_id
                JOIN nb ON nb.b_id = ra.b_id
        WHERE ra.rn_a = 1 AND $denom > 0
          AND $margin >= $marginThresholdMicro"""
  }

  private[queries] def lshRerankSql(candCte: String): String =
    s"""WITH $lshBucketCte,
        $candCte,
        u AS (SELECT query_id, neighbor_id, CAST(unnest(ea) AS DOUBLE) AS x,
                     CAST(unnest(eb) AS DOUBLE) AS y FROM cand),
        d AS (SELECT query_id, neighbor_id, sum(x*y) AS dp FROM u
              GROUP BY query_id, neighbor_id),
        scored AS (SELECT query_id, neighbor_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
                   FROM d JOIN nrm na ON query_id = na.vec_id
                          JOIN nrm nb ON neighbor_id = nb.vec_id),
        ranked AS (SELECT query_id, neighbor_id, cos,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rk
                   FROM scored)
        SELECT query_id, neighbor_id, cos, rk FROM ranked WHERE rk <= $annK"""

  private[queries] val langHitsSql: Seq[(String, String)] =
    TextAnalysis.langProfiles.map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"len(list_filter(toks, x -> list_contains($lst, x)))"
    }

  /** ds_rag replay: the ds_chunk window arithmetic keyed into packed
    * chunk ids, the signed feature-hash embedding (md5 bucket + sign
    * bit 6), then the literal-plane sign-LSH bucket join and exact
    * cosine rerank — the full corpus→index→probe composition in one
    * CTE chain. */
  private[queries] def ragCtes: String = {
    import graft.operators.Similarity.{lshDims, lshPlanes, planeWeight}
    val base = graft.operators.Rag.chunkKeyBase
    val c = chunkTokens; val st = chunkTokens - chunkOverlap
    val planeRows = (0 until lshPlanes).map { p =>
      val wl = (0 until lshDims)
        .map(d => planeWeight(p, d).toFloat.toDouble.toString)
        .mkString("[", ", ", "]")
      s"($p, ${1L << p}, $wl)"
    }.mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        n AS (SELECT doc_id, toks,
                CASE WHEN len(toks) <= $c THEN 1
                     ELSE (len(toks) - $c + ${st - 1}) // $st + 1 END AS nc FROM d),
        ch AS (SELECT doc_id * $base + k AS vec_id,
                      array_to_string(toks[k*$st+1 : k*$st+$c], ' ') AS text
               FROM n, unnest(range(0, nc)) t(k)),
        qry AS (SELECT -(doc_id + 1) AS vec_id, text FROM documents
                WHERE doc_id < $ragQueries),
        allv AS (SELECT * FROM ch UNION ALL SELECT * FROM qry),
        tok AS (SELECT vec_id, unnest(string_split(text, ' ')) AS token FROM allv),
        th AS (SELECT vec_id,
                 CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h FROM tok),
        sg AS (SELECT vec_id, h % $lshDims AS dd,
                      CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn FROM th),
        ag AS (SELECT vec_id, dd, sum(sgn) AS v FROM sg GROUP BY vec_id, dd),
        dims AS (SELECT t.vec_id, r.dd, coalesce(a.v, 0.0) AS v
                 FROM (SELECT DISTINCT vec_id FROM allv) t
                 CROSS JOIN range(0, $lshDims) r(dd)
                 LEFT JOIN ag a ON a.vec_id = t.vec_id AND a.dd = r.dd),
        emb AS MATERIALIZED (SELECT vec_id,
                 list(CAST(CAST(v AS FLOAT) AS DOUBLE) ORDER BY dd) AS v
               FROM dims GROUP BY vec_id),
        planes(p, pw, wl) AS (VALUES $planeRows),
        pd AS (SELECT e.vec_id, pl.pw,
                 list_sum(list_transform(range(1, ${lshDims + 1}),
                   i -> e.v[i] * pl.wl[i])) AS dp
               FROM emb e CROSS JOIN planes pl),
        bk AS (SELECT vec_id,
                 CAST(sum(CASE WHEN dp >= 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
               FROM pd GROUP BY vec_id),
        nrm AS (SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                FROM emb),
        cand AS (SELECT q.vec_id AS qid, cc.vec_id AS nid
                 FROM bk q JOIN bk cc ON q.bucket = cc.bucket
                 WHERE q.vec_id < 0 AND cc.vec_id >= 0),
        scored AS (SELECT qid, nid,
                     round(list_sum(list_transform(range(1, ${lshDims + 1}),
                       i -> qe.v[i] * ce.v[i])) / (nq.nrm * nc2.nrm), 6) AS cos
                   FROM cand JOIN emb qe ON qe.vec_id = qid
                        JOIN emb ce ON ce.vec_id = nid
                        JOIN nrm nq ON nq.vec_id = qid
                        JOIN nrm nc2 ON nc2.vec_id = nid),
        ranked AS (SELECT qid, nid, cos,
                     CAST(row_number() OVER (PARTITION BY qid
                       ORDER BY cos DESC, nid) AS BIGINT) AS rk
                   FROM scored)"""
  }

  private[queries] val ragOracle: String = {
    val base = graft.operators.Rag.chunkKeyBase
    s"""$ragCtes
        SELECT -qid - 1 AS query_doc, nid // $base AS src_doc,
               nid % $base AS chunk_id, cos, rk
        FROM ranked WHERE rk <= $annK"""
  }

  /** Recall of the bucketed retrieval vs the exact full-scan rank over
    * the same chunk embeddings — the quality closure for ds_rag, same
    * contract as the other recall rows. */
  private[queries] val ragRecallOracle: String = {
    import graft.operators.Similarity.lshDims
    s"""$ragCtes,
        exact_s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                      round(list_sum(list_transform(range(1, ${lshDims + 1}),
                        i -> a.v[i] * b.v[i])) / (na.nrm * nb.nrm), 6) AS cos
                    FROM emb a JOIN emb b ON a.vec_id < 0 AND b.vec_id >= 0
                    JOIN nrm na ON na.vec_id = a.vec_id
                    JOIN nrm nb ON nb.vec_id = b.vec_id),
        exact_rk AS (SELECT qid, nid FROM (SELECT qid, nid,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, nid) AS rk
                     FROM exact_s) WHERE rk <= $annK),
        lsh_rk AS (SELECT qid, nid FROM ranked WHERE rk <= $annK),
        j AS (SELECT e.qid FROM exact_rk e
              JOIN lsh_rk a ON a.qid = e.qid AND a.nid = e.nid),
        g AS (SELECT qid, count(*) AS hits FROM j GROUP BY qid)
        SELECT round(sum(hits) * 1.0 / ($annK * $ragQueries), 4) AS recall_at_k,
               count(*) AS queries_with_hits FROM g"""
  }

  /** Greedy allocation as a DuckDB RECURSIVE CTE: one recursion step
    * per in-product sequence position (bulk across products), exactly
    * the operator's sequential semantics — recursion depth = the
    * longest per-product demand sequence. */
  private[queries] val allocOracle: String =
    """WITH RECURSIVE demand AS (
         SELECT l_partkey AS product_id, CAST(l_quantity AS BIGINT) AS qty,
                p_size * 100 AS opening,
                row_number() OVER (PARTITION BY l_partkey
                  ORDER BY CAST(strftime(l_shipdate, '%Y%m%d') AS INT),
                           l_orderkey, l_linenumber) AS rn
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       rec AS (
         SELECT product_id, rn,
                CASE WHEN opening >= qty THEN qty ELSE 0 END AS filled,
                opening - CASE WHEN opening >= qty THEN qty ELSE 0 END AS remaining
         FROM demand WHERE rn = 1
         UNION ALL
         SELECT b.product_id, b.rn,
                CASE WHEN r.remaining >= b.qty THEN b.qty ELSE 0 END,
                r.remaining - CASE WHEN r.remaining >= b.qty THEN b.qty ELSE 0 END
         FROM rec r JOIN demand b
           ON b.product_id = r.product_id AND b.rn = r.rn + 1)
       SELECT product_id, CAST(sum(filled) AS BIGINT) AS filled_qty,
              CAST(sum(CASE WHEN filled = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cancelled_lines,
              count(*) AS total_lines
       FROM rec GROUP BY product_id"""

  /** sim_ivf_kmeans replayed end-to-end: Lloyd's loop UNROLLED as one
    * CTE block per iteration (assign → recenter), mirroring
    * Similarity.lloydTrain exactly — same init (k lowest vec_ids),
    * same 6dp-rounded cosine distance and tie-break, same 6dp-rounded
    * per-dimension means, same empty-cluster carry-forward — then a
    * final assignment with the trained centroids. */
  /** The full CTE chain of the unrolled Lloyd replay, up to and
    * including the final assignment `a_f(vec_id, cid)` (plus
    * `en(vec_id, v, nrm)` for downstream math) — shared by the
    * sim_ivf_kmeans oracle and the IVF-blocked dedup oracle. */
  private[queries] val lloydCtes: String = lloydCtesFrom("TRUE")

  /** Same unrolled Lloyd replay over a filtered training source —
    * the incremental-embedding oracle trains on the corpus side only
    * (`vec_id % 10 <> 7`), exactly as the Spark side does. */
  private[queries] def lloydCtesFrom(trainWhere: String): String = {
    import graft.operators.Similarity.lshDims
    val k = lloydK
    def assign(cents: String, out: String): String =
      s"""d_$out AS (SELECT en.vec_id, c.cid,
                round(1.0 - list_sum(list_transform(range(1, ${lshDims + 1}),
                        i -> en.v[i] * c.cent[i]))
                      / (en.nrm * sqrt(list_sum(list_transform(c.cent, x -> x*x)))), 6) AS dist
              FROM en CROSS JOIN $cents c),
          a_$out AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist, cid) AS rk FROM d_$out) WHERE rk = 1)"""
    def recenter(prev: String, assigned: String, out: String): String =
      s"""m_$out AS (SELECT a.cid, t.i, CAST(round(sum(CAST(round(en.v[t.i] * 1000000) AS BIGINT)) * 1.0
                   / count(*)) AS BIGINT) / 1000000.0 AS val
              FROM $assigned a JOIN en ON en.vec_id = a.vec_id
              CROSS JOIN range(1, ${lshDims + 1}) t(i)
              GROUP BY a.cid, t.i),
          g_$out AS (SELECT cid, list(val ORDER BY i) AS cent FROM m_$out GROUP BY cid),
          $out AS (SELECT p.cid, coalesce(n.cent, p.cent) AS cent
                   FROM $prev p LEFT JOIN g_$out n ON n.cid = p.cid)"""
    val iterBlocks = (1 to lloydIters).map { it =>
      assign(s"c${it - 1}", s"$it") + ",\n" + recenter(s"c${it - 1}", s"a_$it", s"c$it")
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings WHERE $trainWhere),
        en AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
        c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v AS cent
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k)),
        $iterBlocks,
        ${assign(s"c$lloydIters", "f")}"""
  }

  private[queries] val lloydOracle: String =
    s"""WITH $lloydCtes
        SELECT cid AS centroid_id, count(*) AS n_vectors FROM a_f GROUP BY cid"""

  /** Per-subspace Lloyd replay for PQ: the same unrolled
    * assign/recenter blocks as lloydCtesFrom, prefixed `s<n>_` and
    * running over the 16-dim slice — codebooks and code assignments
    * replay exactly. */
  private[queries] def pqLloydCtes(sub: Int): String = {
    val p = s"s${sub}_"
    val dims = graft.operators.Similarity.lshDims / pqM
    val lo = sub * dims + 1
    val hi = (sub + 1) * dims
    def assign(cents: String, out: String): String =
      s"""${p}d_$out AS (SELECT en.vec_id, c.cid,
                round(1.0 - list_sum(list_transform(range(1, ${dims + 1}),
                        i -> en.v[i] * c.cent[i]))
                      / (en.nrm * sqrt(list_sum(list_transform(c.cent, x -> x*x)))), 6) AS dist
              FROM ${p}en en CROSS JOIN $cents c),
          ${p}a_$out AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist, cid) AS rk FROM ${p}d_$out) WHERE rk = 1)"""
    def recenter(prev: String, assigned: String, out: String): String =
      s"""${p}m_$out AS (SELECT a.cid, t.i, CAST(round(sum(CAST(round(en.v[t.i] * 1000000) AS BIGINT)) * 1.0
                   / count(*)) AS BIGINT) / 1000000.0 AS val
              FROM $assigned a JOIN ${p}en en ON en.vec_id = a.vec_id
              CROSS JOIN range(1, ${dims + 1}) t(i)
              GROUP BY a.cid, t.i),
          ${p}g_$out AS (SELECT cid, list(val ORDER BY i) AS cent
                         FROM ${p}m_$out GROUP BY cid),
          $out AS (SELECT pp.cid, coalesce(n.cent, pp.cent) AS cent
                   FROM $prev pp LEFT JOIN ${p}g_$out n ON n.cid = pp.cid)"""
    val iterBlocks = (1 to pqIters).map { it =>
      assign(s"${p}c${it - 1}", s"$it") + ",\n" +
        recenter(s"${p}c${it - 1}", s"${p}a_$it", s"${p}c$it")
    }.mkString(",\n")
    s"""${p}e AS (SELECT vec_id,
                list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        ${p}en AS (SELECT vec_id, v,
                sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM ${p}e),
        ${p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                v AS cent
               FROM (SELECT vec_id, v FROM ${p}e ORDER BY vec_id LIMIT $pqK)),
        $iterBlocks,
        ${assign(s"${p}c$pqIters", "f")}"""
  }

  private[queries] val pqCodesOracle: String = {
    val ctes = (0 until pqM).map(pqLloydCtes).mkString(",\n")
    val sel = (0 until pqM)
      .map(s => s"SELECT vec_id, CAST($s AS BIGINT) AS subspace, cid AS code FROM s${s}_a_f")
      .mkString(" UNION ALL ")
    s"WITH $ctes $sel"
  }

  private[queries] val pqAdcOracle: String = {
    val dims = graft.operators.Similarity.lshDims / pqM
    val ctes = (0 until pqM).map(pqLloydCtes).mkString(",\n")
    val codeSel = (0 until pqM)
      .map(s => s"SELECT vec_id, CAST($s AS BIGINT) AS subspace, cid AS code FROM s${s}_a_f")
      .mkString(" UNION ALL ")
    val bookSel = (0 until pqM)
      .map(s => s"SELECT CAST($s AS BIGINT) AS subspace, cid AS code, cent FROM s${s}_c$pqIters")
      .mkString(" UNION ALL ")
    s"""WITH $ctes,
        codes AS ($codeSel),
        books AS ($bookSel),
        q AS (SELECT vec_id AS query_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id < $annQueries),
        qs AS (SELECT q.query_id, b.subspace, b.code,
                 round(1.0 - list_sum(list_transform(range(1, ${dims + 1}),
                         i -> q.v[CAST(b.subspace * $dims AS INT) + i] * b.cent[i]))
                       / (sqrt(list_sum(list_transform(range(1, ${dims + 1}),
                            i -> q.v[CAST(b.subspace * $dims AS INT) + i]
                               * q.v[CAST(b.subspace * $dims AS INT) + i])))
                          * sqrt(list_sum(list_transform(b.cent, x -> x*x)))), 6) AS sd
               FROM q CROSS JOIN books b),
        pairs AS (SELECT qs.query_id, c.vec_id AS neighbor_id,
                         sum(CAST(round(qs.sd * 1000000) AS BIGINT)) / 1000000.0
                           AS adc_dist
                  FROM codes c JOIN qs ON qs.subspace = c.subspace
                                      AND qs.code = c.code
                  WHERE qs.query_id <> c.vec_id
                  GROUP BY qs.query_id, c.vec_id),
        rk AS (SELECT query_id, neighbor_id, adc_dist,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rk
               FROM pairs)
        SELECT query_id, neighbor_id, adc_dist, rk FROM rk WHERE rk <= $annK"""
  }

  private[queries] val pqRecallOracle: String = {
    // strip pqAdcOracle down to its CTE chain and intersect with the
    // exact brute-force top-k
    val adcBody = pqAdcOracle.stripPrefix("WITH ")
      .replace(s"SELECT query_id, neighbor_id, adc_dist, rk FROM rk WHERE rk <= $annK", "")
      .trim
    s"""WITH $adcBody,
        adc AS (SELECT query_id, neighbor_id FROM rk WHERE rk <= $annK),
        n2 AS (SELECT vec_id,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
               FROM embeddings),
        ep AS (SELECT q2.vec_id AS query_id, c2.vec_id AS neighbor_id,
                      q2.embedding AS ea, c2.embedding AS eb
               FROM embeddings q2 JOIN embeddings c2 ON q2.vec_id <> c2.vec_id
               WHERE q2.vec_id < $annQueries),
        eu AS (SELECT query_id, neighbor_id, CAST(unnest(ea) AS DOUBLE) AS x,
                      CAST(unnest(eb) AS DOUBLE) AS y FROM ep),
        ed AS (SELECT query_id, neighbor_id, sum(x*y) AS dp FROM eu
               GROUP BY query_id, neighbor_id),
        es AS (SELECT query_id, neighbor_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
               FROM ed JOIN n2 na ON query_id = na.vec_id
                       JOIN n2 nb ON neighbor_id = nb.vec_id),
        exact_rk AS (SELECT query_id, neighbor_id FROM
                       (SELECT query_id, neighbor_id,
                               row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rk FROM es)
                     WHERE rk <= $annK),
        j AS (SELECT e.query_id FROM exact_rk e
              JOIN adc a ON a.query_id = e.query_id
                        AND a.neighbor_id = e.neighbor_id),
        g AS (SELECT query_id, count(*) AS hits FROM j GROUP BY query_id)
        SELECT round(sum(hits) * 1.0 / ($annK * $annQueries), 4) AS recall_at_k,
               count(*) AS queries_with_hits FROM g"""
  }

  /** IVF-PQ replay. The coarse half reuses lloydCtes verbatim (same
    * 4-cell/4-iteration cosine loop as sim_ivf_kmeans — a_f is the
    * cell assignment, d_f every vector×cell distance, c4 the trained
    * centroids); residuals are 6dp-pinned differences; each residual
    * codebook unrolls the squared-L2 Lloyd loop over its 16-dim
    * slice, prefixed r<n>_. */
  private[queries] def ivfPqResCtes: String = {
    import graft.operators.Similarity.lshDims
    // MATERIALIZED: res is referenced by all m subspace chains (each
    // several times); inlined, DuckDB would re-evaluate the whole
    // coarse Lloyd chain per reference — same blow-up the BPE replay
    // hit, same fix
    s"""res AS MATERIALIZED (SELECT a.vec_id, a.cid AS cell,
              list_transform(range(1, ${lshDims + 1}),
                i -> round(en.v[i] - c.cent[i], 6)) AS v
            FROM a_f a JOIN en ON en.vec_id = a.vec_id
            JOIN c$lloydIters c ON c.cid = a.cid)"""
  }

  private[queries] def ivfPqSubCtes(sub: Int): String = {
    val p = s"r${sub}_"
    val dims = graft.operators.Similarity.lshDims / pqM
    val lo = sub * dims + 1
    val hi = (sub + 1) * dims
    def assign(cents: String, out: String): String =
      s"""${p}d_$out AS (SELECT e.vec_id, c.cid,
                round(list_sum(list_transform(range(1, ${dims + 1}),
                        i -> (e.v[i] - c.cent[i]) * (e.v[i] - c.cent[i]))), 6) AS dist
              FROM ${p}e e CROSS JOIN $cents c),
          ${p}a_$out AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist, cid) AS rk FROM ${p}d_$out) WHERE rk = 1)"""
    def recenter(prev: String, assigned: String, out: String): String =
      s"""${p}m_$out AS (SELECT a.cid, t.i, CAST(round(sum(CAST(round(e.v[t.i] * 1000000) AS BIGINT)) * 1.0
                   / count(*)) AS BIGINT) / 1000000.0 AS val
              FROM $assigned a JOIN ${p}e e ON e.vec_id = a.vec_id
              CROSS JOIN range(1, ${dims + 1}) t(i)
              GROUP BY a.cid, t.i),
          ${p}g_$out AS (SELECT cid, list(val ORDER BY i) AS cent
                         FROM ${p}m_$out GROUP BY cid),
          $out AS (SELECT pp.cid, coalesce(n.cent, pp.cent) AS cent
                   FROM $prev pp LEFT JOIN ${p}g_$out n ON n.cid = pp.cid)"""
    val iterBlocks = (1 to pqIters).map { it =>
      assign(s"${p}c${it - 1}", s"$it") + ",\n" +
        recenter(s"${p}c${it - 1}", s"${p}a_$it", s"${p}c$it")
    }.mkString(",\n")
    s"""${p}e AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM res),
        ${p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                v AS cent
               FROM (SELECT vec_id, v FROM ${p}e ORDER BY vec_id LIMIT $pqK)),
        $iterBlocks,
        ${assign(s"${p}c$pqIters", "f")}"""
  }

  private[queries] def ivfPqCodesCtes: String = {
    val subCtes = (0 until pqM).map(ivfPqSubCtes).mkString(",\n")
    val codeSel = (0 until pqM)
      .map(s => s"SELECT vec_id, CAST($s AS BIGINT) AS subspace, cid AS code FROM r${s}_a_f")
      .mkString(" UNION ALL ")
    s"""$lloydCtes,
        $ivfPqResCtes,
        $subCtes,
        pqcodes AS ($codeSel),
        cellcodes AS (SELECT pc.vec_id, r.cell AS centroid_id, pc.subspace, pc.code
                      FROM pqcodes pc JOIN res r ON r.vec_id = pc.vec_id)"""
  }

  private[queries] val ivfPqCodesOracle: String =
    s"""WITH $ivfPqCodesCtes
        SELECT vec_id, centroid_id, subspace, code FROM cellcodes"""

  private[queries] val ivfPqAdcOracle: String = {
    import graft.operators.Similarity.lshDims
    val dims = lshDims / pqM
    val bookSel = (0 until pqM)
      .map(s => s"SELECT CAST($s AS BIGINT) AS subspace, cid AS code, cent FROM r${s}_c$pqIters")
      .mkString(" UNION ALL ")
    s"""WITH $ivfPqCodesCtes,
        books AS ($bookSel),
        probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
                    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist, cid) AS crk
                    FROM d_f WHERE vec_id < $annQueries)
                  WHERE crk <= $ivfpqNprobe),
        qres AS (SELECT p.query_id, p.cell,
                   list_transform(range(1, ${lshDims + 1}),
                     i -> round(en.v[i] - c.cent[i], 6)) AS v
                 FROM probe p JOIN en ON en.vec_id = p.query_id
                 JOIN c$lloydIters c ON c.cid = p.cell),
        qs AS (SELECT q.query_id, q.cell, b.subspace, b.code,
                 round(list_sum(list_transform(range(1, ${dims + 1}),
                   i -> (q.v[CAST(b.subspace * $dims AS INT) + i] - b.cent[i])
                      * (q.v[CAST(b.subspace * $dims AS INT) + i] - b.cent[i]))), 6) AS sd
               FROM qres q CROSS JOIN books b),
        pairs AS (SELECT qs.query_id, cc.vec_id AS neighbor_id,
                         sum(CAST(round(qs.sd * 1000000) AS BIGINT)) / 1000000.0
                           AS adc_dist
                  FROM cellcodes cc JOIN qs ON qs.cell = cc.centroid_id
                                           AND qs.subspace = cc.subspace
                                           AND qs.code = cc.code
                  WHERE qs.query_id <> cc.vec_id
                  GROUP BY qs.query_id, cc.vec_id),
        rk AS (SELECT query_id, neighbor_id, adc_dist,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rk
               FROM pairs)
        SELECT query_id, neighbor_id, adc_dist, rk FROM rk WHERE rk <= $annK"""
  }

  private[queries] val ivfPqRecallOracle: String = {
    val adcBody = ivfPqAdcOracle.stripPrefix("WITH ")
      .replace(s"SELECT query_id, neighbor_id, adc_dist, rk FROM rk WHERE rk <= $annK", "")
      .trim
    s"""WITH $adcBody,
        adc AS (SELECT query_id, neighbor_id FROM rk WHERE rk <= $annK),
        n2 AS (SELECT vec_id,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
               FROM embeddings),
        ep AS (SELECT q2.vec_id AS query_id, c2.vec_id AS neighbor_id,
                      q2.embedding AS ea, c2.embedding AS eb
               FROM embeddings q2 JOIN embeddings c2 ON q2.vec_id <> c2.vec_id
               WHERE q2.vec_id < $annQueries),
        eu AS (SELECT query_id, neighbor_id, CAST(unnest(ea) AS DOUBLE) AS x,
                      CAST(unnest(eb) AS DOUBLE) AS y FROM ep),
        ed AS (SELECT query_id, neighbor_id, sum(x*y) AS dp FROM eu
               GROUP BY query_id, neighbor_id),
        es AS (SELECT query_id, neighbor_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
               FROM ed JOIN n2 na ON query_id = na.vec_id
                       JOIN n2 nb ON neighbor_id = nb.vec_id),
        exact_rk AS (SELECT query_id, neighbor_id FROM
                       (SELECT query_id, neighbor_id,
                               row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rk FROM es)
                     WHERE rk <= $annK),
        j AS (SELECT e.query_id FROM exact_rk e
              JOIN adc a ON a.query_id = e.query_id
                        AND a.neighbor_id = e.neighbor_id),
        g AS (SELECT query_id, count(*) AS hits FROM j GROUP BY query_id)
        SELECT round(sum(hits) * 1.0 / ($annK * $annQueries), 4) AS recall_at_k,
               count(*) AS queries_with_hits FROM g"""
  }

  /** dd_embed_ivf replay: the trained assignment blocks the pair
    * join, then the same 6dp cosine + threshold as dd_embed_neardups
    * — en already carries each vector (double) and its norm. */
  private[queries] val embedIvfOracle: String = {
    import graft.operators.Similarity.lshDims
    s"""WITH $lloydCtes,
        pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
               FROM a_f a JOIN a_f b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        sc AS (SELECT pr.id_a, pr.id_b,
                      round(list_sum(list_transform(range(1, ${lshDims + 1}),
                              i -> ea.v[i] * eb.v[i])) / (ea.nrm * eb.nrm), 6) AS cos
               FROM pr JOIN en ea ON ea.vec_id = pr.id_a
                       JOIN en eb ON eb.vec_id = pr.id_b)
        SELECT id_a, id_b, cos FROM sc WHERE cos >= $cosineThreshold"""
  }

  /** Sampled-quantizer replay chain (the semDedupSampled posture):
    * the unrolled Lloyd loop TRAINS on the deterministic md5-hash
    * slice only (lloydCtesFrom over the slice predicate — same
    * tokenHash algebra as ds_split), then a trailing block assigns
    * the FULL corpus against the trained centroids. Yields
    * `alln(vec_id, v, nrm)` plus `d_all`/`a_all` — the full-corpus
    * twins of en/d_f/a_f. */
  private[queries] val lloydSampledCtes: String = {
    import graft.operators.Similarity.lshDims
    val samplePred =
      s"CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % $semdedupSampleMod = 0"
    s"""${lloydCtesFrom(samplePred)},
        alle AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
        alln AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                 FROM alle),
        d_all AS (SELECT alln.vec_id, c.cid,
                  round(1.0 - list_sum(list_transform(range(1, ${lshDims + 1}),
                          i -> alln.v[i] * c.cent[i]))
                        / (alln.nrm * sqrt(list_sum(list_transform(c.cent, x -> x*x)))), 6) AS dist
                FROM alln CROSS JOIN c$lloydIters c),
        a_all AS (SELECT vec_id, cid FROM (
              SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist, cid) AS rk FROM d_all) WHERE rk = 1)"""
  }

  /** dd_semdedup replay: the sampled-quantizer chain plus the
    * dominance verdict — each vector's assignment distance comes off
    * the full-corpus assign block (d_all ⋈ a_all), the pair's loser
    * is the centroid-CLOSER member (ties → the higher id loses, since
    * id_a < id_b and the lower id keeps). */
  private[queries] val semdedupOracle: String = {
    import graft.operators.Similarity.lshDims
    s"""WITH $lloydSampledCtes,
        ad AS (SELECT a.vec_id, a.cid, d.dist
               FROM a_all a JOIN d_all d ON d.vec_id = a.vec_id AND d.cid = a.cid),
        pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
               FROM a_all a JOIN a_all b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        sc AS (SELECT pr.id_a, pr.id_b,
                      round(list_sum(list_transform(range(1, ${lshDims + 1}),
                              i -> ea.v[i] * eb.v[i])) / (ea.nrm * eb.nrm), 6) AS cos
               FROM pr JOIN alln ea ON ea.vec_id = pr.id_a
                       JOIN alln eb ON eb.vec_id = pr.id_b),
        near AS (SELECT id_a, id_b FROM sc WHERE cos >= $cosineThreshold),
        losers AS (SELECT DISTINCT CASE WHEN da.dist >= db.dist
                          THEN near.id_b ELSE near.id_a END AS vec_id
                   FROM near JOIN ad da ON da.vec_id = near.id_a
                             JOIN ad db ON db.vec_id = near.id_b)
        SELECT ad.vec_id, ad.cid AS centroid_id, ad.dist,
               ad.vec_id NOT IN (SELECT vec_id FROM losers) AS kept
        FROM ad"""
  }

  /** sim_embed_outliers replay: micro distances, per-cell integer
    * moment sums in HUGEINT, and the cross-multiplied 3σ test —
    * zero float statistics on either side. */
  private[queries] val embedOutliersOracle: String = {
    val dev = "(st.n * du.du - st.s1)"
    s"""WITH $lloydCtes,
        ad AS (SELECT a.vec_id, a.cid, d.dist
               FROM a_f a JOIN d_f d ON d.vec_id = a.vec_id AND d.cid = a.cid),
        du AS (SELECT vec_id, cid, dist,
                      CAST(round(dist * 1e6) AS BIGINT) AS du FROM ad),
        st AS (SELECT cid, CAST(count(*) AS HUGEINT) AS n,
                      CAST(sum(du) AS HUGEINT) AS s1,
                      CAST(sum(CAST(du AS HUGEINT) * du) AS HUGEINT) AS s2
               FROM du GROUP BY cid)
        SELECT du.vec_id, du.cid AS centroid_id, du.dist,
               $dev > 0 AND $dev * $dev > 9 * (st.n * st.s2 - st.s1 * st.s1)
                 AS is_outlier
        FROM du JOIN st ON st.cid = du.cid"""
  }

  /** dd_semdedup_capped replay: identical chain, but the pair join
    * additionally requires the same deterministic slice — nsub =
    * ceil(|cell| / maxCell) per cell, slice = md5-id-hash % nsub
    * (the tokenHash residue, same algebra as crossScoredCtes — raw-id
    * residues bias id-striped corpora, Similarity.crossScored's
    * rationale). */
  private[queries] val semdedupCappedOracle: String = {
    import graft.operators.Similarity.lshDims
    s"""WITH $lloydSampledCtes,
        ad AS (SELECT a.vec_id, a.cid, d.dist
               FROM a_all a JOIN d_all d ON d.vec_id = a.vec_id AND d.cid = a.cid),
        nsub AS (SELECT cid, CAST(ceil(count(*) / ${semdedupMaxCell.toDouble})
                            AS BIGINT) AS nsub
               FROM a_all GROUP BY cid),
        pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
               FROM a_all a JOIN a_all b ON a.cid = b.cid AND a.vec_id < b.vec_id
                    JOIN nsub ON nsub.cid = a.cid
               WHERE CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % nsub.nsub
                   = CAST(('0x' || substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % nsub.nsub),
        sc AS (SELECT pr.id_a, pr.id_b,
                      round(list_sum(list_transform(range(1, ${lshDims + 1}),
                              i -> ea.v[i] * eb.v[i])) / (ea.nrm * eb.nrm), 6) AS cos
               FROM pr JOIN alln ea ON ea.vec_id = pr.id_a
                       JOIN alln eb ON eb.vec_id = pr.id_b),
        near AS (SELECT id_a, id_b FROM sc WHERE cos >= $cosineThreshold),
        losers AS (SELECT DISTINCT CASE WHEN da.dist >= db.dist
                          THEN near.id_b ELSE near.id_a END AS vec_id
                   FROM near JOIN ad da ON da.vec_id = near.id_a
                             JOIN ad db ON db.vec_id = near.id_b)
        SELECT ad.vec_id, ad.cid AS centroid_id, ad.dist,
               ad.vec_id NOT IN (SELECT vec_id FROM losers) AS kept
        FROM ad"""
  }

  /** ds_bm25 replay: same micro-unit contribution algebra as
    * Rag.bm25TopK with constants interpolated from the identical
    * Scala vals (Double.toString round-trips, so both engines parse
    * the same IEEE literals); ranking via row_number replays the
    * bounded aggregate's (score DESC, doc_id ASC) order. */
  private[queries] val bm25Oracle: String =
    s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents)
               GROUP BY doc_id, term),
        dln AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
               FROM documents),
        st AS (SELECT count(*) AS n_docs,
                      CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dln),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qt AS (SELECT DISTINCT doc_id AS query_id, term
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents WHERE doc_id < $ragQueries)),
        sc AS (SELECT qt.query_id, tf.doc_id,
                      CAST(round(ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
                             * ((tf.tf * ${bm25K1 + 1.0})
                                / (tf.tf + $bm25K1 * (${1.0 - bm25B}
                                     + $bm25B * dln.dl / st.avgdl)))
                             * 1000000) AS BIGINT) AS c_u
               FROM qt JOIN dfr ON dfr.term = qt.term
                       JOIN tf ON tf.term = qt.term
                       JOIN dln ON dln.doc_id = tf.doc_id
                       CROSS JOIN st),
        agg AS (SELECT query_id, doc_id, CAST(sum(c_u) AS BIGINT) AS score_u
                FROM sc GROUP BY query_id, doc_id),
        rk AS (SELECT query_id, doc_id, score_u,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score_u DESC, doc_id) AS rank
               FROM agg)
        SELECT query_id, rank, doc_id, round(score_u / 1000000.0, 6) AS score
        FROM rk WHERE rank <= $annK"""

  /** ds_hybrid_rrf replay: the bm25Oracle chain ranked to its top-k,
    * the doc-level hash-embed + exact-cosine chain (ragCtes' embed
    * algebra without the chunking), and the two-term RRF sum over
    * the union of the lists. */
  private[queries] val hybridRrfOracle: String = {
    import graft.operators.Similarity.lshDims
    s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents)
               GROUP BY doc_id, term),
        dln AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
               FROM documents),
        st AS (SELECT count(*) AS n_docs,
                      CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dln),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qt AS (SELECT DISTINCT doc_id AS query_id, term
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents WHERE doc_id < $ragQueries)),
        sc AS (SELECT qt.query_id, tf.doc_id,
                      CAST(round(ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
                             * ((tf.tf * ${bm25K1 + 1.0})
                                / (tf.tf + $bm25K1 * (${1.0 - bm25B}
                                     + $bm25B * dln.dl / st.avgdl)))
                             * 1000000) AS BIGINT) AS c_u
               FROM qt JOIN dfr ON dfr.term = qt.term
                       JOIN tf ON tf.term = qt.term
                       JOIN dln ON dln.doc_id = tf.doc_id
                       CROSS JOIN st),
        agg AS (SELECT query_id, doc_id, CAST(sum(c_u) AS BIGINT) AS score_u
                FROM sc GROUP BY query_id, doc_id),
        lrk AS (SELECT query_id, doc_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score_u DESC, doc_id) AS lex_rank
               FROM agg),
        ltop AS (SELECT query_id, doc_id, lex_rank FROM lrk
                 WHERE lex_rank <= $annK),
        th AS (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents)),
        sgt AS (SELECT doc_id, h % $lshDims AS dd,
                      CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
                FROM th),
        agv AS (SELECT doc_id, dd, sum(sgn) AS v FROM sgt GROUP BY doc_id, dd),
        dims AS (SELECT t.doc_id, r.dd, coalesce(a.v, 0.0) AS v
                 FROM (SELECT doc_id FROM documents) t
                 CROSS JOIN range(0, $lshDims) r(dd)
                 LEFT JOIN agv a ON a.doc_id = t.doc_id AND a.dd = r.dd),
        emb2 AS MATERIALIZED (SELECT doc_id,
                 list(CAST(CAST(v AS FLOAT) AS DOUBLE) ORDER BY dd) AS v
               FROM dims GROUP BY doc_id),
        nrm2 AS (SELECT doc_id, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                 FROM emb2),
        vsc AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
                      round(list_sum(list_transform(range(1, ${lshDims + 1}),
                              i -> q.v[i] * c.v[i])) / (nq.nrm * nc2.nrm), 6) AS cos
                FROM emb2 q JOIN emb2 c ON c.doc_id <> q.doc_id
                     JOIN nrm2 nq ON nq.doc_id = q.doc_id
                     JOIN nrm2 nc2 ON nc2.doc_id = c.doc_id
                WHERE q.doc_id < $ragQueries),
        vrk AS (SELECT query_id, doc_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, doc_id) AS vec_rank
                FROM vsc),
        vtop AS (SELECT query_id, doc_id, vec_rank FROM vrk
                 WHERE vec_rank <= $annK),
        cand AS (SELECT query_id, doc_id FROM ltop
                 UNION SELECT query_id, doc_id FROM vtop),
        fused AS (SELECT cand.query_id, cand.doc_id,
                        coalesce(1.0 / ($rrfK0 + l.lex_rank), 0.0)
                          + coalesce(1.0 / ($rrfK0 + v.vec_rank), 0.0) AS rrf
                  FROM cand
                  LEFT JOIN ltop l ON l.query_id = cand.query_id
                                  AND l.doc_id = cand.doc_id
                  LEFT JOIN vtop v ON v.query_id = cand.query_id
                                  AND v.doc_id = cand.doc_id),
        frk AS (SELECT query_id, doc_id, rrf,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
                FROM fused)
        SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf_score
        FROM frk WHERE rank <= $annK"""
  }

  /** dd_incremental / dd_incremental_persisted replay: batch =
    * doc_id % 10 = 7; a batch doc loses to ANY corpus doc and to
    * EARLIER batch docs only — exact (md5) or LSH-proposed +
    * exact-Jaccard-verified, mirroring Dedup.incremental. The
    * persisted form runs the identical algebra over stored index
    * tables, so both keys share this oracle. */
  private[queries] val incrementalOracle: String =
    s"""WITH $lshBandsCte,
        sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
        cand AS (SELECT DISTINCT b.doc_id AS bid, o.doc_id AS oid
                 FROM bands b JOIN bands o
                   ON b.band = o.band AND b.bucket = o.bucket
                 WHERE b.doc_id % 10 = 7
                   AND (o.doc_id % 10 <> 7 OR o.doc_id < b.doc_id)),
        c AS (SELECT cand.bid, cand.oid, count(*) AS common
              FROM cand JOIN s sa ON sa.doc_id = cand.bid
                        JOIN s sb ON sb.doc_id = cand.oid
                         AND sb.shingle = sa.shingle
              GROUP BY cand.bid, cand.oid),
        nearlosers AS (SELECT DISTINCT bid AS doc_id
                       FROM c JOIN sz x ON bid = x.doc_id
                              JOIN sz y ON oid = y.doc_id
                       WHERE round(common * 1.0 / (x.n + y.n - common), 6)
                               >= $jaccardThreshold),
        exactlosers AS (SELECT DISTINCT b.doc_id
                        FROM documents b JOIN documents o
                          ON md5(b.text) = md5(o.text)
                         AND b.doc_id % 10 = 7
                         AND (o.doc_id % 10 <> 7 OR o.doc_id < b.doc_id))
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id % 10 = 7
          AND doc_id NOT IN (SELECT doc_id FROM nearlosers)
          AND doc_id NOT IN (SELECT doc_id FROM exactlosers)"""

  /** dd_incremental_simhash replay: fingerprints are per-document, so
    * computing them over the whole table and splitting in the join is
    * identical to fingerprinting the two sides separately. */
  private[queries] val incrementalSimhashOracle: String = {
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 8}) & 255 AS bkey FROM sim"
    }.mkString(" UNION ALL ")
    s"""WITH $simhashCte, bands AS ($bandSelects),
        cand AS (SELECT b.doc_id AS bid, b.simhash AS sa, o.simhash AS sb
                 FROM bands b JOIN bands o
                   ON b.band = o.band AND b.bkey = o.bkey
                 WHERE b.doc_id % 10 = 7
                   AND (o.doc_id % 10 <> 7 OR o.doc_id < b.doc_id)),
        losers AS (SELECT DISTINCT bid AS doc_id FROM cand
                   WHERE bit_count(xor(sa, sb)) <= ${Dedup.simhashMaxHamming})
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id % 10 = 7
          AND doc_id NOT IN (SELECT doc_id FROM losers)"""
  }

  /** dd_incremental_embed replay: Lloyd training on the corpus side
    * only, one extra assignment block for the batch against the
    * trained centroids, then the per-cell cosine probe with the
    * corpus-wins / earlier-batch-wins policy. */
  private[queries] val incrementalEmbedOracle: String = {
    import graft.operators.Similarity.lshDims
    s"""WITH ${lloydCtesFrom("vec_id % 10 <> 7")},
        be AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE vec_id % 10 = 7),
        ben AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                FROM be),
        d_bt AS (SELECT ben.vec_id, c.cid,
                  round(1.0 - list_sum(list_transform(range(1, ${lshDims + 1}),
                          i -> ben.v[i] * c.cent[i]))
                        / (ben.nrm * sqrt(list_sum(list_transform(c.cent, x -> x*x)))), 6) AS dist
                FROM ben CROSS JOIN c$lloydIters c),
        a_bt AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rk FROM d_bt) WHERE rk = 1),
        cand AS (SELECT b.vec_id AS bid, a.vec_id AS oid
                 FROM a_bt b JOIN a_f a ON a.cid = b.cid
                 UNION ALL
                 SELECT b.vec_id, o.vec_id
                 FROM a_bt b JOIN a_bt o ON o.cid = b.cid AND o.vec_id < b.vec_id),
        alln AS (SELECT * FROM en UNION ALL SELECT * FROM ben),
        sc AS (SELECT cand.bid,
                      round(list_sum(list_transform(range(1, ${lshDims + 1}),
                              i -> bb.v[i] * oo.v[i])) / (bb.nrm * oo.nrm), 6) AS cos
               FROM cand JOIN ben bb ON bb.vec_id = cand.bid
                         JOIN alln oo ON oo.vec_id = cand.oid),
        losers AS (SELECT DISTINCT bid AS vec_id FROM sc WHERE cos >= $cosineThreshold)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id % 10 = 7
          AND vec_id NOT IN (SELECT vec_id FROM losers)"""
  }

  /** dd_incremental_semdedup replay: corpus-side Lloyd training (the
    * stored index), one batch assignment block, then semDedup's exact
    * pairwise dominance over batch-vs-corpus and batch-vs-batch
    * cell-mates — loser = the centroid-CLOSER member, ties to the
    * higher id. Corpus distances come off the training chain's final
    * assign block (d_f ⋈ a_f), exactly the values the Spark side
    * recomputes from the stored centroid table. */
  private[queries] val incrementalSemdedupOracle: String = {
    import graft.operators.Similarity.lshDims
    s"""WITH ${lloydCtesFrom("vec_id % 10 <> 7")},
        be AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE vec_id % 10 = 7),
        ben AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                FROM be),
        d_bt AS (SELECT ben.vec_id, c.cid,
                  round(1.0 - list_sum(list_transform(range(1, ${lshDims + 1}),
                          i -> ben.v[i] * c.cent[i]))
                        / (ben.nrm * sqrt(list_sum(list_transform(c.cent, x -> x*x)))), 6) AS dist
                FROM ben CROSS JOIN c$lloydIters c),
        a_bt AS (SELECT vec_id, cid, dist FROM (
                  SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rk FROM d_bt) WHERE rk = 1),
        cad AS (SELECT a.vec_id, a.cid, d.dist
                FROM a_f a JOIN d_f d ON d.vec_id = a.vec_id AND d.cid = a.cid),
        alln2 AS (SELECT * FROM en UNION ALL SELECT * FROM ben),
        cand AS (SELECT b.vec_id AS bid, b.dist AS bdist,
                        o.vec_id AS oid, o.dist AS odist
                 FROM a_bt b JOIN cad o ON o.cid = b.cid
                 UNION ALL
                 SELECT b.vec_id, b.dist, o.vec_id, o.dist
                 FROM a_bt b JOIN a_bt o ON o.cid = b.cid
                                        AND o.vec_id <> b.vec_id),
        sc AS (SELECT cand.bid, cand.bdist, cand.oid, cand.odist,
                      round(list_sum(list_transform(range(1, ${lshDims + 1}),
                              i -> bb.v[i] * oo.v[i])) / (bb.nrm * oo.nrm), 6) AS cos
               FROM cand JOIN ben bb ON bb.vec_id = cand.bid
                         JOIN alln2 oo ON oo.vec_id = cand.oid),
        losers AS (SELECT DISTINCT bid FROM sc
                   WHERE cos >= $cosineThreshold
                     AND (odist > bdist OR (odist = bdist AND oid < bid)))
        SELECT a_bt.vec_id, a_bt.cid AS centroid_id, a_bt.dist,
               a_bt.vec_id NOT IN (SELECT bid FROM losers) AS kept
        FROM a_bt"""
  }

  /** Shared decontamination CTEs: the deterministic split + distinct
    * 5-gram shingles per doc + the train→test overlap pairs. */
  private[queries] val contaminationCtes: String = {
    val splitExpr =
      """CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 100 < 80 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 100 < 90 THEN 'val'
              ELSE 'test' END"""
    s"""sp AS (SELECT doc_id, text, $splitExpr AS split FROM documents),
        dt AS (SELECT doc_id, split, string_split(text, ' ') AS toks FROM sp),
        sh AS (SELECT DISTINCT doc_id, split,
                 unnest(list_transform(range(1, greatest(len(toks) - ${decontamN - 2}, 1)),
                   i -> array_to_string(toks[i:i+${decontamN - 1}], ' '))) AS shingle
               FROM dt),
        cpairs AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
                          count(*) AS shared_ngrams
                   FROM sh t JOIN sh e ON t.shingle = e.shingle
                   WHERE t.split = 'train' AND e.split = 'test'
                   GROUP BY 1, 2)"""
  }

  val bpeMerges = 12

  /** Snapshot diff against a deterministically-derived "next release":
    * every 10th doc dropped, every 10th-plus-one rewritten (a marker
    * token appended), a shifted copy of every 10th-plus-two appended
    * as new — the three change classes a real release carries. */
  def ddSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val prev = docs(s, d)
    val maxId = lit(1000000L)
    val next = prev.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10L)) === 1,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      .unionByName(prev.filter(pmod(col("doc_id"), lit(10L)) === 2)
        .withColumn("doc_id", col("doc_id") + maxId))
    graft.operators.Snapshot.diff(prev, next, col("doc_id"), col("text"))
  }

  /** Weak-labeled Naive Bayes quality classifier: positives are the
    * trusted-source slice (the same allowlist the reference LM
    * trains on), negatives the rest — train on the whole corpus,
    * score the whole corpus. */
  def txNbQuality(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val label = col("source").isin(lmRefSources: _*)
    val model = graft.operators.QualityClassifier
      .trainNaiveBayes(dd, col("text"), label)
    graft.operators.QualityClassifier.scoreNaiveBayes(
      dd, col("text"), col("doc_id"), model,
      graft.operators.QualityClassifier.docPriors(dd, label))
  }

  /** Tokenizer coverage on a drifted batch: every 5th document's
    * words are suffixed (guaranteed-OOV vocabulary drift), the rest
    * unchanged — the monitoring query that decides when the persisted
    * tokenizer needs retraining. */
  def txBpeCoverage(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.coverage(
      s.table(graft.operators.Bpe.modelTables(bpeTag(s, d))._1),
      bpeDriftBatch(s, d), col("text"))

  private[queries] def bpeDriftBatch(s: SparkSession, d: String): DataFrame =
    docs(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(5L)) === 0,
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(w, lit("_v2"))))).otherwise(col("text")))

  /** One trained tokenizer per (merges, corpus), written once as the
    * persisted vocab and merge tables (`Bpe.ensureModel`): the merge
    * table / vocab / encode / coverage queries read those tables, so
    * the k-round training loop runs once, not per query — the
    * train-once/serve-many shape of a production tokenizer. Returns
    * the model's tag. */
  private def bpeTag(s: SparkSession, d: String): String = {
    val (tag, root) = artifact(d, prefix = s"m${bpeMerges}_", dirPrefix = "bpe_")
    graft.operators.Bpe.ensureModel(s, root, tag,
      bucketCount) {
      graft.operators.Bpe.train(docs(s, d), col("text"), bpeMerges)
    }
    tag
  }

  def txBpeMerges(s: SparkSession, d: String): DataFrame =
    s.table(graft.operators.Bpe.modelTables(bpeTag(s, d))._2)

  def txBpeVocab(s: SparkSession, d: String): DataFrame =
    s.table(graft.operators.Bpe.modelTables(bpeTag(s, d))._1)

  /** Tokenizer SERVING: encode against the persisted vocab table —
    * zero training jobs in the probe plan, the document side joins
    * the stored bucket layout. */
  def txBpeEncode(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.encodeDocsPersisted(s, bpeTag(s, d), docs(s, d),
      col("doc_id"), col("text"))

  /** Unrolled round-by-round BPE replay (mirrors Bpe.train): each
    * round computes the argmax pair with the same (count, lhs, rhs)
    * descending tie-break, then applies it with the same
    * run-group + odd-parity greedy pairing. */
  private[queries] val bpeRoundCtes: String = {
    val rounds = (1 to bpeMerges).map { r =>
      s"""p$r AS MATERIALIZED (SELECT word, freq, pos, sym,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
                 FROM s${r - 1}),
          b$r AS MATERIALIZED (SELECT cnt, sym AS l, nxt AS rr FROM (
                    SELECT sym, nxt, CAST(sum(freq) AS BIGINT) AS cnt
                    FROM p$r WHERE nxt IS NOT NULL GROUP BY sym, nxt)
                  QUALIFY row_number() OVER (ORDER BY cnt DESC, sym DESC, nxt DESC) = 1),
          m$r AS (SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
                         coalesce(p.sym = b.l AND p.nxt = b.rr, FALSE) AS m
                  FROM p$r p LEFT JOIN b$r b ON TRUE),
          g$r AS (SELECT *, CASE WHEN m THEN pos - row_number()
                    OVER (PARTITION BY word, m ORDER BY pos) END AS grp FROM m$r),
          k$r AS (SELECT *, m AND (row_number()
                    OVER (PARTITION BY word, m, grp ORDER BY pos) % 2 = 1) AS take
                  FROM g$r),
          f$r AS (SELECT word, freq, pos,
                         CASE WHEN take THEN sym || nxt ELSE sym END AS sym,
                         lag(take, 1, FALSE) OVER (PARTITION BY word ORDER BY pos) AS ptake
                  FROM k$r),
          s$r AS MATERIALIZED (SELECT word, freq,
                         row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
                  FROM f$r WHERE NOT ptake)"""
    }.mkString(",\n")
    s"""w0 AS (SELECT word, count(*) AS freq FROM (
                 SELECT unnest(string_split(text, ' ')) AS word FROM documents)
               GROUP BY word),
        s0 AS (SELECT word, freq, i AS pos,
                 CASE WHEN i <= length(word) THEN word[i] ELSE '</w>' END AS sym
               FROM w0, unnest(range(1, length(word) + 2)) t(i)),
        $rounds"""
  }

  /** Full tx_rep_ngrams / tx_lm_score statements, shared so the
    * curation composite can nest them as scoped sub-CTEs. */
  private[queries] def repNgramsSqlOver(rel: String) =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel),
         base AS (SELECT doc_id, list_sum(list_transform(toks, t -> length(t))) AS total_chars FROM d),
         t2 AS (SELECT doc_id, cnt * (length(gram) - 1) AS num
                FROM (SELECT doc_id, gram, count(*) AS cnt
                      FROM (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
                            FROM d, unnest(range(1, len(toks))) t(i))
                      GROUP BY doc_id, gram)
                QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, length(gram) DESC) = 1),
         t3 AS (SELECT doc_id, cnt * (length(gram) - 2) AS num
                FROM (SELECT doc_id, gram, count(*) AS cnt
                      FROM (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
                            FROM d, unnest(range(1, len(toks) - 1)) t(i))
                      GROUP BY doc_id, gram)
                QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, length(gram) DESC) = 1),
         t4 AS (SELECT doc_id, cnt * (length(gram) - 3) AS num
                FROM (SELECT doc_id, gram, count(*) AS cnt
                      FROM (SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
                            FROM d, unnest(range(1, len(toks) - 2)) t(i))
                      GROUP BY doc_id, gram)
                QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, length(gram) DESC) = 1),
         p5 AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS gram
                FROM d, unnest(range(1, len(toks) - 3)) t(i)),
         c5 AS (SELECT DISTINCT doc_id, pos + j AS p
                FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, gram) AS c FROM p5)
                     , unnest(range(0, 5)) t(j) WHERE c >= 2),
         h5 AS (SELECT c5.doc_id, sum(length(d.toks[c5.p])) AS num
                FROM c5 JOIN d ON c5.doc_id = d.doc_id GROUP BY c5.doc_id),
         p10 AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+9], ' ') AS gram
                 FROM d, unnest(range(1, len(toks) - 8)) t(i)),
         c10 AS (SELECT DISTINCT doc_id, pos + j AS p
                 FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, gram) AS c FROM p10)
                      , unnest(range(0, 10)) t(j) WHERE c >= 2),
         h10 AS (SELECT c10.doc_id, sum(length(d.toks[c10.p])) AS num
                 FROM c10 JOIN d ON c10.doc_id = d.doc_id GROUP BY c10.doc_id)
         SELECT b.doc_id,
                round(coalesce(t2.num, 0) / b.total_chars, 6) AS top_2gram_frac,
                round(coalesce(t3.num, 0) / b.total_chars, 6) AS top_3gram_frac,
                round(coalesce(t4.num, 0) / b.total_chars, 6) AS top_4gram_frac,
                round(coalesce(h5.num, 0) / b.total_chars, 6) AS dup_5gram_frac,
                round(coalesce(h10.num, 0) / b.total_chars, 6) AS dup_10gram_frac
         FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
              LEFT JOIN t4 USING (doc_id) LEFT JOIN h5 USING (doc_id)
              LEFT JOIN h10 USING (doc_id)"""

  private[queries] val repNgramsSql = repNgramsSqlOver("documents")

  // the LM always TRAINS on the full corpus' trusted slice (the Scala
  // twin passes lmRef(s, d) regardless of the scored subset); only the
  // scored relation is parameterized
  private[queries] def lmScoreSqlOver(rel: String) =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel),
          r AS (SELECT string_split(text, ' ') AS toks FROM documents
                WHERE source IN ($lmRefSourcesSql)),
          rb AS (SELECT toks[i] AS ctx, toks[i+1] AS nxt
                 FROM r, unnest(range(1, greatest(len(toks), 1))) t(i)),
          lm AS (SELECT ctx, nxt, count(*) AS c2 FROM rb GROUP BY ctx, nxt),
          ct AS (SELECT ctx, sum(c2) AS c1 FROM lm GROUP BY ctx),
          v AS (SELECT count(DISTINCT nxt) AS vsz FROM lm),
          db AS (SELECT doc_id, toks[i] AS ctx, toks[i+1] AS nxt
                 FROM d, unnest(range(1, greatest(len(toks), 1))) t(i)),
          s AS (SELECT db.doc_id,
                  ln((coalesce(lm.c2, 0) + 1.0) / (coalesce(ct.c1, 0) + v.vsz)) AS ll
                FROM db LEFT JOIN lm ON db.ctx = lm.ctx AND db.nxt = lm.nxt
                        LEFT JOIN ct ON db.ctx = ct.ctx
                        CROSS JOIN v),
          g AS (SELECT doc_id, count(*) AS n_bigrams,
                       round(-avg(ll), 6) AS avg_nll FROM s GROUP BY doc_id)
          SELECT d.doc_id, coalesce(g.n_bigrams, 0) AS n_bigrams, g.avg_nll
          FROM d LEFT JOIN g ON d.doc_id = g.doc_id"""

  private[queries] val lmScoreSql = lmScoreSqlOver("documents")

  /** Shared curate-verdict SQL (per-doc verdict over `rel`) — reused
    * by the end-to-end pipeline oracle ("documents") and the domain
    * composite (the crawl survivors; dedup then competes only inside
    * the gated set — the C4 gate-first order). */
  private[queries] def curateVerdictSqlOver(rel: String): String =
    s"""WITH rep AS (${repNgramsSqlOver(rel)}),
          lmsc AS (${lmScoreSqlOver(rel)}),
          flags AS (SELECT dd.doc_id, dd.text,
                      (r.top_2gram_frac > $curateMaxTop2
                        OR r.dup_5gram_frac > $curateMaxDup5) AS rep_fail,
                      (sc.avg_nll IS NULL OR sc.avg_nll > $curateMaxNll) AS lm_fail
                    FROM $rel dd JOIN rep r ON dd.doc_id = r.doc_id
                         JOIN lmsc sc ON dd.doc_id = sc.doc_id),
          quality AS (SELECT doc_id, text FROM flags WHERE NOT rep_fail AND NOT lm_fail),
          ${lshPairsCteOver("quality")},
          sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
          cmn AS (SELECT p.id_a, p.id_b, count(*) AS common
                  FROM pairs p JOIN s sa ON sa.doc_id = p.id_a
                               JOIN s sb ON sb.doc_id = p.id_b
                                AND sb.shingle = sa.shingle
                  GROUP BY p.id_a, p.id_b),
          losers AS (SELECT DISTINCT id_b AS doc_id
                     FROM cmn JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
                     WHERE round(common * 1.0 / (x.n + y.n - common), 6) >= $jaccardThreshold),
          keepers AS (SELECT min(doc_id) AS doc_id FROM quality GROUP BY text),
          kept AS (SELECT doc_id FROM quality
                   WHERE doc_id IN (SELECT doc_id FROM keepers)
                     AND doc_id NOT IN (SELECT doc_id FROM losers))
          SELECT f.doc_id,
                 CASE WHEN f.rep_fail THEN 'repetition'
                      WHEN f.lm_fail THEN 'lm'
                      WHEN k.doc_id IS NULL THEN 'duplicate'
                      ELSE 'kept' END AS verdict
          FROM flags f LEFT JOIN kept k ON f.doc_id = k.doc_id"""

  private[queries] val curateVerdictSql: String = curateVerdictSqlOver("documents")

  /** DSIR replay: same gram stream (unigrams + bigrams), same md5
    * bucket hash, same add-one bucket model, same micro-nat rounding
    * before the integer weight sum — ln parity with Spark holds
    * because both sides micro-round data-dependent logs (the BM25
    * precedent). */
  private[queries] val dsirCtes: String = {
    val b = graft.operators.Dsir.buckets
    s"""toks AS (SELECT doc_id, lang = 'en' AS is_target,
                        string_split(text, ' ') AS t FROM documents),
        grams AS (SELECT doc_id, is_target,
                    unnest(t || list_transform(range(1, len(t)),
                                               i -> t[i] || ' ' || t[i+1])) AS gram
                  FROM toks),
        bag AS (SELECT doc_id, is_target,
                  CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % $b AS bucket,
                  count(*) AS cnt
                FROM grams GROUP BY 1, 2, 3),
        rb AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rn,
                  CAST(sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT) AS tn
               FROM bag GROUP BY 1),
        tot AS (SELECT CAST(sum(rn) AS BIGINT) AS rtot,
                       CAST(sum(tn) AS BIGINT) AS ttot FROM rb),
        llr AS (SELECT bucket,
                  CAST(round(1e6 * (ln(tn + 1) - ln(ttot + $b)
                       - ln(rn + 1) + ln(rtot + $b))) AS BIGINT) AS llr_micro
                FROM rb, tot),
        w AS (SELECT bag.doc_id,
                     CAST(sum(bag.cnt * llr.llr_micro) AS BIGINT) AS weight_micro
              FROM bag JOIN llr USING (bucket) GROUP BY 1)"""
  }

  /** Winnowing replay: same md5 gram hashes as the Spark side, the
    * rightmost-minimum selection as a relational argmin (row_number
    * over (hash asc, pos desc) per window), distinct selections. */
  private[queries] val winnowSelCtes: String = {
    val k = winnowK; val w = winnowW
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (SELECT doc_id, toks, len(toks) - ${k - 1} AS m FROM t
              WHERE len(toks) >= $k),
        h AS (SELECT doc_id, i AS p,
                CAST(('0x' || substr(md5(array_to_string(toks[i:i+${k - 1}], ' ')),
                      1, 8)) AS BIGINT) AS h
              FROM g, unnest(range(1, m + 1)) r(i)),
        wins AS (SELECT doc_id, j FROM g,
                   unnest(range(1, greatest(m - ${w - 1}, 1) + 1)) r(j)),
        cand AS (SELECT w.doc_id, w.j, h.p, h.h,
                   row_number() OVER (PARTITION BY w.doc_id, w.j
                     ORDER BY h.h, h.p DESC) AS rk
                 FROM wins w JOIN h ON h.doc_id = w.doc_id
                   AND h.p BETWEEN w.j AND w.j + ${w - 1}),
        sel AS (SELECT DISTINCT doc_id, p, h FROM cand WHERE rk = 1)"""
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("ds_length_quantiles", dsLengthQuantiles, Sql {
      val sel = quantileQs.map { case (name, q) =>
        s"CAST(min(CASE WHEN cum*100 >= n*$q THEN len END) AS BIGINT) AS $name"
      }.mkString(", ")
      s"""WITH c AS (SELECT lang, len(string_split(text, ' ')) AS len,
                            count(*) AS c
                     FROM documents GROUP BY 1, 2),
          cum AS (SELECT lang, len, c,
                    sum(c) OVER (PARTITION BY lang ORDER BY len
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                    sum(c) OVER (PARTITION BY lang) AS n
                  FROM c)
          SELECT lang, $sel FROM cum GROUP BY lang"""
    }),
    QueryDef("ds_group_sample", dsGroupSample, Sql(
      s"""WITH h AS (SELECT source, doc_id,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) AS hv
                FROM documents),
          r AS (SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY hv, doc_id) AS rk
                FROM h)
          SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
          FROM r WHERE rk <= $samplePerKey""")),
    QueryDef("ds_kmv_distinct", dsKmvDistinct, Sql(
      s"""WITH h AS (SELECT DISTINCT lang,
                  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS hv
                FROM documents),
          r AS (SELECT lang, hv,
                  row_number() OVER (PARTITION BY lang ORDER BY hv) AS rk,
                  count(*) OVER (PARTITION BY lang) AS nd
                FROM h),
          g AS (SELECT lang, min(nd) AS nd,
                  max(CASE WHEN rk = $kmvK THEN hv END) AS hk
                FROM r GROUP BY lang)
          SELECT lang, CAST(least(nd, $kmvK) AS BIGINT) AS n_kept,
                 CAST(CASE WHEN nd < $kmvK THEN nd
                      ELSE (${kmvK - 1} * 4294967296) // hk END AS BIGINT)
                   AS kmv_distinct
          FROM g""")),
    QueryDef("tx_winnow", txWinnow, Sql(
      s"""WITH $winnowSelCtes
          SELECT doc_id, CAST(p AS BIGINT) AS pos, h AS fp FROM sel""")),
    QueryDef("dd_winnow_pairs", ddWinnowPairs, Sql(
      s"""WITH $winnowSelCtes,
          sets AS (SELECT DISTINCT doc_id, h AS fp FROM sel),
          hot AS (SELECT fp FROM sets GROUP BY fp
                  HAVING count(*) > $winnowCap),
          kept AS (SELECT * FROM sets
                   WHERE fp NOT IN (SELECT fp FROM hot))
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(count(*) AS BIGINT) AS shared
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= $winnowMinShared""")),
    QueryDef("dd_winnow_spans", ddWinnowSpans, Sql(
      s"""WITH $winnowSelCtes,
          hot AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sel)
                  GROUP BY h HAVING count(*) > $winnowCap),
          kept AS (SELECT doc_id, p, h FROM sel
                   WHERE h NOT IN (SELECT h FROM hot))
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(a.p - b.p AS BIGINT) AS offset,
                 CAST(count(*) AS BIGINT) AS aligned,
                 CAST(min(a.p) AS BIGINT) AS a_start,
                 CAST(max(a.p) AS BIGINT) AS a_end
          FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3 HAVING count(*) >= $winnowMinShared""")),
    QueryDef("ds_dsir_weights", dsDsirWeights, Sql(
      s"WITH $dsirCtes SELECT doc_id, weight_micro FROM w")),
    // persisted twin: identical algebra against the stored model table
    QueryDef("ds_dsir_persisted", dsDsirPersisted, Sql(
      s"WITH $dsirCtes SELECT doc_id, weight_micro FROM w")),
    QueryDef("ds_dsir_select", dsDsirSelect, Sql(
      s"""WITH $dsirCtes
          SELECT CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id)
                      AS BIGINT) AS rk, doc_id, weight_micro
          FROM w ORDER BY weight_micro DESC, doc_id LIMIT $dsirK""")),
    QueryDef("ds_dsir_stratified", dsDsirStratified, Sql(
      s"""WITH $dsirCtes,
          ws AS (SELECT w.doc_id, w.weight_micro, d.source
                 FROM w JOIN documents d ON d.doc_id = w.doc_id),
          r AS (SELECT source, doc_id, weight_micro,
                  row_number() OVER (PARTITION BY source
                    ORDER BY weight_micro DESC, doc_id) AS rk
                FROM ws)
          SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, weight_micro
          FROM r WHERE rk <= $samplePerKey""")),
    QueryDef("ds_contamination", dsContamination, Sql(
      s"WITH $contaminationCtes SELECT train_id, eval_id, shared_ngrams FROM cpairs")),
    QueryDef("ds_decontaminate", dsDecontaminate, Sql(
      s"""WITH $contaminationCtes
          SELECT d.doc_id, d.lang, d.source, d.n_chars
          FROM documents d JOIN sp ON sp.doc_id = d.doc_id
          WHERE sp.split = 'train'
            AND d.doc_id NOT IN (SELECT train_id FROM cpairs)""")),
    QueryDef("sim_ivf_kmeans", simIvfKmeans, Sql(lloydOracle)),
    QueryDef("sim_pq_codes", simPqCodes, Sql(pqCodesOracle)),
    QueryDef("sim_pq_adc", simPqAdc, Sql(pqAdcOracle)),
    QueryDef("sim_pq_recall", simPqRecall, Sql(pqRecallOracle)),
    QueryDef("sim_ivfpq_codes", simIvfPqCodes, Sql(ivfPqCodesOracle)),
    QueryDef("sim_ivfpq_adc", simIvfPqAdc, Sql(ivfPqAdcOracle)),
    QueryDef("sim_ivfpq_recall", simIvfPqRecall, Sql(ivfPqRecallOracle)),
    // persisted twin: identical algebra over stored model tables
    QueryDef("sim_ivfpq_persisted", simIvfPqPersisted, Sql(ivfPqAdcOracle)),
    QueryDef("ds_rag", dsRag, Sql(ragOracle)),
    QueryDef("ds_bm25", dsBm25, Sql(bm25Oracle)),
    QueryDef("ds_hybrid_rrf", dsHybridRrf, Sql(hybridRrfOracle)),
    QueryDef("ds_rag_recall", dsRagRecall, Sql(ragRecallOracle)),
    QueryDef("ds_source_cap", dsSourceCap, Sql(
      s"""WITH r AS (SELECT source, n_chars, doc_id,
                            row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rk
                     FROM documents)
          SELECT source, rk, n_chars, doc_id FROM r WHERE rk <= $capPerSource""")),
    QueryDef("ds_curriculum", dsCurriculum, Sql(
      s"""WITH d AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS difficulty
                     FROM documents),
          r AS (SELECT doc_id, difficulty,
                  CAST(row_number() OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS rank
                FROM d),
          n AS (SELECT count(*) AS n FROM d)
          SELECT doc_id, difficulty, rank,
                 (rank - 1) * $curriculumStageCount // n AS stage
          FROM r, n""")),
    QueryDef("dd_embed_ivf", ddEmbedIvf, Sql(embedIvfOracle)),
    QueryDef("dd_semdedup", ddSemdedup, Sql(semdedupOracle)),
    QueryDef("sim_embed_outliers", simEmbedOutliers, Sql(embedOutliersOracle)),
    QueryDef("dd_semdedup_capped", ddSemdedupCapped, Sql(semdedupCappedOracle)),
    // the typed view of the one allocation operator (kept: the
    // benchmark's query pool lists it); one allocation replay for both
    QueryDef("p_alloc_greedy", allocGreedy, Sql(allocOracle)),
    QueryDef("p_alloc_plan", allocGreedyPlan, Sql(allocOracle)),
    QueryDef("sim_mutual_match", simMutualMatch, Sql(mutualMatchOracle)),
    QueryDef("sim_margin_match", simMarginMatch, Sql(marginMatchOracle)),
    QueryDef("sim_lsh_ann", simLshAnn, Sql(lshRerankSql(
      """cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         qe.embedding AS ea, ce.embedding AS eb
                  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
                  JOIN embeddings qe ON qe.vec_id = q.vec_id
                  JOIN embeddings ce ON ce.vec_id = c.vec_id)"""))),
    QueryDef("sim_lsh_multiprobe", simLshMultiProbe, Sql(lshRerankSql(
      // probe buckets from the SAME mask enumeration the Spark side
      // uses (Similarity.probeMasks — home bucket + every flip within
      // the probe radius); masks are pairwise distinct, so probe
      // values are too and no candidate dedup is needed (a corpus
      // vector's single bucket matches at most one)
      s"""probes AS (SELECT vec_id,
                            unnest(list_transform([$multiProbeMaskList],
                              m -> xor(bucket, CAST(m AS BIGINT)))) AS probe
                     FROM bk),
          cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          qe.embedding AS ea, ce.embedding AS eb
                   FROM probes q JOIN bk c ON q.probe = c.bucket AND q.vec_id <> c.vec_id
                   JOIN embeddings qe ON qe.vec_id = q.vec_id
                   JOIN embeddings ce ON ce.vec_id = c.vec_id)"""))),
    QueryDef("sim_lsh_multiprobe_r2", simLshMultiProbeR2, Sql(lshRerankSql(
      // radius-2 probe expansion over the same shared mask source
      s"""probes AS (SELECT vec_id,
                            unnest(list_transform([$multiProbeMaskListR2],
                              m -> xor(bucket, CAST(m AS BIGINT)))) AS probe
                     FROM bk WHERE vec_id < $annQueries),
          cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          qe.embedding AS ea, ce.embedding AS eb
                   FROM probes q JOIN bk c ON q.probe = c.bucket AND q.vec_id <> c.vec_id
                   JOIN embeddings qe ON qe.vec_id = q.vec_id
                   JOIN embeddings ce ON ce.vec_id = c.vec_id)"""))),
    QueryDef("sim_lsh_multiprobe_for", simLshMultiProbeFor, Sql(lshRerankSql(
      // same probe expansion, restricted to the query set — only the
      // probing vectors fan out into their probe lists
      s"""probes AS (SELECT vec_id,
                            unnest(list_transform([$multiProbeMaskList],
                              m -> xor(bucket, CAST(m AS BIGINT)))) AS probe
                     FROM bk WHERE vec_id < $annQueries),
          cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          qe.embedding AS ea, ce.embedding AS eb
                   FROM probes q JOIN bk c ON q.probe = c.bucket AND q.vec_id <> c.vec_id
                   JOIN embeddings qe ON qe.vec_id = q.vec_id
                   JOIN embeddings ce ON ce.vec_id = c.vec_id)"""))),
    QueryDef("sim_index_drift", simIndexDrift, Sql {
      import graft.operators.Similarity.lshDims
      s"""WITH ${lloydCtesFrom("vec_id % 10 <> 7")},
          wd AS (SELECT a.vec_id, a.cid, d.dist
                 FROM a_f a JOIN d_f d ON d.vec_id = a.vec_id AND d.cid = a.cid),
          be AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings WHERE vec_id % 10 = 7),
          ben AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                  FROM be),
          d_bt AS (SELECT ben.vec_id, c.cid,
                    round(1.0 - list_sum(list_transform(range(1, ${lshDims + 1}),
                            i -> ben.v[i] * c.cent[i]))
                          / (ben.nrm * sqrt(list_sum(list_transform(c.cent, x -> x*x)))), 6) AS dist
                  FROM ben CROSS JOIN c$lloydIters c),
          a_bt AS (SELECT vec_id, cid, dist FROM (
                    SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist, cid) AS rk FROM d_bt) WHERE rk = 1),
          cs AS (SELECT cid, count(*) AS corpus_n,
                        sum(CAST(round(dist*1000000) AS BIGINT)) AS cu
                 FROM wd GROUP BY cid),
          bs AS (SELECT cid, count(*) AS batch_n,
                        sum(CAST(round(dist*1000000) AS BIGINT)) AS bu
                 FROM a_bt GROUP BY cid),
          j AS (SELECT cl.cid, coalesce(cs.corpus_n, 0) AS corpus_n,
                       coalesce(bs.batch_n, 0) AS batch_n,
                       CASE WHEN cs.corpus_n IS NULL THEN NULL
                            ELSE round(cs.cu*1.0/cs.corpus_n/1000000, 6) END AS corpus_mean_dist,
                       CASE WHEN bs.batch_n IS NULL THEN NULL
                            ELSE round(bs.bu*1.0/bs.batch_n/1000000, 6) END AS batch_mean_dist
                FROM c$lloydIters cl LEFT JOIN cs ON cs.cid = cl.cid
                     LEFT JOIN bs ON bs.cid = cl.cid),
          tot AS (SELECT sum(corpus_n) AS ct, sum(batch_n) AS bt FROM j)
          SELECT j.cid AS centroid_id, corpus_n, batch_n,
                 round(corpus_n*1.0/ct, 6) AS corpus_frac,
                 round(batch_n*1.0/bt, 6) AS batch_frac,
                 corpus_mean_dist, batch_mean_dist,
                 round(abs(corpus_n*1.0/ct - batch_n*1.0/bt), 6) AS share_gap
          FROM j, tot"""
    }),
    QueryDef("sim_hard_negatives", simHardNegatives, Sql(
      s"""WITH nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM
                 (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
               GROUP BY vec_id),
          p AS (SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
                       q.embedding AS ea, c.embedding AS eb
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id <> c.vec_id AND q.label <> c.label
                WHERE q.vec_id < $annQueries),
          u AS (SELECT query_id, negative_id, CAST(unnest(ea) AS DOUBLE) AS x,
                       CAST(unnest(eb) AS DOUBLE) AS y FROM p),
          d AS (SELECT query_id, negative_id, sum(x*y) AS dp FROM u
                GROUP BY query_id, negative_id),
          scored AS (SELECT query_id, negative_id,
                            round(dp / (na.nrm * nb.nrm), 6) AS cos
                     FROM d JOIN nrm na ON query_id = na.vec_id
                            JOIN nrm nb ON negative_id = nb.vec_id),
          ranked AS (SELECT query_id, negative_id, cos,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, negative_id) AS rk
                     FROM scored)
          SELECT query_id, negative_id, cos, rk FROM ranked WHERE rk <= $annK""")),
    QueryDef("sim_hard_negatives_ann", simHardNegativesAnn, Sql(
      s"""WITH $lshBucketCte,
          cand AS (SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
                          qe.embedding AS ea, ce.embedding AS eb
                   FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
                   JOIN embeddings qe ON qe.vec_id = q.vec_id
                   JOIN embeddings ce ON ce.vec_id = c.vec_id
                   WHERE q.vec_id < $annQueries AND qe.label <> ce.label),
          u AS (SELECT query_id, negative_id, CAST(unnest(ea) AS DOUBLE) AS x,
                       CAST(unnest(eb) AS DOUBLE) AS y FROM cand),
          d AS (SELECT query_id, negative_id, sum(x*y) AS dp FROM u
                GROUP BY query_id, negative_id),
          scored AS (SELECT query_id, negative_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
                     FROM d JOIN nrm na ON query_id = na.vec_id
                            JOIN nrm nb ON negative_id = nb.vec_id),
          ranked AS (SELECT query_id, negative_id, cos,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, negative_id) AS rk
                     FROM scored)
          SELECT query_id, negative_id, cos, rk FROM ranked WHERE rk <= $annK""")),
    QueryDef("sim_ann_recall", simAnnRecall, Sql(annRecallSql(lshBucketCte))),
    // planted twin: prepend the deterministic near-dup corpus, run
    // the identical bucket/rerank/recall replay over it, and also
    // count how many planted twins the ANN retrieved
    QueryDef("sim_ann_recall_planted", simAnnRecallPlanted, Sql {
      import graft.operators.Similarity.lshDims
      val pembCte =
        s"""pemb AS (SELECT vec_id, embedding FROM embeddings
                     UNION ALL
                     SELECT vec_id + $plantedIdBase,
                            list_transform(range(1, ${lshDims + 1}),
                              i -> CAST(CAST(embedding[i] AS DOUBLE) *
                                     (1.0 + 0.001 * CAST(((i - 1) % 7) - 3 AS DOUBLE))
                                   AS FLOAT))
                     FROM embeddings WHERE vec_id < $annQueries)"""
      annRecallSql(s"$pembCte, ${lshBucketCteFor("pemb")}", rel = "pemb",
        extraSelect = s""",
               (SELECT count(*) FROM ann_rk
                WHERE neighbor_id = query_id + $plantedIdBase) AS planted_found""")
    }),
    QueryDef("sim_rp_ann", simRpAnn, Sql(annRecallSql(rpBucketCte))),
    // identical semantics to lshAnnFor over the live corpus — the
    // index's storage is invisible to the result
    QueryDef("sim_ann_persisted", simAnnPersisted, Sql(lshRerankSql(
      s"""cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          qe.embedding AS ea, ce.embedding AS eb
                   FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
                   JOIN embeddings qe ON qe.vec_id = q.vec_id
                   JOIN embeddings ce ON ce.vec_id = c.vec_id
                   WHERE q.vec_id < $annQueries)"""))),
    QueryDef("sim_ivf_persisted", simIvfPersisted, Sql(
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS ce
                         FROM embeddings WHERE vec_id < 4),
          p AS (SELECT v.vec_id, c.centroid_id, v.embedding AS ve, c.ce
                FROM embeddings v, cents c),
          u AS (SELECT vec_id, centroid_id, CAST(unnest(ve) AS DOUBLE) AS x,
                       CAST(unnest(ce) AS DOUBLE) AS y FROM p),
          s2 AS (SELECT vec_id, centroid_id, sum(x*y) AS dp, sum(x*x) AS na,
                        sum(y*y) AS nb FROM u GROUP BY vec_id, centroid_id),
          dd AS (SELECT vec_id, centroid_id, 1.0 - dp/sqrt(na*nb) AS dist FROM s2),
          r AS (SELECT vec_id, centroid_id,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY dist ASC, centroid_id) AS rk FROM dd),
          a AS (SELECT vec_id, centroid_id FROM r WHERE rk = 1),
          nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM
                    (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
                  GROUP BY vec_id),
          cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          qe.embedding AS ea, ce.embedding AS eb
                   FROM a q JOIN a c ON q.centroid_id = c.centroid_id
                                    AND q.vec_id <> c.vec_id
                   JOIN embeddings qe ON qe.vec_id = q.vec_id
                   JOIN embeddings ce ON ce.vec_id = c.vec_id
                   WHERE q.vec_id < $annQueries),
          u2 AS (SELECT query_id, neighbor_id, CAST(unnest(ea) AS DOUBLE) AS x,
                        CAST(unnest(eb) AS DOUBLE) AS y FROM cand),
          d2 AS (SELECT query_id, neighbor_id, sum(x*y) AS dp FROM u2
                 GROUP BY query_id, neighbor_id),
          scored AS (SELECT query_id, neighbor_id, round(dp/(na.nrm*nb.nrm), 6) AS cos
                     FROM d2 JOIN nrm na ON query_id = na.vec_id
                             JOIN nrm nb ON neighbor_id = nb.vec_id),
          ranked AS (SELECT query_id, neighbor_id, cos,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rk
                     FROM scored)
          SELECT query_id, neighbor_id, cos, rk FROM ranked WHERE rk <= $annK""")),
    QueryDef("sim_ivf", simIvf, Sql(
      """WITH cents AS (SELECT vec_id AS centroid_id, embedding AS ce
                        FROM embeddings WHERE vec_id < 4),
          p AS (SELECT v.vec_id, c.centroid_id, v.embedding AS ve, c.ce
                FROM embeddings v, cents c),
          u AS (SELECT vec_id, centroid_id, CAST(unnest(ve) AS DOUBLE) AS x,
                       CAST(unnest(ce) AS DOUBLE) AS y FROM p),
          s AS (SELECT vec_id, centroid_id, sum(x*y) AS dp, sum(x*x) AS na,
                       sum(y*y) AS nb FROM u GROUP BY vec_id, centroid_id),
          d AS (SELECT vec_id, centroid_id, 1.0 - dp/sqrt(na*nb) AS dist FROM s),
          r AS (SELECT vec_id, centroid_id,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY dist ASC, centroid_id) AS rk FROM d)
          SELECT centroid_id, count(*) AS n_vectors
          FROM r WHERE rk = 1 GROUP BY centroid_id""")),
    QueryDef("dd_exact", ddExact, Sql(
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS dup_cnt
         FROM documents GROUP BY md5(text)""")),
    QueryDef("dd_jaccard", ddJaccard, Sql(
      s"""WITH $shingleCte,
          sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
          c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
          SELECT id_a, id_b, common,
                 round(common * 1.0 / (x.n + y.n - common), 6) AS jaccard
          FROM c JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
          WHERE round(common * 1.0 / (x.n + y.n - common), 6) >= $jaccardThreshold""")),
    QueryDef("dd_minhash_sig", ddMinhashSig, Sql(s"WITH $minhashSigCte SELECT * FROM sig")),
    QueryDef("dd_corpus", ddCorpus, Sql(
      // LSH candidates verified with the exact Jaccard — mirrors
      // Dedup.lshVerifiedPairs (the scale-safe corpus-dedup policy)
      s"""WITH $lshPairsCte,
          sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
          c AS (SELECT p.id_a, p.id_b, count(*) AS common
                FROM pairs p JOIN s sa ON sa.doc_id = p.id_a
                             JOIN s sb ON sb.doc_id = p.id_b
                              AND sb.shingle = sa.shingle
                GROUP BY p.id_a, p.id_b),
          losers AS (SELECT DISTINCT id_b AS doc_id
                     FROM c JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
                     WHERE round(common * 1.0 / (x.n + y.n - common), 6) >= $jaccardThreshold),
          keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
          SELECT doc_id, lang, source, n_chars FROM documents
          WHERE doc_id IN (SELECT doc_id FROM keepers)
            AND doc_id NOT IN (SELECT doc_id FROM losers)""")),
    QueryDef("dd_lsh_pairs", ddLshPairs, Sql(s"WITH $lshPairsCte SELECT id_a, id_b FROM pairs")),
    QueryDef("dd_containment", ddContainment, Sql(
      // mirrors containmentPairs' DEFAULT capped posture: shingles
      // hotter than containmentDefaultCap docs carry no blocking
      // information and are excluded from the pair generator
      s"""WITH $shingleCte,
          sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
          sc AS (SELECT s.* FROM s JOIN (
                   SELECT shingle FROM s GROUP BY shingle
                   HAVING count(*) <= ${graft.operators.Dedup.containmentDefaultCap}
                 ) ok ON s.shingle = ok.shingle),
          c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM sc a JOIN sc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
          SELECT id_a, id_b, common,
                 round(common * 1.0 / x.n, 6) AS c_a,
                 round(common * 1.0 / y.n, 6) AS c_b
          FROM c JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
          WHERE greatest(round(common * 1.0 / x.n, 6),
                         round(common * 1.0 / y.n, 6)) >= $containmentThreshold""")),
    QueryDef("dd_repeated_spans", ddRepeatedSpans, Sql(
      // Dedup.repeatedSpans: duplicated k-gram windows -> maximal spans
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          g0 AS (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks)-${spanK - 2}, 1)),
                     i -> struct_pack(pos := i,
                            gram := md5(array_to_string(toks[i:i+${spanK - 1}], ' '))))) AS u
                 FROM d),
          g AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.gram AS gram FROM g0),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
          h AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
          fl AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                          OR pos >= lag(pos) OVER w + $spanK THEN 1 ELSE 0 END AS f
                 FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          isl AS (SELECT doc_id, pos, sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl)
          SELECT doc_id,
                 CAST(min(pos) AS BIGINT) AS span_start,
                 CAST(max(pos) + ${spanK - 1} AS BIGINT) AS span_end,
                 CAST(max(pos) + ${spanK - 1} - min(pos) + 1 AS BIGINT) AS span_len,
                 count(*) AS n_windows
          FROM isl GROUP BY doc_id, island""")),
    QueryDef("dd_trim_spans", ddTrimSpans, Sql(
      // Dedup.trimRepeatedSpans: drop every word inside a dup window
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          g0 AS (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks)-${spanK - 2}, 1)),
                     i -> struct_pack(pos := i,
                            gram := md5(array_to_string(toks[i:i+${spanK - 1}], ' '))))) AS u
                 FROM d),
          g AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.gram AS gram FROM g0),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
          h AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
          cov AS (SELECT DISTINCT doc_id, pos + j AS pos
                  FROM h, unnest(range(0, $spanK)) t(j)),
          w0 AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) + 1),
                     i -> struct_pack(pos := i, word := toks[i]))) AS u
                 FROM d),
          w AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.word AS word FROM w0),
          kept AS (SELECT w.doc_id, w.pos, w.word FROM w
                   ANTI JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
          k2 AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
                        count(*) AS n_kept
                 FROM kept GROUP BY doc_id)
          SELECT d.doc_id, coalesce(k2.clean_text, '') AS clean_text,
                 CAST(len(d.toks) - coalesce(k2.n_kept, 0) AS BIGINT) AS n_dropped
          FROM d LEFT JOIN k2 ON d.doc_id = k2.doc_id""")),
    QueryDef("dd_incremental", ddIncremental, Sql(incrementalOracle)),
    // identical semantics — only the index's storage differs
    QueryDef("dd_incremental_persisted", ddIncrementalPersisted, Sql(incrementalOracle)),
    QueryDef("dd_incremental_simhash", ddIncrementalSimhash, Sql(incrementalSimhashOracle)),
    QueryDef("dd_incremental_embed", ddIncrementalEmbed, Sql(incrementalEmbedOracle)),
    // persisted twins: identical algebra over stored index tables
    QueryDef("dd_incremental_simhash_persisted", ddIncrementalSimhashPersisted,
      Sql(incrementalSimhashOracle)),
    QueryDef("dd_incremental_embed_persisted", ddIncrementalEmbedPersisted,
      Sql(incrementalEmbedOracle)),
    QueryDef("dd_incremental_semdedup", ddIncrementalSemdedup, Sql(incrementalSemdedupOracle)),
    QueryDef("ds_pack_sequences", dsPackSequences, Sql(
      s"""WITH d AS (SELECT doc_id, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
          c AS (SELECT doc_id, text, n_tokens,
                       sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM d),
          sh AS (SELECT doc_id, text, n_tokens,
                        CAST((cum - n_tokens) // $shardBudget AS BIGINT) AS shard_id
                 FROM c)
          SELECT shard_id, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
                 string_agg(text, ' <eos> ' ORDER BY doc_id) AS sequence
          FROM sh GROUP BY shard_id""")),
    QueryDef("ds_pack_fixed", dsPackFixed, Sql(
      s"""WITH d AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS n
               FROM documents),
          c AS (SELECT doc_id, n,
                       CAST(sum(n) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum
                FROM d),
          sp AS (SELECT doc_id, cum - n AS st, cum FROM c)
          SELECT doc_id, CAST(k AS BIGINT) AS seq_id,
                 CAST(greatest(st - k*$seqLen, 0) AS BIGINT) AS seq_off,
                 CAST(least(cum, (k+1)*$seqLen)
                      - greatest(st, k*$seqLen) AS BIGINT) AS n_tokens
          FROM sp, unnest(range(st // $seqLen, (cum - 1) // $seqLen + 1)) t(k)""")),
    QueryDef("ds_length_buckets", dsLengthBuckets, Sql(
      s"""WITH d AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
          b AS (SELECT doc_id, n_tokens,
                  CASE WHEN n_tokens <= 1 THEN 0
                       ELSE CAST(len(bin(n_tokens - 1)) AS BIGINT) END AS bucket
                FROM d),
          r AS (SELECT doc_id, n_tokens, bucket,
                  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk
                FROM b)
          SELECT doc_id, n_tokens, bucket,
                 CAST((rk - 1) // $lenBatchSize AS BIGINT) AS batch_id,
                 (CAST(1 AS BIGINT) << bucket) - n_tokens AS pad_tokens
          FROM r""")),
    QueryDef("ds_mix", dsMix, Sql(
      s"""WITH d AS (SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
          b AS (SELECT *, CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 2 = 0
                               THEN 1000 ELSE 500 END AS budget FROM d),
          c AS (SELECT doc_id, source, n_tokens, budget,
                       sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM b)
          SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
          FROM c WHERE cum <= budget""")),
    QueryDef("ds_mix_temperature", dsMixTemperature, Sql(
      s"""WITH d AS (SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents),
          tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS c_tokens
                  FROM d GROUP BY source),
          z AS (SELECT sum(pow(c_tokens, $mixAlpha)) AS zv FROM tot),
          r AS (SELECT source, c_tokens,
                  least(1000000, CAST(round($mixTempBudget * pow(c_tokens, $mixAlpha)
                    / zv / c_tokens * 1000000) AS BIGINT)) AS rate_ppm
                FROM tot, z),
          k AS (SELECT d.source, d.n, r.c_tokens, r.rate_ppm
                FROM d JOIN r USING (source)
                WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 1000000 < rate_ppm)
          SELECT source, c_tokens, rate_ppm, count(*) AS n_kept,
                 CAST(sum(n) AS BIGINT) AS kept_tokens
          FROM k GROUP BY source, c_tokens, rate_ppm""")),
    QueryDef("ds_pack_shards", dsPackShards, Sql(
      s"""WITH d AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
          c AS (SELECT doc_id, n_tokens,
                       sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM d)
          SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
                 CAST((cum - n_tokens) // $shardBudget AS BIGINT) AS shard_id
          FROM c""")),
    QueryDef("ds_shuffle", dsShuffle, Sql(
      s"""WITH e AS (SELECT doc_id, CAST(t.e AS INTEGER) AS epoch
                     FROM documents, unnest(range(0, $shuffleEpochs)) t(e)),
          k AS (SELECT doc_id, epoch,
                       CAST(('0x' || substr(md5(doc_id || ':' || epoch), 1, 7)) AS BIGINT)
                         * 4294967296 + doc_id AS skey
                FROM e),
          p AS (SELECT doc_id, epoch,
                       CAST(row_number() OVER (PARTITION BY epoch ORDER BY skey) AS BIGINT) AS pos
                FROM k)
          SELECT doc_id, epoch, pos,
                 CAST((pos - 1) % $shuffleShards AS BIGINT) AS shard
          FROM p""")),
    QueryDef("ds_bucketed_join", dsBucketedJoin, Sql(
      // layout-independent semantics: the oracle is the plain join —
      // the bucketed tables' zero-exchange plan is BucketingSpec's job
      """SELECT o_orderpriority, count(*) AS n_lines,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                  / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""")),
    QueryDef("dd_cc", ddCc, Sql(
      // transitive closure of the LSH pair graph: reachability pairs by
      // a recursive CTE, component = min reachable id, singletons kept
      s"""WITH RECURSIVE $lshPairsCte,
          sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
          reach(node, r) AS (
            SELECT DISTINCT u, u FROM sym
            UNION
            SELECT reach.node, s.v FROM reach JOIN sym s ON reach.r = s.u),
          comp AS (SELECT node AS doc_id, min(r) AS component
                   FROM reach GROUP BY node)
          SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id""")),
    QueryDef("ds_split_safe", dsSplitSafe, Sql(
      // dd_cc's component chain + ds_split's md5 bucket applied to the
      // COMPONENT id — one verdict per near-dup cluster
      s"""WITH RECURSIVE $lshPairsCte,
          sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
          reach(node, r) AS (
            SELECT DISTINCT u, u FROM sym
            UNION
            SELECT reach.node, s.v FROM reach JOIN sym s ON reach.r = s.u),
          comp AS (SELECT node AS doc_id, min(r) AS component
                   FROM reach GROUP BY node),
          allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                   FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
          SELECT doc_id, component,
            CASE WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 100 < 80 THEN 'train'
                 WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM allc""")),
    QueryDef("dd_cluster_sizes", ddClusterSizes, Sql(
      s"""WITH RECURSIVE $lshPairsCte,
          sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
          reach(node, r) AS (
            SELECT DISTINCT u, u FROM sym
            UNION
            SELECT reach.node, s.v FROM reach JOIN sym s ON reach.r = s.u),
          comp AS (SELECT node AS doc_id, min(r) AS component
                   FROM reach GROUP BY node),
          allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                   FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          cs AS (SELECT component, count(*) AS csize FROM allc GROUP BY component)
          SELECT csize, count(*) AS n_clusters,
                 (csize - 1) * count(*) AS dup_docs
          FROM cs GROUP BY csize""")),
    QueryDef("dd_corpus_cc", ddCorpusCc, Sql(
      s"""WITH RECURSIVE $lshPairsCte,
          sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
          reach(node, r) AS (
            SELECT DISTINCT u, u FROM sym
            UNION
            SELECT reach.node, s2.v FROM reach JOIN sym s2 ON reach.r = s2.u),
          comp AS (SELECT node AS doc_id, min(r) AS component
                   FROM reach GROUP BY node),
          allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                   FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          reps AS (SELECT min(doc_id) AS doc_id FROM allc GROUP BY component)
          SELECT doc_id, lang, source, n_chars FROM documents
          WHERE doc_id IN (SELECT doc_id FROM reps)""")),
    QueryDef("dd_corpus_cc_best", ddCorpusCcBest, Sql(
      // same transitive clusters, longest member kept (ties → min id)
      s"""WITH RECURSIVE $lshPairsCte,
          sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
          reach(node, r) AS (
            SELECT DISTINCT u, u FROM sym
            UNION
            SELECT reach.node, s2.v FROM reach JOIN sym s2 ON reach.r = s2.u),
          comp AS (SELECT node AS doc_id, min(r) AS component
                   FROM reach GROUP BY node),
          allc AS (SELECT d.doc_id, d.n_chars,
                          coalesce(c.component, d.doc_id) AS component
                   FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          reps AS (SELECT doc_id FROM (
                     SELECT doc_id, row_number() OVER (PARTITION BY component
                       ORDER BY n_chars DESC, doc_id) AS rk FROM allc)
                   WHERE rk = 1)
          SELECT doc_id, lang, source, n_chars FROM documents
          WHERE doc_id IN (SELECT doc_id FROM reps)""")),
    QueryDef("ds_sample", dsSample, Sql(
      // TRY_CAST: the Spark side's substring().cast("int") yields null
      // (→ the 20% bucket) for non-numeric source suffixes; a plain
      // CAST would error instead of matching that null-safe fall-through
      """WITH s AS (SELECT * FROM documents
           WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
               < CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 10 THEN 50 ELSE 20 END)
         SELECT source, count(*) AS n_sampled, min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM s GROUP BY source""")),
    QueryDef("tx_idf", txIdf, Sql(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         t AS (SELECT DISTINCT doc_id, unnest(toks) AS token FROM d),
         f AS (SELECT token, count(*) AS df FROM t GROUP BY token),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT token, df, round(ln((n_docs + 1.0) / (df + 1.0)) + 1.0, 6) AS idf
         FROM f, n""")),
    QueryDef("tx_redact", txRedact, Sql(
      s"""SELECT doc_id,
                 regexp_replace(regexp_replace(
                   text || ' contact: user' || CAST(doc_id AS VARCHAR)
                        || '@example.com tel: +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                   '${TextAnalysis.emailRegex}', '[EMAIL]', 'g'),
                   '${TextAnalysis.phoneRegex}', '[PHONE]', 'g') AS redacted
          FROM documents""")),
    QueryDef("sim_rp", simRandomProject, Sql {
      // the RP plane matrix embedded literally — the same determinism
      // contract as the LSH bucket replay (identical weights, 6dp pin)
      import graft.operators.Similarity.{lshDims, planeWeight, rpSeedOffset}
      val planeRows = (0 until 16).map { p =>
        val wl = (0 until lshDims)
          .map(d => planeWeight(rpSeedOffset + p, d).toFloat.toDouble.toString)
          .mkString("[", ", ", "]")
        s"($p, $wl)"
      }.mkString(", ")
      s"""WITH planes(p, wl) AS (VALUES $planeRows)
          SELECT e.vec_id, CAST(pl.p AS BIGINT) AS dim,
                 round(list_sum(list_transform(range(1, ${lshDims + 1}),
                   i -> CAST(e.embedding[i] AS DOUBLE) * pl.wl[i])) * 0.25, 6) AS v
          FROM embeddings e CROSS JOIN planes pl"""
    }),
    QueryDef("ds_zorder", dsZorder, Sql(
      // the Morton interleave replayed term for term (10 bits per
      // dimension; x even positions, y odd)
      """WITH z AS (SELECT
           CAST(list_sum(list_transform(range(0, 10), i ->
               (((l_partkey % 1024) >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
             + (((l_suppkey % 1024) >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1))))
             AS BIGINT) AS zkey
         FROM lineitem)
         SELECT zkey >> 10 AS zblock, count(*) AS n,
                CAST(min(zkey) AS BIGINT) AS zmin, CAST(max(zkey) AS BIGINT) AS zmax
         FROM z GROUP BY 1""")),
    QueryDef("sim_quantize", simQuantize, Sql(
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         a AS (SELECT vec_id, max(abs(x)) AS amax FROM u GROUP BY vec_id),
         q AS (SELECT u.vec_id, CAST(round(x * 127.0 / amax) AS BIGINT) AS q
               FROM u JOIN a ON u.vec_id = a.vec_id)
         SELECT q.vec_id, round(127.0 / a.amax, 6) AS scale,
                CAST(sum(q.q) AS BIGINT) AS qsum, min(q.q) AS qmin, max(q.q) AS qmax
         FROM q JOIN a ON q.vec_id = a.vec_id
         GROUP BY q.vec_id, a.amax""")),
    QueryDef("dd_minhash_est", ddMinhashEst, Sql {
      val eq = Dedup.minhashAB.indices
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $lshPairsCte
          SELECT id_a, id_b,
                 round(CAST($eq AS DOUBLE) / ${Dedup.minhashAB.size}, 6) AS est_jaccard
          FROM pairs JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id"""
    }),
    QueryDef("dd_simhash", ddSimhash, Sql(s"WITH $simhashCte SELECT doc_id, simhash FROM sim")),
    QueryDef("dd_simhash_pairs", ddSimhashPairs, Sql {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 8}) & 255 AS bkey FROM sim"
      }.mkString(" UNION ALL ")
      s"""WITH $simhashCte, bands AS ($bandSelects),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.simhash AS sa, b.simhash AS sb
                   FROM bands a JOIN bands b
                     ON a.band = b.band AND a.bkey = b.bkey
                    AND a.doc_id < b.doc_id)
          SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(sa, sb)) <= ${Dedup.simhashMaxHamming}"""
    }),
    QueryDef("dd_embed_neardups", ddEmbedNearDups, Sql(
      s"""WITH nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM
                 (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
               GROUP BY vec_id),
          p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       a.embedding AS ea, b.embedding AS eb
                FROM embeddings a JOIN embeddings b
                  ON a.label = b.label AND a.vec_id < b.vec_id),
          u AS (SELECT id_a, id_b, CAST(unnest(ea) AS DOUBLE) AS x,
                       CAST(unnest(eb) AS DOUBLE) AS y FROM p),
          d AS (SELECT id_a, id_b, sum(x*y) AS dp FROM u GROUP BY id_a, id_b)
          SELECT id_a, id_b, round(dp / (na.nrm * nb.nrm), 6) AS cos
          FROM d JOIN nrm na ON id_a = na.vec_id JOIN nrm nb ON id_b = nb.vec_id
          WHERE round(dp / (na.nrm * nb.nrm), 6) >= $cosineThreshold""")),
    QueryDef("sim_topk", simTopK, Sql(
      s"""WITH nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM
                 (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
               GROUP BY vec_id),
          p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       q.embedding AS ea, c.embedding AS eb
                FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
                WHERE q.vec_id < $annQueries),
          u AS (SELECT query_id, neighbor_id, CAST(unnest(ea) AS DOUBLE) AS x,
                       CAST(unnest(eb) AS DOUBLE) AS y FROM p),
          d AS (SELECT query_id, neighbor_id, sum(x*y) AS dp FROM u
                GROUP BY query_id, neighbor_id),
          scored AS (SELECT query_id, neighbor_id,
                            round(dp / (na.nrm * nb.nrm), 6) AS cos
                     FROM d JOIN nrm na ON query_id = na.vec_id
                            JOIN nrm nb ON neighbor_id = nb.vec_id),
          ranked AS (SELECT query_id, neighbor_id, cos,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rk
                     FROM scored)
          SELECT query_id, neighbor_id, cos, rk FROM ranked WHERE rk <= $annK""")),
    QueryDef("tx_tokens", txTokens, Sql(
      s"""SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
                 len(regexp_extract_all(text, '${TextAnalysis.bpeTokenRegex}')) AS bpe_tokens
         FROM documents""")),
    QueryDef("tx_entropy", txEntropy, Sql(
      // the micro-nat term replay: unnest → GROUP BY → per-symbol
      // round(−p·ln(p)·10⁶) summed as integers — order-invariant, so
      // the single-pass kernel and this explode land on one value
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
         cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
         cn AS (SELECT doc_id, sum(k) AS n FROM cc GROUP BY doc_id),
         ce AS (SELECT cc.doc_id, max(cn.n) AS n, count(*) AS dst,
                       sum(CAST(round(-(cc.k * 1.0 / cn.n) * ln(cc.k * 1.0 / cn.n)
                                      * 1000000) AS BIGINT)) AS eu
                FROM cc JOIN cn ON cn.doc_id = cc.doc_id GROUP BY cc.doc_id),
         tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         tc AS (SELECT doc_id, t, count(*) AS k FROM tk GROUP BY doc_id, t),
         tn AS (SELECT doc_id, sum(k) AS n FROM tc GROUP BY doc_id),
         te AS (SELECT tc.doc_id, max(tn.n) AS n, count(*) AS dst,
                       sum(CAST(round(-(tc.k * 1.0 / tn.n) * ln(tc.k * 1.0 / tn.n)
                                      * 1000000) AS BIGINT)) AS eu
                FROM tc JOIN tn ON tn.doc_id = tc.doc_id GROUP BY tc.doc_id)
         SELECT d.doc_id,
                CAST(ce.n AS BIGINT) AS n_codepoints,
                CAST(ce.dst AS BIGINT) AS distinct_chars,
                round(ce.eu / 1000000.0, 6) AS char_entropy,
                CAST(te.n AS BIGINT) AS n_tokens,
                CAST(te.dst AS BIGINT) AS distinct_tokens,
                round(te.eu / 1000000.0, 6) AS token_entropy
         FROM documents d JOIN ce ON ce.doc_id = d.doc_id
                          JOIN te ON te.doc_id = d.doc_id""")),
    QueryDef("tx_quality", txQuality, Sql {
      val sw = TextAnalysis.langProfiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
          SELECT doc_id, len(toks) AS n_tokens,
                 CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / len(toks) AS avg_token_len,
                 CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE)
                   / len(toks) AS stopword_ratio,
                 CAST(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE)
                   / len(toks) AS alpha_ratio,
                 len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS punct_chars
          FROM d"""
    }),
    QueryDef("tx_hashvec", txHashVec, Sql {
      val cols = (0 until TextAnalysis.hashVecDims)
        .map(j => s"CAST(sum(CASE WHEN (h % ${TextAnalysis.hashVecDims}) = $j THEN 1 ELSE 0 END) AS BIGINT) AS c$j")
        .mkString(", ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          hh AS (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h FROM t)
          SELECT doc_id, $cols FROM hh GROUP BY doc_id"""
    }),
    QueryDef("tx_compress", txCompress, RowsOnly("zlib bitstream length has no SQL replay")),
    QueryDef("tx_langid", txLangid, Sql {
      val hits = langHitsSql.map { case (l, e) => s"$e AS h_$l" }.mkString(", ")
      val langs = TextAnalysis.langProfiles.map(_._1)
      val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN h_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          h AS (SELECT doc_id, $hits FROM d),
          b AS (SELECT doc_id, *, $best AS best FROM h)
          SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM b"""
    }),
    QueryDef("tx_novelty", txNovelty, Sql {
      val n = noveltyN
      s"""WITH dt AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents),
          sh AS (SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - ${n - 2}, 1)),
                     i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS g
                 FROM dt),
          fr AS (SELECT g, count(*) AS gdf FROM sh GROUP BY g)
          SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(CASE WHEN fr.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS unique_grams,
                 CAST(sum(CASE WHEN fr.gdf = 1 THEN 1 ELSE 0 END) * 1000000
                      // count(*) AS BIGINT) AS novelty_ppm
          FROM sh JOIN fr USING (g) GROUP BY sh.doc_id"""
    }),
    QueryDef("tx_lang_confusion", txLangConfusion, Sql {
      val hits = langHitsSql.map { case (l, e) => s"$e AS h_$l" }.mkString(", ")
      val langs = TextAnalysis.langProfiles.map(_._1)
      val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN h_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                     FROM documents),
          h AS (SELECT doc_id, lang, $hits FROM d),
          b AS (SELECT doc_id, lang, *, $best AS best FROM h)
          SELECT lang AS labeled, CASE $cases ELSE 'und' END AS predicted,
                 CAST(count(*) AS BIGINT) AS n
          FROM b GROUP BY 1, 2"""
    }),
    QueryDef("tx_fingerprint", txFingerprint, Sql {
      val p = TextAnalysis.fpPrime
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          pos AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
                    i -> (CAST(('0x' || substr(md5(toks[i]), 1, 8)) AS BIGINT) * i) % $p))
                    AS v FROM d),
          pfp AS (SELECT doc_id, CAST(sum(v) % $p AS BIGINT) AS positional_fp FROM pos GROUP BY doc_id)
          SELECT d.doc_id,
                 md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS content_fp,
                 pfp.positional_fp
          FROM d JOIN pfp ON d.doc_id = pfp.doc_id"""
    }),
    QueryDef("tx_levenshtein", txLevenshtein, Sql(
      s"""WITH $lshPairsCte
          SELECT id_a, id_b, levenshtein(ta.text, tb.text) AS edit_dist
          FROM pairs JOIN documents ta ON id_a = ta.doc_id
                     JOIN documents tb ON id_b = tb.doc_id""")),
    QueryDef("tx_clean", txClean, Sql(
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                     '\s+', ' ', 'g')) AS clean_text
         FROM documents""")),
    QueryDef("tx_url_canon", txUrlCanon, Sql(
      s"""WITH $urlSynthCte,
          c8 AS (SELECT doc_id, url, ${urlCanonSqlExpr("url")} AS cu FROM u)
          SELECT doc_id, url, ${sortParamsSqlExpr("cu")} AS canon_url FROM c8""")),
    QueryDef("dd_url_dedup", ddUrlDedup, Sql {
      val notBlocked = blockedDomains.map(d =>
        s"NOT (host = '$d' OR host LIKE '%.$d')").mkString(" AND ")
      s"""WITH $urlSynthCte,
          c8 AS (SELECT doc_id, ${urlCanonSqlExpr("url")} AS cu FROM u),
          c AS (SELECT doc_id, ${sortParamsSqlExpr("cu")} AS canon_url FROM c8),
          h AS (SELECT doc_id, canon_url,
                  regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                    AS host
                FROM c)
          SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keeper_id,
                 CAST(count(*) AS BIGINT) AS n_fetches
          FROM h WHERE $notBlocked
          GROUP BY canon_url"""
    }),
    // the full extraction cascade replayed stage by stage (see
    // plans.HtmlExtract scaladoc): synth page → strip invisible
    // regions → block segmentation → per-block tag strip + link
    // count → entity decode → collapse → keep rule → ordered rejoin
    QueryDef("tx_extract_html", txExtractHtml, Sql(
      s"""SELECT doc_id, main_text, n_blocks, kept_blocks, n_links
          FROM ${htmlExtractSql("documents")} e""")),
    QueryDef("ds_split", dsSplit, Sql(
      """WITH s AS (SELECT doc_id,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 100 < 80 THEN 'train'
                      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
          SELECT split, count(*) AS n_docs, min(doc_id) AS min_id FROM s GROUP BY split""")),
    QueryDef("dq_ref_integrity", dqRefIntegrity, Sql(
      """WITH d AS (SELECT doc_id AS id FROM documents),
          e AS (SELECT vec_id AS id FROM embeddings),
          j AS (SELECT CASE WHEN d.id IS NOT NULL AND e.id IS NOT NULL
                            THEN 'matched'
                            WHEN d.id IS NOT NULL THEN 'doc_only'
                            ELSE 'vec_only' END AS status
                FROM d FULL OUTER JOIN e ON d.id = e.id)
          SELECT status, CAST(count(*) AS BIGINT) AS n
          FROM j GROUP BY status""")),
    QueryDef("dq_profile", dqProfile, Sql {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count($c) AS nonnull_cnt,
                   round(CAST(min($c) AS DOUBLE), 6) AS min_val,
                   round(CAST(max($c) AS DOUBLE), 6) AS max_val,
                   count(DISTINCT $c) AS distinct_cnt
            FROM lineitem"""
      }.mkString(" UNION ALL ")
    }),
    // gzip unpack replay (r20): inflate(deflate(text)) must be the
    // identity — the oracle emits the text directly, the engine earns
    // it through real gzip bytes; flags from the variant arithmetic
    QueryDef("mm_gunzip", mmGunzip, Sql(
      """SELECT doc_id, doc_id % 2 = 0 AS was_gzip, TRUE AS ok, text
         FROM documents""")),
    // MIME routing replay (r20): variant arithmetic + the planted
    // 4-byte head per posture (jpeg's SOI+SOF0, java gzip's fixed
    // 1f8b0800 header, the html doctype, the text's own first bytes)
    QueryDef("mm_sniff", mmSniff, Sql(
      """WITH d AS (SELECT doc_id, text, CAST(doc_id % 7 AS INT) AS v
                    FROM documents)
         SELECT doc_id,
                CASE v WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                     WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'text/html'
                     WHEN 4 THEN 'text/plain'
                     WHEN 5 THEN 'application/gzip'
                     ELSE 'application/pdf' END AS mime,
                CASE v WHEN 0 THEN '89504e47' WHEN 1 THEN 'ffd8ffc0'
                     WHEN 2 THEN '52494646' WHEN 3 THEN '3c21646f'
                     WHEN 4 THEN lower(hex(encode(substr(text, 1, 4))))
                     WHEN 5 THEN '1f8b0800'
                     ELSE '25504446' END AS head_hex
         FROM d""")),
    // Replays the container-building arithmetic (documentsAsImages) and
    // the header parse together: dims from payload length, n_bytes =
    // payload + fixed container overhead (PNG 57 B, JPEG 23 B), 8-bit
    // RGB in both formats.
    QueryDef("mm_decode", mmDecode, Sql(
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
         SELECT doc_id AS media_id,
                CAST(len + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 23 END AS BIGINT) AS n_bytes,
                CAST(len % 640 + 1 AS INT) AS width,
                CAST((len * 7) % 480 + 1 AS INT) AS height,
                3 AS channels, 8 AS bit_depth,
                CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
         FROM d""")),
    QueryDef("mm_audio", mmAudio, Sql(
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
          p AS (SELECT doc_id, len,
                       CAST(1 + doc_id % 2 AS INT) AS channels,
                       CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                            ELSE 44100 END AS INT) AS sample_rate,
                       (1 + doc_id % 2) * 2 AS block FROM d),
          q AS (SELECT doc_id, channels, sample_rate, block,
                       len + (block - len % block) % block AS padded FROM p)
          SELECT doc_id AS media_id, CAST(56 + padded AS BIGINT) AS n_bytes,
                 channels, sample_rate, 16 AS bits_per_sample,
                 CAST(padded // block AS BIGINT) AS n_samples,
                 CAST((padded // block) * 1000 // sample_rate AS BIGINT) AS duration_ms
          FROM q""")),
    // PCM replay: ASCII corpus ⇒ byte values == char codes; samples =
    // little-endian byte pairs of the padded data chunk (hi byte <
    // 128, so s16 sign extension is the identity); Σv² stays integral,
    // the sqrt divides exact integers — IEEE-identical in both engines
    QueryDef("mm_audio_features", mmAudioFeatures, Sql(
      """WITH d AS (SELECT doc_id, string_split(text, '') AS cs,
                    octet_length(encode(text)) AS len,
                    (1 + doc_id % 2) * 2 AS block FROM documents),
          p AS (SELECT doc_id, cs, len,
                       len + (block - len % block) % block AS padded FROM d),
          s AS (SELECT doc_id, padded // 2 AS n,
                  list_transform(range(1, padded // 2 + 1),
                    j -> (CASE WHEN 2*j - 1 <= len THEN ord(cs[2*j - 1]) ELSE 0 END)
                       + 256 * (CASE WHEN 2*j <= len THEN ord(cs[2*j]) ELSE 0 END))
                    AS sm
                FROM p),
          a AS (SELECT doc_id, n, sm,
                  CAST(list_sum(list_transform(sm, v -> CAST(v AS BIGINT) * v))
                       AS BIGINT) AS sumsq,
                  CAST(list_sum(sm) AS BIGINT) AS sum
                FROM s WHERE n >= 1),
          mu AS (SELECT doc_id, n, sm, sumsq,
                   CAST(round(1000.0 * sum / n) AS BIGINT) AS mu FROM a),
          f AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
                  CAST(round(1000.0 * sqrt(CAST(sumsq AS DOUBLE) / n)) AS BIGINT)
                    AS rms_milli,
                  CAST(list_max(list_transform(sm, v -> abs(CAST(v AS BIGINT))))
                       AS BIGINT) AS peak,
                  CAST(list_sum(list_transform(range(1, n),
                         i -> CASE WHEN (1000*sm[i] - mu)*(1000*sm[i+1] - mu) < 0
                              THEN 1 ELSE 0 END)) AS BIGINT) AS mean_crossings
                FROM mu)
          SELECT p.doc_id AS media_id,
                 COALESCE(f.n_samples, 0) AS n_samples,
                 COALESCE(f.rms_milli, 0) AS rms_milli,
                 COALESCE(f.peak, 0) AS peak,
                 COALESCE(f.mean_crossings, 0) AS mean_crossings
          FROM p LEFT JOIN f ON f.doc_id = p.doc_id""")),
    QueryDef("mm_frames", mmFrames, Sql(
      s"""WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
          SELECT doc_id AS media_id,
                 unnest(range(0, n, ${Multimodal.batchSize})) AS frame_offset,
                 CAST(n AS BIGINT) AS n_bytes
          FROM d""")),
    QueryDef("mm_features", mmFeatures, Sql {
      // corpus text is pure ASCII, so UTF-8 byte values == char codes
      val cols = (0 until 8)
        .map(j => s"CAST(sum(CASE WHEN b = $j THEN 1 ELSE 0 END) AS BIGINT) AS c$j")
        .mkString(", ")
      s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
          h AS (SELECT doc_id, ord(c) % 8 AS b FROM ch)
          SELECT doc_id AS media_id, $cols FROM h GROUP BY doc_id"""
    }),
    QueryDef("mm_phash", mmPhash, Sql(s"WITH $phashCte SELECT media_id, dhash FROM ph")),
    QueryDef("mm_image_neardups", mmImageNearDups, Sql(
      // deliberately the BRUTE-FORCE all-pairs form: oracle agreement
      // proves the 64/16 banding loses nothing at the Hamming-3 cutoff
      // on the live corpus, not just on spec fixtures
      s"""WITH $phashCte
          SELECT a.media_id AS id_a, b.media_id AS id_b,
                 CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
          FROM ph a JOIN ph b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= ${Dedup.simhashMaxHamming}""")),
    QueryDef("mm_resize", mmResize, Sql(
      // NN gather replayed literally: source pixel index for output
      // (y, x, c) over a 16x12x3 buffer resized to 8x6 is
      // ((y*12//6)*16 + (x*16//8))*3 + c, and the buffer tiles the
      // doc's ASCII bytes, so byte value = ord(char at index mod len)
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents),
         g AS (SELECT doc_id, text, L, y.range AS y, x.range AS x, c.range AS c
               FROM d, range(0, 6) y, range(0, 8) x, range(0, 3) c),
         v AS (SELECT doc_id,
                      ord(substr(text,
                        CAST((((y*12//6)*16 + (x*16//8))*3 + c) % L AS INT) + 1,
                        1)) AS b
               FROM g)
         SELECT doc_id AS media_id, 8 AS out_w, 6 AS out_h,
                CAST(144 AS BIGINT) AS n_bytes,
                CAST(sum(b) AS BIGINT) AS pix_sum
         FROM v GROUP BY doc_id""")),
    QueryDef("tx_pmi", txPmi, Sql(s"""
      WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      uni AS (SELECT unnest(toks) AS w FROM t),
      uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_tokens FROM uc),
      pr AS (SELECT toks[i] AS w1, toks[i+1] AS w2
             FROM t, unnest(range(1, len(toks))) r(i)),
      pc AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2
             HAVING count(*) >= $pmiMinCount),
      pt AS (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT)
                    AS t_pairs FROM t)
      SELECT pc.w1, pc.w2, CAST(pc.c12 AS BIGINT) AS c12,
             CAST(round((ln(pc.c12) - ln(pt.t_pairs)
                  - ln(u1.c) - ln(u2.c)
                  + 2 * ln(tot.t_tokens)) * 1e6) AS BIGINT) AS pmi_micro
      FROM pc JOIN uc u1 ON u1.w = pc.w1
              JOIN uc u2 ON u2.w = pc.w2, tot, pt""")),
    QueryDef("tx_top_bigrams", txTopBigrams, Sql(
      """WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(toks)),
                 i -> array_to_string(toks[i:i+1], ' '))) AS bigram FROM d),
         c AS (SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram)
         SELECT bigram, cnt FROM c ORDER BY cnt DESC, bigram LIMIT 20""")),
    QueryDef("tx_rep_ngrams", txRepNgrams, Sql(repNgramsSql)),
    QueryDef("tx_nb_quality", txNbQuality, Sql(
      s"""WITH lbl AS (SELECT doc_id, text,
                 source IN ($lmRefSourcesSql) AS pos FROM documents),
          tok AS (SELECT doc_id, pos, unnest(string_split(text, ' ')) AS token
                  FROM lbl),
          model AS (SELECT token,
                      sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
                      sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS c_neg
                    FROM tok GROUP BY token),
          tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg,
                         count(*) AS vsz FROM model),
          pri AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p_docs,
                         sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS n_docs
                  FROM lbl),
          per AS (SELECT t.doc_id,
                    ln(coalesce(m.c_pos, 0) + 1.0) - ln(tot.t_pos + tot.vsz)
                    - ln(coalesce(m.c_neg, 0) + 1.0) + ln(tot.t_neg + tot.vsz) AS llr
                  FROM tok t LEFT JOIN model m USING (token), tot),
          agg AS (SELECT doc_id, count(*) AS n_tokens, sum(llr) AS sum_llr
                  FROM per GROUP BY doc_id)
          SELECT l.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                 round(coalesce(a.sum_llr, 0) + ln(p.p_docs) - ln(p.n_docs), 6)
                   AS nb_llr,
                 (coalesce(a.sum_llr, 0) + ln(p.p_docs) - ln(p.n_docs)) > 0
                   AS nb_label
          FROM lbl l LEFT JOIN agg a USING (doc_id), pri p""")),
    QueryDef("tx_bpe_merges", txBpeMerges, Sql {
      val sel = (1 to bpeMerges)
        .map(r => s"SELECT $r AS merge_rank, l AS lhs, rr AS rhs, cnt AS freq FROM b$r")
        .mkString(" UNION ALL ")
      s"WITH $bpeRoundCtes $sel"
    }),
    QueryDef("tx_bpe_vocab", txBpeVocab, Sql(
      s"""WITH $bpeRoundCtes
          SELECT word, freq, string_agg(sym, ' ' ORDER BY pos) AS encoding
          FROM s$bpeMerges GROUP BY word, freq""")),
    QueryDef("tx_bpe_encode", txBpeEncode, Sql(
      s"""WITH $bpeRoundCtes,
          vocab AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS encoding
                    FROM s$bpeMerges GROUP BY word),
          dw AS (SELECT doc_id, i AS wpos, toks[i] AS word
                 FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
                      unnest(range(1, len(toks) + 1)) t(i)),
          enc AS (SELECT doc_id, string_agg(encoding, ' ' ORDER BY wpos) AS tokens
                  FROM dw JOIN vocab USING (word) GROUP BY doc_id)
          SELECT doc_id, len(string_split(tokens, ' ')) AS n_tokens, tokens FROM enc""")),
    // the persisted-serving twin must produce the identical encoding
    QueryDef("tx_bpe_encode_persisted", txBpeEncode, Sql(
      s"""WITH $bpeRoundCtes,
          vocab AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS encoding
                    FROM s$bpeMerges GROUP BY word),
          dw AS (SELECT doc_id, i AS wpos, toks[i] AS word
                 FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
                      unnest(range(1, len(toks) + 1)) t(i)),
          enc AS (SELECT doc_id, string_agg(encoding, ' ' ORDER BY wpos) AS tokens
                  FROM dw JOIN vocab USING (word) GROUP BY doc_id)
          SELECT doc_id, len(string_split(tokens, ' ')) AS n_tokens, tokens FROM enc""")),
    QueryDef("tx_bpe_coverage", txBpeCoverage, Sql(
      s"""WITH $bpeRoundCtes,
          vocab AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS encoding
                    FROM s$bpeMerges GROUP BY word),
          batch AS (SELECT CASE WHEN doc_id % 5 = 0
                      THEN array_to_string(list_transform(string_split(text, ' '),
                             w -> w || '_v2'), ' ')
                      ELSE text END AS text FROM documents),
          w AS (SELECT unnest(string_split(text, ' ')) AS word FROM batch),
          wc AS (SELECT word, count(*) AS occ FROM w GROUP BY word),
          j AS (SELECT wc.word, wc.occ,
                       len(string_split(v.encoding, ' ')) AS n_sub
                FROM wc LEFT JOIN vocab v USING (word))
          SELECT CAST(sum(occ) AS BIGINT) AS n_words,
                 count(*) AS n_distinct,
                 round(sum(CASE WHEN n_sub IS NULL THEN occ ELSE 0 END)
                       / CAST(sum(occ) AS DOUBLE), 6) AS oov_word_rate,
                 round(sum(CASE WHEN n_sub IS NULL THEN 1 ELSE 0 END)
                       / CAST(count(*) AS DOUBLE), 6) AS oov_distinct_rate,
                 round(sum(coalesce(n_sub, 1) * occ)
                       / CAST(sum(occ) AS DOUBLE), 6) AS tokens_per_word
          FROM j""")),
    QueryDef("dq_datacard", dqDatacard, Sql(
      s"""WITH rep AS ($repNgramsSql),
          lmsc AS ($lmScoreSql),
          dd AS (SELECT doc_id, source, lang, text,
                        len(string_split(text, ' ')) AS n_toks FROM documents),
          lt AS (SELECT source, lang, count(*) AS c FROM dd GROUP BY 1, 2),
          topl AS (SELECT source, lang AS top_lang FROM lt
                   QUALIFY row_number() OVER (PARTITION BY source
                                              ORDER BY c DESC, lang DESC) = 1),
          agg AS (SELECT dd.source, count(*) AS n_docs,
                         CAST(sum(dd.n_toks) AS BIGINT) AS n_tokens,
                         round(avg(dd.n_toks), 2) AS avg_doc_tokens,
                         round((count(*) - count(DISTINCT dd.text)) * 1.0 / count(*), 6)
                           AS exact_dup_rate,
                         round(avg(r.top_2gram_frac), 6) AS avg_top2_frac,
                         round(avg(sc.avg_nll), 6) AS avg_nll
                  FROM dd JOIN rep r ON dd.doc_id = r.doc_id
                          JOIN lmsc sc ON dd.doc_id = sc.doc_id
                  GROUP BY dd.source)
          SELECT a.source, a.n_docs, a.n_tokens, a.avg_doc_tokens,
                 a.exact_dup_rate, a.avg_top2_frac, a.avg_nll, t.top_lang
          FROM agg a JOIN topl t ON a.source = t.source""")),
    QueryDef("ds_chunk", dsChunk, Sql {
      val c = chunkTokens; val st = chunkTokens - chunkOverlap
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          n AS (SELECT doc_id, toks,
                  CASE WHEN len(toks) <= $c THEN 1
                       ELSE (len(toks) - $c + ${st - 1}) // $st + 1 END AS nc FROM d)
          SELECT doc_id, k AS chunk_id,
                 len(toks[k*$st+1 : k*$st+$c]) AS n_tokens,
                 array_to_string(toks[k*$st+1 : k*$st+$c], ' ') AS chunk_text
          FROM n, unnest(range(0, nc)) t(k)"""
    }),
    QueryDef("dd_snapshot_diff", ddSnapshotDiff, Sql(
      """WITH prev AS (SELECT doc_id, text FROM documents),
          nxt AS (SELECT doc_id,
                    CASE WHEN doc_id % 10 = 1 THEN text || ' rev2' ELSE text END AS text
                  FROM documents WHERE doc_id % 10 <> 0
                  UNION ALL
                  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 2),
          j AS (SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
                       md5(p.text) AS ma, md5(n.text) AS mb
                FROM prev p FULL OUTER JOIN nxt n ON p.doc_id = n.doc_id)
          SELECT doc_id,
                 CASE WHEN ma IS NULL THEN 'added'
                      WHEN mb IS NULL THEN 'removed'
                      WHEN ma <> mb THEN 'modified' END AS status
          FROM j
          WHERE ma IS NULL OR mb IS NULL OR ma <> mb""")),
    QueryDef("dd_paragraph", ddParagraph, Sql {
      val c = paraTokens
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          n AS (SELECT doc_id, toks, (len(toks) - 1) // $c + 1 AS np FROM d),
          paras AS (SELECT doc_id, k AS chunk_id,
                      array_to_string(toks[k*$c+1 : k*$c+$c], ' ') AS chunk_text
                    FROM n, unnest(range(0, np)) t(k)),
          win AS (SELECT chunk_text, min(struct_pack(doc_id := doc_id,
                         chunk_id := chunk_id)) AS w
                  FROM paras GROUP BY chunk_text),
          kept AS (SELECT p.doc_id,
                     string_agg(p.chunk_text, ' ' ORDER BY p.chunk_id) AS clean_text,
                     count(*) AS n_kept
                   FROM paras p JOIN win w
                     ON p.chunk_text = w.chunk_text
                    AND p.doc_id = w.w.doc_id AND p.chunk_id = w.w.chunk_id
                   GROUP BY p.doc_id)
          SELECT n.doc_id, n.np AS n_paras,
                 coalesce(k.n_kept, 0) AS n_kept,
                 coalesce(k.clean_text, '') AS clean_text
          FROM n LEFT JOIN kept k ON n.doc_id = k.doc_id"""
    }),
    QueryDef("dd_paragraph_lines", ddParagraphLines, Sql(
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
                            CAST(doc_id % 7 + 1 AS INT) AS k
                     FROM documents),
          s AS (SELECT doc_id,
                  concat_ws(chr(10) || chr(10),
                    'newsletter footer unsubscribe daily digest',
                    array_to_string(toks[1:k], ' '),
                    'licensed under creative commons attribution share alike',
                    array_to_string(toks[k+1:len(toks)], ' ')) AS t
                FROM d),
          sp AS (SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps FROM s),
          paras AS (SELECT doc_id, i AS chunk_id, ps[i+1] AS chunk_text
                    FROM sp, unnest(range(0, len(ps))) t(i)
                    WHERE ps[i+1] <> ''),
          win AS (SELECT chunk_text, min(struct_pack(doc_id := doc_id,
                         chunk_id := chunk_id)) AS w
                  FROM paras GROUP BY chunk_text),
          kept AS (SELECT p.doc_id,
                     string_agg(p.chunk_text, chr(10) || chr(10)
                       ORDER BY p.chunk_id) AS clean_text,
                     count(*) AS n_kept
                   FROM paras p JOIN win w
                     ON p.chunk_text = w.chunk_text
                    AND p.doc_id = w.w.doc_id AND p.chunk_id = w.w.chunk_id
                   GROUP BY p.doc_id),
          np AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id)
          SELECT np.doc_id, np.n_paras,
                 coalesce(k.n_kept, 0) AS n_kept,
                 coalesce(k.clean_text, '') AS clean_text
          FROM np LEFT JOIN kept k ON np.doc_id = k.doc_id""")),
    QueryDef("ds_curate", dsCurate, Sql(curateVerdictSql)),
    QueryDef("ds_pipeline", dsPipeline, Sql(
      s"""WITH cur AS ($curateVerdictSql),
          surv AS (SELECT dd.doc_id,
                     CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_tokens
                   FROM documents dd JOIN cur ON cur.doc_id = dd.doc_id
                   WHERE cur.verdict = 'kept'),
          c AS (SELECT doc_id, n_tokens,
                       CAST(sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum
                FROM surv)
          SELECT CAST((cum - n_tokens) // $shardBudget AS BIGINT) AS shard_id,
                 count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM c GROUP BY 1""")),
    QueryDef("tx_lm_bigrams", txLmBigrams, Sql(
      s"""WITH r AS (SELECT string_split(text, ' ') AS toks FROM documents
                     WHERE source IN ($lmRefSourcesSql)),
          b AS (SELECT toks[i] AS ctx, toks[i+1] AS nxt
                FROM r, unnest(range(1, greatest(len(toks), 1))) t(i))
          SELECT ctx, nxt, count(*) AS c2 FROM b GROUP BY ctx, nxt""")),
    QueryDef("tx_lm_score", txLmScore, Sql(lmScoreSql)),
    QueryDef("tx_lm_contrast", txLmContrast, Sql(
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          r AS (SELECT string_split(text, ' ') AS toks FROM documents
                WHERE source IN ($lmRefSourcesSql)),
          tb AS (SELECT toks[i] AS ctx, toks[i+1] AS nxt
                 FROM r, unnest(range(1, greatest(len(toks), 1))) t(i)),
          lmt AS (SELECT ctx, nxt, count(*) AS c2 FROM tb GROUP BY ctx, nxt),
          ctt AS (SELECT ctx, sum(c2) AS c1 FROM lmt GROUP BY ctx),
          vt AS (SELECT count(DISTINCT nxt) AS vsz FROM lmt),
          db AS (SELECT doc_id, toks[i] AS ctx, toks[i+1] AS nxt
                 FROM d, unnest(range(1, greatest(len(toks), 1))) t(i)),
          lmr AS (SELECT ctx, nxt, count(*) AS c2 FROM db GROUP BY ctx, nxt),
          ctr AS (SELECT ctx, sum(c2) AS c1 FROM lmr GROUP BY ctx),
          vr AS (SELECT count(DISTINCT nxt) AS vsz FROM lmr),
          s AS (SELECT db.doc_id,
                  -ln((coalesce(lmt.c2, 0) + 1.0) / (coalesce(ctt.c1, 0) + vt.vsz)) AS nt,
                  -ln((coalesce(lmr.c2, 0) + 1.0) / (coalesce(ctr.c1, 0) + vr.vsz)) AS nr
                FROM db LEFT JOIN lmt ON db.ctx = lmt.ctx AND db.nxt = lmt.nxt
                        LEFT JOIN ctt ON db.ctx = ctt.ctx
                        LEFT JOIN lmr ON db.ctx = lmr.ctx AND db.nxt = lmr.nxt
                        LEFT JOIN ctr ON db.ctx = ctr.ctx
                        CROSS JOIN vt CROSS JOIN vr),
          g AS (SELECT doc_id, count(*) AS n_bigrams,
                       round(avg(nt), 6) AS avg_nll_target,
                       round(avg(nr), 6) AS avg_nll_ref,
                       round(avg(nr) - avg(nt), 6) AS log_importance
                FROM s GROUP BY doc_id)
          SELECT d.doc_id, coalesce(g.n_bigrams, 0) AS n_bigrams,
                 g.avg_nll_target, g.avg_nll_ref, g.log_importance
          FROM d LEFT JOIN g ON d.doc_id = g.doc_id""")))
}
