package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.tokenHash

/** Retrieval plumbing: the chunk → embed → index → probe composition
  * a RAG corpus build runs over every document store.
  *
  * The embedding is signed feature hashing (Weinberger et al. 2009)
  * of whitespace tokens into `Similarity.lshDims` float dims — bucket
  * and sign both derive from the portable md5 token hash, so the
  * whole composition (chunking included) replays exactly in the
  * DuckDB oracle. In production the embed stage is where a model
  * endpoint slots in (same (id, text) → (id, array<float>) shape);
  * everything downstream — the sign-LSH index layout, the bucketed
  * probe, the exact rerank — is embedding-agnostic and already the
  * serving posture the persisted-ANN family asserts.
  *
  * Scale shape: embedding is one token explode + a map-side-combined
  * 64-column sum keyed on the chunk (the corpus's only exchange);
  * the index is Similarity.annIndexFrame (pure per-row math, persist
  * bucketed on `bucket`); probes pay |queries| hyperplane dots.
  */
object Rag {

  /** Chunk keys pack (doc, chunk) into one BIGINT: doc_id ·
    * chunkKeyBase + chunk_id. 2^20 chunks/doc headroom keeps the key
    * unique for any realistic document at 64-token chunks. */
  val chunkKeyBase: Long = 1L << 20

  /** Signed feature-hash embedding: dim = h mod dims, sign = bit 6 of
    * the same hash (disjoint from the dim bits when dims is a power
    * of two ≤ 64 — `mod dims` then masks bits below bit 6, so the
    * sign rides ABOVE the bucket bits; the kernel requires exactly
    * that). Integer counts are float-exact, so the cast loses
    * nothing.
    *
    * Runs the single-pass [[graft.plans.HashEmbedKernel]]: one
    * byte-walk per document inside whole-stage codegen — no token
    * explode, no corpus-sized groupBy(vec_id) shuffle whose only
    * purpose was reassembling per-document state the row already had.
    * Bit-identical to [[hashEmbedExploded]] (RagSpec's parity law);
    * the null-text filter mirrors the exploded form (a null text
    * produced no token rows there, hence no embedding row). */
  def hashEmbed(df: DataFrame, text: Column, id: Column,
                dims: Int = Similarity.lshDims): DataFrame = {
    df.where(text.isNotNull)
      .select(id.as("vec_id"),
        graft.plans.GraftFunctions.hashEmbed(text, dims).as("embedding"))
  }

  /** The relational twin — retained ONLY as the specs' independent
    * reference for the kernel (the Winnow/DSIR precedent). */
  def hashEmbedExploded(df: DataFrame, text: Column, id: Column,
                        dims: Int = Similarity.lshDims): DataFrame = {
    val tok = df.select(id.as("vec_id"), explode(split(text, " ")).as("token"))
      .withColumn("h", tokenHash(col("token")))
      .withColumn("d", pmod(col("h"), lit(dims.toLong)))
      .withColumn("sgn",
        when(pmod(shiftright(col("h"), 6), lit(2L)) === 0, lit(1.0)).otherwise(lit(-1.0)))
    val sums = (0 until dims).map(j =>
      sum(when(col("d") === j, col("sgn")).otherwise(0.0)).as(s"e$j"))
    tok.groupBy("vec_id").agg(sums.head, sums.tail: _*)
      .select(col("vec_id"),
        array((0 until dims).map(j => col(s"e$j").cast("float")): _*).as("embedding"))
  }

  /** Chunk embeddings keyed by the packed chunk id — the frame both
    * the LSH index and the exact-recall baseline consume. */
  def chunkEmbeddings(docs: DataFrame, text: Column, id: Column,
                      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    val ch = Chunking.chunk(docs, text, id, chunkTokens, overlapTokens)
      .select((col("doc_id") * chunkKeyBase + col("chunk_id")).as("vec_id"),
        col("chunk_text"))
    hashEmbed(ch, col("chunk_text"), col("vec_id"))
  }

  /** The retrieval index: overlapping chunks, embedded and laid out
    * as the sign-LSH serving frame (persist bucketed on `bucket` via
    * Bucketing.buildOnce — same contract as annIndexFrame). */
  def chunkIndex(docs: DataFrame, text: Column, id: Column,
                 chunkTokens: Int, overlapTokens: Int): DataFrame =
    Similarity.annIndexFrame(
      chunkEmbeddings(docs, text, id, chunkTokens, overlapTokens))

  /** Retrieve top-k chunks per query text; neighbor keys decode back
    * to (src_doc, chunk_id). Queries wear negative ids so they can
    * never collide with a chunk key. */
  def retrieve(index: DataFrame, queries: DataFrame, text: Column, id: Column,
               k: Int): DataFrame = {
    val q = hashEmbed(queries.select((-(id + 1)).as("qid"), text.as("qtext")),
      col("qtext"), col("qid"))
    Similarity.lshAnnProbe(index, q, k)
      .select((-col("query_id") - 1).as("query_doc"),
        floor(col("neighbor_id") / chunkKeyBase).cast("long").as("src_doc"),
        pmod(col("neighbor_id"), lit(chunkKeyBase)).as("chunk_id"),
        col("cos"), col("rk").cast("long").as("rk"))
  }

  /** BM25 lexical retrieval (Robertson–Spärck Jones; the Okapi
    * formula with idf = ln(1 + (N − df + ½)/(df + ½))) — the lexical
    * counterpart to the vector `retrieve` path; production RAG runs
    * both and fuses. Top-k corpus documents per query document by
    * summed per-term score.
    *
    * Determinism: each (query, doc, term) contribution is rounded to
    * integer MICRO-units before the sum (the Lloyd-recenter trick),
    * so the score is partial-aggregation- and order-invariant and
    * the DuckDB oracle replays it bit-exactly; ranking ties break to
    * the lower doc_id.
    *
    * Scale shape: term stats are two map-side-combined aggregations;
    * the only corpus-sized joins are keyed (postings on `term`, doc
    * length on `doc_id`); the 1-row stats frame rides as an in-plan
    * broadcast; ranking is the bounded O(k)-state top-k aggregate,
    * never a corpus-wide sort. A stopword term's posting list is the
    * skew risk — its idf floor makes the contribution tiny, so
    * production would drop terms below an idf cut before the join
    * (the maxPostingLen argument from the Jaccard family). */
  def bm25TopK(corpus: DataFrame, text: Column, id: Column,
               queries: DataFrame, qText: Column, qId: Column,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // tf staged ONCE (r21): the df aggregation AND the scoring join
    // both read it — unstaged, the corpus tokenize-explode + (doc,
    // term) aggregation ran twice. Same for dl (read by the global
    // stats and the scoring join; one row per doc). stageLocal:
    // doc_id is a raw source id.
    val tf = org.apache.spark.sql.GraftBridge.stageLocal(
      corpus.select(id.as("doc_id"), explode(split(text, " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    // doc length = token count — a pure projection (Σ tf would re-run
    // the tokenize explode and a second corpus-keyed aggregation)
    val dl = org.apache.spark.sql.GraftBridge.stageLocal(
      corpus.select(id.as("doc_id"),
        size(split(text, " ")).cast("long").as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qt = queries
      .select(qId.as("query_id"), explode(split(qText, " ")).as("term"))
      .distinct()
    val scored = qt
      .join(dfreq, Seq("term"))
      .join(tf, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0)
        + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfn", (col("tf") * lit(k1 + 1.0))
        / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select(col("query_id"), col("doc_id"),
        round(col("idf") * col("tfn") * lit(1e6)).cast("long").as("c_u"))
      .groupBy("query_id", "doc_id").agg(sum(col("c_u")).as("score_u"))
    val topk = udaf(new graft.functions.Aggregators.TopKByValue(k))
    scored.groupBy("query_id")
      .agg(topk(col("score_u"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"),
        round(col("col._1") / lit(1e6), 6).as("score"))
  }
}
