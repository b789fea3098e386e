package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.stageLocal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training (Sennrich,
  * Haddow & Birch, "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016) — the vocabulary-induction step in front
  * of every LLM pretraining corpus. Classic BPE: explode the corpus'
  * DISTINCT words into character symbols (plus an end-of-word
  * marker), then repeatedly merge the most frequent adjacent symbol
  * pair, weighting by word frequency.
  *
  * Scale shape: all state lives in one `(word, freq, pos, sym)`
  * frame keyed by word — at 100 TB that's the distinct-word frame
  * (billions of rows, far beyond a driver dict, which is exactly why
  * the textbook in-memory trainer doesn't scale), and every round is
  * one `lead` window + one pair-count groupBy (map-side combined) +
  * one window-pass merge application, all partitioned by word. Only
  * the argmax pair — the model itself, k rows after k rounds —
  * touches the driver, the same boundary as the Lloyd trainer's
  * centroids. Each round's symbol frame is staged with
  * `GraftBridge.stageLocal`, which truncates the lineage; the staged
  * blocks stay until the caller's `releaseStaged` consume boundary, or
  * until the ContextCleaner collects the dropped rounds.
  *
  * Greedy left-to-right merge application is the published tie rule:
  * overlapping matches only arise when lhs == rhs (runs like "aaaa"),
  * where the leftmost pair wins — expressed as run-grouping + odd
  * parity, two window functions, no sequential scan. Pair selection
  * ties break deterministically by (count, lhs, rhs) descending.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** A trained tokenizer: the merge table (driver-side — k rows, it
    * IS the model) plus the final per-word symbol frame (staged, so
    * it lives until the caller's consume boundary). Every view below
    * (merge table, vocabulary, document encode) derives from one
    * `Trained`; a model that must outlive a query is written once with
    * `ensureModel` and served from its tables. */
  final case class Trained(merges: Seq[(Int, String, String, Long)],
                           symbols: DataFrame)

  /** Corpus words → per-word character symbols: (word, freq, pos, sym). */
  private def initialSymbols(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        posexplode(concat(regexp_extract_all(col("word"), lit("."), lit(0)),
          array(lit(EndOfWord)))).as(Seq("p", "sym")))
      .select(col("word"), col("freq"), (col("p") + 1).as("pos"), col("sym"))

  /** One merge round: replace every non-overlapping (l, r) adjacency
    * with the concatenated symbol, leftmost-first within runs. */
  private def applyMerge(sym: DataFrame, l: String, r: String): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    val marked = sym
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .withColumn("m",
        col("nxt").isNotNull && col("sym") === l && col("nxt") === r)
    // runs of consecutive matches (only possible when l == r): keep
    // odd positions within each run — greedy left-to-right pairing
    val sel = marked
      .withColumn("grp", when(col("m"), col("pos") -
        row_number().over(Window.partitionBy("word", "m").orderBy("pos"))))
      .withColumn("take", col("m") && row_number()
        .over(Window.partitionBy("word", "m", "grp").orderBy("pos")) % 2 === 1)
    sel
      .withColumn("ptake", lag(col("take"), 1, false).over(w))
      .filter(!col("ptake")) // the consumed right half of each merge
      .select(col("word"), col("freq"),
        row_number().over(w).as("pos"),
        when(col("take"), concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
  }

  /** Run the training loop: the merge table (driver-side — it IS the
    * model) and the final symbol frame. A staged frame's blocks are
    * written by the first job that reads it, so each round's argmax
    * job also materializes the previous round's merge result — one
    * job per round instead of two. */
  def train(docs: DataFrame, text: Column, numMerges: Int): Trained = {
    var sym = stageLocal(initialSymbols(docs, text))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val w = Window.partitionBy("word").orderBy("pos")
      val best = sym
        .withColumn("nxt", lead(col("sym"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy("sym", "nxt").agg(sum(col("freq")).as("cnt"))
        .agg(max(struct(col("cnt"), col("sym"), col("nxt"))).as("b"))
        .select(col("b.cnt"), col("b.sym"), col("b.nxt"))
        .collect()(0)
      if (best.isNullAt(0)) done = true // every word fully merged
      else {
        merges += ((rank, best.getString(1), best.getString(2), best.getLong(0)))
        sym = stageLocal(applyMerge(sym, best.getString(1), best.getString(2)))
        rank += 1
      }
    }
    Trained(merges.result(), sym)
  }

  /** The learned merge table: (merge_rank, lhs, rhs, freq). */
  def trainMerges(docs: DataFrame, text: Column, numMerges: Int): DataFrame =
    mergesOf(train(docs, text, numMerges))

  /** Merge-table view of a trained model. */
  def mergesOf(t: Trained): DataFrame = {
    val spark = t.symbols.sparkSession
    import spark.implicits._
    t.merges.toDF("merge_rank", "lhs", "rhs", "freq")
  }

  /** Vocabulary view of a trained model: (word, freq, encoding). */
  def vocabOf(t: Trained): DataFrame =
    t.symbols.groupBy("word", "freq")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("sym")))),
          s => s.getField("sym"))).as("encoding"))

  /** The corpus vocabulary tokenized under the learned merges:
    * (word, freq, encoding) — encoding is the space-joined subword
    * sequence. */
  def encodeWords(docs: DataFrame, text: Column, numMerges: Int): DataFrame =
    vocabOf(train(docs, text, numMerges))

  /** Documents tokenized under the learned merges — the inference
    * half of the tokenizer: (doc_id, n_tokens, tokens), tokens the
    * space-joined subword sequence of the whole document.
    *
    * Rank-order application per word is the exact encode: a merge's
    * operands are produced only by strictly lower-rank merges, so
    * the training loop's final symbol frame IS each word's encoding.
    * Document encode therefore reduces to a dictionary join: explode
    * the corpus into (doc, pos, word), shuffle-join on `word`
    * against the per-word encoding frame (both sides word-keyed —
    * at 100 TB the vocabulary is the distinct-word frame, far past
    * broadcast size), and reassemble per document. Per-doc cost is
    * one join probe per word; nothing is quadratic in |vocab|. */
  def encodeDocs(docs: DataFrame, id: Column, text: Column,
                 numMerges: Int): DataFrame =
    encodeDocsWith(train(docs, text, numMerges), docs, id, text)

  /** Document encode against an already-trained model — the serving
    * half: no training jobs, one vocabulary join. */
  def encodeDocsWith(t: Trained, docs: DataFrame, id: Column,
                     text: Column): DataFrame =
    encodeAgainst(vocabOf(t).select(col("word"), col("encoding")),
      docs, id, text)

  private def encodeAgainst(vocab: DataFrame, docs: DataFrame,
                            id: Column, text: Column): DataFrame =
    docs
      .select(id.as("doc_id"),
        posexplode(split(text, " ")).as(Seq("wpos", "word")))
      .join(vocab, Seq("word"))
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("wpos"), col("encoding")))),
          s => s.getField("encoding"))).as("tokens"))
      .select(col("doc_id"),
        size(split(col("tokens"), " ")).as("n_tokens"), col("tokens"))

  /** The (vocab, merges) table names of the model persisted as `tag`. */
  def modelTables(tag: String): (String, String) =
    (s"bpe_vocab_$tag", s"bpe_merges_$tag")

  /** Idempotent persisted-model materialization ([[Bucketing.buildOnce]]):
    * the first call trains and writes, later calls reuse the stored
    * artifact — the per-word vocabulary bucketed on `word` (the
    * serving join key) plus the k-row merge table as one plain file
    * (the auditable model artifact). At 100 TB the vocabulary is the
    * distinct-word frame, so the serving join shuffles only the
    * document side against the stored bucket layout; training never
    * re-runs in the serving session. */
  def ensureModel(spark: org.apache.spark.sql.SparkSession, root: String,
                  tag: String, nBuckets: Int = 8)(build: => Trained): Unit = {
    val (tv, tm) = modelTables(tag)
    Bucketing.buildOnce(spark, root, Seq(
      Bucketing.Table(tv, "vocab", Some(Seq("word") -> nBuckets)),
      Bucketing.Table(tm, "merges"))) {
      val t = build
      Seq(vocabOf(t), mergesOf(t))
    }
  }

  /** Document encode against the PERSISTED vocabulary: zero training
    * jobs, one join against the bucketed vocab table. */
  def encodeDocsPersisted(spark: org.apache.spark.sql.SparkSession,
                          tag: String, docs: DataFrame, id: Column,
                          text: Column): DataFrame =
    encodeAgainst(spark.table(modelTables(tag)._1)
      .select(col("word"), col("encoding")), docs, id, text)

  /** Tokenizer-drift monitoring: coverage of a batch under a trained
    * vocabulary — the serving-side QA line that decides when a
    * tokenizer needs retraining. Per batch: word-occurrence OOV rate,
    * distinct-word OOV rate, and the token-inflation factor
    * (subwords emitted per covered word; OOV words count 1:1 — the
    * byte/char-fallback floor). One left join of the batch's word
    * counts against the vocab — |batch-vocab| rows, never per-token. */
  def coverage(vocab: DataFrame, docs: DataFrame, text: Column): DataFrame = {
    val words = docs.select(explode(split(text, " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("occ"))
    words
      .join(vocab.select(col("word"),
        size(split(col("encoding"), " ")).as("n_sub")), Seq("word"), "left")
      .agg(
        sum(col("occ")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        round(sum(when(col("n_sub").isNull, col("occ")).otherwise(0L))
          / sum(col("occ")).cast("double"), 6).as("oov_word_rate"),
        round(sum(when(col("n_sub").isNull, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("oov_distinct_rate"),
        round(sum(coalesce(col("n_sub").cast("long"), lit(1L)) * col("occ"))
          / sum(col("occ")).cast("double"), 6).as("tokens_per_word"))
  }
}
