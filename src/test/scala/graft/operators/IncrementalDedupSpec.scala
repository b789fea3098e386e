package graft.operators

import graft.SparkSpec
import graft.queries.DataOps
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The SimHash and embedding incremental-dedup variants must carry
  * the same two contracts the MinHash form proved (DataOpsSpec):
  * with every corpus id below every batch id the incremental pass
  * equals the full rebuild restricted to the batch, and the settled
  * corpus wins regardless of id while the batch self-dedups by min
  * id. The embedding equivalence is stated under the SAME quantizer
  * (centroids are part of the index; a rebuild that retrains may
  * block differently by design).
  */
class IncrementalDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("incremental simhash equals the full Hamming-pair policy when corpus ids precede batch ids") {
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val cut = 40L
    val corpusFp = Dedup.simhash(all.filter(col("doc_id") < cut),
      col("text"), col("doc_id"))
    val inc = Dedup.incrementalSimhash(corpusFp, all.filter(col("doc_id") >= cut),
        col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // full rebuild: pairs are (id_a < id_b) within Hamming-3; a batch
    // doc survives iff it is nobody's higher-id near-dup
    val losers = Dedup.simhashPairs(all, col("text"), col("doc_id"))
      .select("id_b").collect().map(_.getLong(0)).toSet
    val want = all.filter(col("doc_id") >= cut)
      .select("doc_id").collect().map(_.getLong(0)).toSet -- losers
    assert(inc == want)
    assert(inc.nonEmpty)
  }

  test("incremental simhash: corpus wins regardless of id; batch self-dedups by min id") {
    import spark.implicits._
    // 40 tokens, one changed: ≤ a couple of fingerprint bits flip —
    // inside the Hamming-3 ball; the novel docs share no tokens
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base.replace("w40", "zz")
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val corpusFp = Dedup.simhash(corpus, col("text"), col("doc_id"))
    val batch = Seq(
      (1L, base),                    // exact dup of corpus → dropped (Hamming 0)
      (3L, "a1 a2 a3 a4 a5 a6 a7"),  // novel → kept
      (4L, "a1 a2 a3 a4 a5 a6 a7"))  // exact dup of batch 3 → dropped
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalSimhash(corpusFp, batch, col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
    // the near-dup text lands within the ball of the corpus doc
    val hamming = Dedup.simhash(Seq((1L, base), (2L, near)).toDF("doc_id", "text"),
        col("text"), col("doc_id"))
      .agg(bit_count(min(col("simhash")).bitwiseXOR(max(col("simhash")))))
      .collect()(0).getInt(0)
    assert(hamming <= Dedup.simhashMaxHamming, s"fixture drifted: hamming=$hamming")
  }

  test("incremental embedding equals the same-quantizer rebuild when corpus ids precede batch ids") {
    import spark.implicits._
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    val cut = 250L
    val corpus = all.filter(col("vec_id") < cut)
    val cents = Similarity.lloydTrain(corpus, DataOps.lloydK, DataOps.lloydIters)
      .toDF("centroid_id", "cent")
    val inc = Dedup.incrementalEmbedding(
        Similarity.lloydAssign(corpus, cents), cents,
        all.filter(col("vec_id") >= cut), 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // rebuild under the SAME centroids over corpus+batch
    val losers = Dedup.embeddingNearDupsBy(
        Similarity.lloydAssign(all, cents), "centroid_id", 0.95)
      .select("id_b").collect().map(_.getLong(0)).toSet
    val want = all.filter(col("vec_id") >= cut)
      .select("vec_id").collect().map(_.getLong(0)).toSet -- losers
    assert(inc == want)
    assert(inc.nonEmpty)
  }

  test("incremental semDedup verdicts equal the full rebuild restricted to the batch") {
    import spark.implicits._
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    val cut = 250L
    val corpus = all.filter(col("vec_id") < cut)
    // plant a cross twin so the fixture provably drops something
    val planted = corpus.limit(1).select(lit(900001L).as("vec_id"),
      transform(col("embedding"), x => x * 1.000001f).as("embedding"),
      col("label"))
    val batch = all.filter(col("vec_id") >= cut).unionByName(planted)
    val allPlus = all.unionByName(planted)
    val cents = Similarity.lloydTrain(corpus, DataOps.lloydK, DataOps.lloydIters)
      .toDF("centroid_id", "cent")
    val inc = Dedup.incrementalSemDedup(
        Similarity.lloydAssign(corpus, cents), cents, batch, 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    // dominance is PAIRWISE (never transitive), so under the same
    // centroids the incremental verdicts must be bit-identical to the
    // full rebuild's rows for the batch ids — cell, distance, verdict
    val rebuild = Dedup.semDedup(allPlus, cents, 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(inc.keySet == batchIds, "one verdict row per batch vector")
    batchIds.foreach { id =>
      assert(inc(id) == rebuild(id), s"verdict drift for $id: ${inc(id)} vs ${rebuild(id)}")
    }
    assert(inc.values.exists(!_._3), "fixture must actually drop some batch rows")
    assert(inc.values.exists(_._3), "and keep some")
  }

  test("incremental semDedup: the batch twin of a KEPT corpus vector drops, of a farther one wins") {
    import spark.implicits._
    val v = Array(1.0f, 0.0f, 0.0f, 0.0f)
    // slightly off-axis: same cell, cosine vs v ≈ 0.99995 ≥ 0.95,
    // strictly FARTHER from the centroid direction than v
    val vFar = Array(0.9f, -0.1f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("centroid_id", "cent")
    val corpus = Seq((100L, v)).toDF("vec_id", "embedding")
    val assigned = Similarity.lloydAssign(corpus, cents)
    // exact twin of the corpus vector: equal dist → tie, and the
    // LOWER id wins — dominance is id/dist-based, never corpus-always-wins
    val tieWin = Dedup.incrementalSemDedup(assigned, cents,
        Seq((1L, v), (3L, w)).toDF("vec_id", "embedding"), 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(tieWin == Map(1L -> true, 3L -> true),
      s"tie must break to the lower id (1 < 100), novel direction kept: $tieWin")
    // the same twin under a HIGHER id loses the tie
    val tieLose = Dedup.incrementalSemDedup(assigned, cents,
        Seq((200L, v)).toDF("vec_id", "embedding"), 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(tieLose == Map(200L -> false), s"higher-id tie twin must drop: $tieLose")
    // a batch vector FARTHER from the centroid than its corpus near-dup
    // keeps (the paper's diversity rule) — even though the corpus is settled
    val farWin = Dedup.incrementalSemDedup(assigned, cents,
        Seq((300L, vFar)).toDF("vec_id", "embedding"), 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(farWin == Map(300L -> true),
      s"centroid-farther batch member must win its pair: $farWin")
  }

  test("all three incremental families are idempotent on their own survivors") {
    import spark.implicits._
    // a survivor set has, by construction, no corpus collision and no
    // within-batch collision — re-ingesting it must change nothing
    // (the retry/replay safety a continuous pipeline leans on)
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val cut = 40L
    val corpus = all.filter(col("doc_id") < cut)
    val batch = all.filter(col("doc_id") >= cut)

    val index = Dedup.indexCorpus(corpus, col("text"), col("doc_id"), 3)
    val s1 = Dedup.incremental(index, batch, col("text"), col("doc_id"), 3, 0.3)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Dedup.incremental(index, s1, col("text"), col("doc_id"), 3, 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == ids1 && ids1.nonEmpty)

    val fp = Dedup.simhash(corpus, col("text"), col("doc_id"))
    val t1 = Dedup.incrementalSimhash(fp, batch, col("text"), col("doc_id"))
    val tids1 = t1.select("doc_id").collect().map(_.getLong(0)).toSet
    val tids2 = Dedup.incrementalSimhash(fp, t1, col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tids2 == tids1 && tids1.nonEmpty)

    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val ec = e.filter(col("vec_id") < 250L)
    val eb = e.filter(col("vec_id") >= 250L)
    val cents = Similarity.lloydTrain(ec, DataOps.lloydK, DataOps.lloydIters)
      .toDF("centroid_id", "cent")
    val assigned = Similarity.lloydAssign(ec, cents)
    val e1 = Dedup.incrementalEmbedding(assigned, cents, eb, 0.95)
    val eids1 = e1.select("vec_id").collect().map(_.getLong(0)).toSet
    val eids2 = Dedup.incrementalEmbedding(assigned, cents,
        e1.select("vec_id", "embedding", "label"), 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(eids2 == eids1 && eids1.nonEmpty)
  }

  private def words(tag: String): Seq[String] = (1 to 40).map(i => s"$tag$i")
  private def text(tag: String): String = words(tag).mkString(" ")
  private def replaced(ws: Seq[String], at: Range, tag: String): Seq[String] =
    ws.zipWithIndex.map { case (w, i) => if (at.contains(i)) s"$tag$i" else w }

  // An in-batch near-dup chain 10 < 11 < 12 (each pair verified) whose
  // head alone is near the scope doc 300: 11 and 12 share too few
  // shingles with 300 (J ≈ 0.23), so only the in-batch pass drops them.
  // Token choice checked against the documented MinHash constants.
  private val chainHead = words("m")
  private val chainScope = replaced(chainHead, 0 until 14, "s")
  private val chainMid = replaced(chainHead, 30 until 40, "b")
  private val chainTail = chainMid.updated(0, "cc")

  private def scopesAndBatch() = {
    import spark.implicits._
    val idx = (docs: Seq[(Long, String)]) =>
      Dedup.indexCorpus(docs.toDF("doc_id", "text"), col("text"), col("doc_id"), 3)
    val scopes = Seq(
      idx(Seq((100L, text("x")), (101L, text("y")))),
      idx(Seq((200L, text("x").replace("x40", "qq")), (201L, "ok go"))),
      idx(Seq((300L, chainScope.mkString(" ")), (301L, text("d")))))
    val batch = Seq(
      (1L, text("x")),                      // exact dup of scope 0, near dup of scope 1
      (2L, text("y").replace("y1 ", "qq ")), // near dup of scope 0
      (10L, chainHead.mkString(" ")),        // near dup of scope 2 only
      (11L, chainMid.mkString(" ")),         // near dup of 10 → in-batch loser
      (12L, chainTail.mkString(" ")),        // near dup of 11 → in-batch loser
      (20L, text("e")),                      // kept: min id of an exact pair
      (21L, text("e")),                      // exact in-batch dup of 20
      (22L, text("d")),                      // exact dup of scope 2
      (30L, "hi there"),                     // shorter than n: exact path only, kept
      (31L, "hi there"),                     // exact in-batch dup of 30
      (32L, "ok go"),                        // short exact dup of scope 1
      (40L, text("n")))                      // novel
      .toDF("doc_id", "text")
    (scopes, batch)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("multi-scope incremental equals one single-scope call per scope, chained") {
    val (scopes, batch) = scopesAndBatch()
    val flat = ids(Dedup.incremental(scopes, batch, col("text"), col("doc_id"), 3, 0.3))
    // the chained composition, each level materialized so its plan
    // stays small: survivors of one scope are the next level's batch
    val chained = scopes.foldLeft(batch) { (b, scope) =>
      val out = Dedup.incremental(scope, b, col("text"), col("doc_id"), 3, 0.3)
      spark.createDataFrame(out.collectAsList(), out.schema)
    }
    assert(flat == ids(chained), s"flat $flat vs chained ${ids(chained)}")
    assert(flat == Set(20L, 30L, 40L), s"survivors: $flat")
  }

  test("the batch subplan is referenced O(scopes) times, not once per chained level") {
    val (scopes, batch) = scopesAndBatch()
    val rows = batch.queryExecution.analyzed.collectFirst { case l: LocalRelation => l.data }.get
    // the analyzer re-instances a self-joined leaf's attributes, so the
    // batch is recognized by its rows
    def batchLeaves(k: Int): Int =
      Dedup.incremental(scopes.take(k), batch, col("text"), col("doc_id"), 3, 0.3)
        .queryExecution.analyzed.collect { case l: LocalRelation if l.data == rows => l }.size
    val one = batchLeaves(1)
    val three = batchLeaves(3)
    assert(one > 0)
    assert(three <= 2 * one, s"3 scopes reference the batch $three times vs $one for 1")
  }

  test("incremental embedding: corpus wins regardless of id; batch self-dedups by min id") {
    import spark.implicits._
    val v = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val near = Array(0.99f, 0.01f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f, 0.0f)
    // one centroid: everything shares a cell, so the policy alone decides
    val cents = Seq((0L, Seq(1.0, 1.0, 1.0, 1.0))).toDF("centroid_id", "cent")
    val corpus = Seq((100L, v)).toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, v),     // exact dup of corpus → dropped
      (2L, near),  // near dup of corpus (cos ≈ 0.9999) → dropped
      (3L, w),     // novel (orthogonal) → kept
      (4L, w))     // dup of batch 3 → dropped
      .toDF("vec_id", "embedding")
    val kept = Dedup.incrementalEmbedding(
        Similarity.lloydAssign(corpus, cents), cents, batch, 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
  }
}
