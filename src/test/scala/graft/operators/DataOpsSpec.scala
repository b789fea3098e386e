package graft.operators

import graft.SparkSpec
import graft.queries.DataOps
import org.apache.spark.sql.functions._

/** Semantics checks for the training-data operators that the DuckDB
  * oracle can't express (approximate/stateful paths) plus
  * cross-operator consistency: LSH candidates must cover the true
  * high-Jaccard pairs, SimHash must agree on exact duplicates, the
  * stub decoder must batch correctly.
  */
class DataOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("LSH candidate pairs cover every true Jaccard>=0.5 pair (recall at banding point)") {
    val truePairs = Dedup.jaccardPairs(
        spark.read.parquet(s"$sf/documents.parquet"), col("text"), col("doc_id"), 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = DataOps.ddLshPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty, "expected planted near-dups in the corpus")
    val missed = truePairs -- candidates
    assert(missed.isEmpty, s"LSH missed high-similarity pairs: $missed")
  }

  test("identical texts collide on every fingerprint (minhash, simhash, content)") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(df, col("text"), col("doc_id"), 3).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L) && sig(1L) != sig(3L))
    val sh = Dedup.simhash(df, col("text"), col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L) && sh(1L) != sh(3L))
    val fp = df.select(col("doc_id"), TextAnalysis.contentFingerprint(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("positional fingerprint is order-sensitive where content fingerprint is not") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      TextAnalysis.contentFingerprint(col("text")).as("cfp"),
      TextAnalysis.positionalFingerprint(col("text")).as("pfp")).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L)._1 == r(2L)._1, "content fp must ignore order")
    assert(r(1L)._2 != r(2L)._2, "positional fp must see order")
  }

  test("brute-force top-k is a superset-ranking of LSH ANN results (same bucket ⇒ same cos)") {
    val exact = DataOps.simTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = DataOps.simLshAnn(spark, sf)
      .filter(col("query_id") < DataOps.annQueries).collect()
    // every ANN hit that exact search also scored must carry the identical cosine
    ann.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      exact.get(k).foreach(c => assert(c == r.getDouble(2)))
    }
  }

  test("LSH ANN catches planted near-duplicate vectors (cos≈1) in-bucket") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    // near-copies of vectors 0..4: tiny perturbation, cosine > 0.999
    val planted = (0 until 5).map { i =>
      (1000L + i, base(i)._2.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val ann = Similarity.lshAnn(df, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 5).count(i => ann.contains((i.toLong, 1000L + i)))
    assert(found >= 3, s"only $found/5 planted near-dups surfaced: expected sign-LSH " +
      "to bucket near-identical vectors together")
  }

  test("registered planted-recall row is materially > 0 and finds every twin") {
    // the driver-visible ANN quality gate: unlike sim_ann_recall
    // (documented ~0 on the unclustered corpus), this row must carry
    // signal — each query has a deterministic cos≈1 twin that brute
    // force ranks first and sign-LSH must co-bucket
    val r = DataOps.simAnnRecallPlanted(spark, sf).collect().head
    assert(r.getDouble(0) > 0.0, "planted recall must be materially > 0")
    assert(r.getLong(2) == graft.queries.DataOps.annQueries.toLong,
      s"ANN retrieved only ${r.getLong(2)} of the planted twins")
  }

  test("IVF-blocked embedding dedup recovers planted near-dups at least as well as arbitrary blocking") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0 until 300).map(i => (i.toLong, vec()))
    // near-copies of vectors 0..9: cosine > 0.999, so the ONLY thing
    // that can lose them is the blocking — exactly what this test pins
    val planted = (0 until 10).map { i =>
      (1000L + i, base(i)._2.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")

    def found(pairs: org.apache.spark.sql.DataFrame): Int = {
      val set = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (0 until 10).count(i => set((i.toLong, 1000L + i)))
    }
    // trained coarse cells: a near-identical pair lands in the same
    // Lloyd cell unless it straddles a boundary — recall should be
    // near-total on cos>0.999 pairs
    val cents = Similarity.lloydTrain(df, 4, iters = 4)
    val assigned = Similarity.lloydAssign(df, cents.toDF("centroid_id", "cent"))
    val ivf = found(Dedup.embeddingNearDupsBy(assigned, "centroid_id", 0.9))
    // arbitrary blocking (id mod 3): a planted pair (i, 1000+i) shares
    // a block only when 1000 ≡ 0 (mod 3) — i.e. never — so this is the
    // "blocking carries no geometry" floor
    val arbitrary = found(Dedup.embeddingNearDupsBy(
      df.withColumn("blk", pmod(col("vec_id"), lit(3))), "blk", 0.9))
    assert(ivf >= 8, s"trained-cell blocking lost planted near-dups: $ivf/10")
    assert(ivf >= arbitrary,
      s"trained cells must not trail arbitrary blocks (ivf=$ivf arbitrary=$arbitrary)")
  }

  test("JL-projected sign-LSH ANN surfaces planted near-dups with full-dim rerank") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    val planted = (0 until 5).map { i =>
      (1000L + i, base(i)._2.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 5)
    val ann = Similarity.rpAnnFor(df, queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 5).count(i => ann.contains((i.toLong, 1000L + i)))
    // a cos>0.999 pair's projections are near-identical, so all 16
    // sign bits agree unless a coordinate sits on the hyperplane
    assert(found >= 3, s"only $found/5 planted near-dups surfaced through " +
      "the projected-space index")
  }

  test("probe radius is a monotone recall knob: single ⊆ radius-1 ⊆ radius-2") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0 until 300).map(i => (i.toLong, vec()))
    // moderate perturbation: cosine high but sign bits flip sometimes,
    // which is exactly the regime multi-probe exists for
    val planted = (0 until 20).map { i =>
      (1000L + i, base(i)._2.map(x => x + 0.25f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 20)
    def hits(found: Set[(Long, Long)]): Int =
      (0 until 20).count(i => found((i.toLong, 1000L + i)))
    def pairs(ann: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      ann.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = hits(pairs(Similarity.lshAnnFor(df, queries, k = 3)))
    val r1 = hits(pairs(Similarity.lshAnnMultiProbeFor(df, queries, k = 3)))
    val r2 = hits(pairs(Similarity.lshAnnMultiProbeFor(df, queries, k = 3, probeRadius = 2)))
    assert(single <= r1 && r1 <= r2,
      s"recall must not decrease as probes widen (single=$single r1=$r1 r2=$r2)")
    assert(r2 > single,
      s"widening to radius 2 should recover bucket-boundary misses (single=$single r2=$r2)")
  }

  test("media decode parses real PNG/JPEG headers and preserves every record") {
    import spark.implicits._
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val media = Multimodal.documentsAsImages(docsDf)
    val out = Multimodal.decode(media).collect()
    assert(out.length == 500)
    val lens = docsDf.select(col("doc_id"), length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { m =>
      // dims round-trip through the actual container bytes: written by
      // the builder from the payload length, read back by the parser
      val len = lens(m.media_id)
      assert(m.width == len % 640 + 1 && m.height == (len.toLong * 7 % 480).toInt + 1,
        s"dims did not round-trip for ${m.media_id}")
      assert(m.channels == 3 && m.bit_depth == 8)
      if (m.media_id % 2 == 0)
        assert(m.format == "png" && m.n_bytes == len + 57)
      else
        assert(m.format == "jpeg" && m.n_bytes == len + 23)
    }
    // the JPEG walker skips leading non-frame segments (APP0/COM) to SOF0
    val withApp0 = Multimodal.jpegContainer(21, 42, "payload".getBytes)
    val app0 = Array(0xff, 0xe0, 0x00, 0x06, 0x4a, 0x46, 0x49, 0x46).map(_.toByte)
    val shifted = withApp0.take(2) ++ app0 ++ withApp0.drop(2)
    val parsed = Multimodal.decode(Seq(
      Multimodal.MediaRecord(7L, shifted)).toDS()).collect().head
    assert(parsed.width == 21 && parsed.height == 42 && parsed.format == "jpeg")
    // a payload that is neither format degrades, not throws
    val junk = Multimodal.decode(Seq(
      Multimodal.MediaRecord(8L, Array[Byte](1, 2, 3))).toDS()).collect().head
    assert(junk.format == "unknown" && junk.n_bytes == 3)
    // batching: a partition with >batchSize rows → batches of 64/…, all kept
    val one = media.repartition(1)
    assert(Multimodal.decode(one).count() == 500)
  }

  test("audio decode walks real RIFF chunks and recovers the written format") {
    import spark.implicits._
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val out = Multimodal.decodeAudio(Multimodal.documentsAsAudio(docsDf)).collect()
    assert(out.length == 500)
    val lens = docsDf.select(col("doc_id"), length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { m =>
      val ch = 1 + (m.media_id % 2).toInt
      val rate = Seq(8000, 16000, 44100)((m.media_id % 3).toInt)
      val block = ch * 2
      val padded = lens(m.media_id) + (block - lens(m.media_id) % block) % block
      assert(m.channels == ch && m.sample_rate == rate && m.bits_per_sample == 16,
        s"format round-trip failed for ${m.media_id}")
      assert(m.n_samples == padded / block && m.n_bytes == 56 + padded)
      assert(m.duration_ms == m.n_samples * 1000 / rate)
    }
    // hand-built container: 4 stereo 16-bit frames at 8 kHz
    val wav = Multimodal.wavContainer(2, 8000, 16, new Array[Byte](16))
    val one = Multimodal.decodeAudio(Seq(
      Multimodal.MediaRecord(1L, wav)).toDS()).collect().head
    assert(one.channels == 2 && one.sample_rate == 8000 && one.n_samples == 4L)
    // chunk walking is real: an ODD-length junk chunk before fmt must
    // be skipped with word alignment or every later offset is wrong
    val junkCk = "JUNK".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](9, 9, 9)
    val riffLen = wav.length - 8 + junkCk.length + 1
    val oddAligned = wav.take(8) ++ wav.slice(8, 12) ++ junkCk ++
      Array[Byte](0) ++ wav.drop(12)
    val fixed = oddAligned.patch(4,
      Array((riffLen & 0xff).toByte, ((riffLen >> 8) & 0xff).toByte,
        ((riffLen >> 16) & 0xff).toByte, ((riffLen >> 24) & 0xff).toByte), 4)
    val walked = Multimodal.decodeAudio(Seq(
      Multimodal.MediaRecord(2L, fixed)).toDS()).collect().head
    assert(walked.sample_rate == 8000 && walked.n_samples == 4L,
      s"odd-chunk alignment broke the walk: $walked")
    // junk degrades to a zeroed row, never a throw
    val bad = Multimodal.decodeAudio(Seq(
      Multimodal.MediaRecord(3L, Array[Byte](1, 2, 3))).toDS()).collect().head
    assert(bad.sample_rate == 0 && bad.n_samples == 0L && bad.n_bytes == 3)
  }

  test("PCM features decode signed samples the ASCII corpus never exercises") {
    import spark.implicits._
    // hand-built s16le data: [1, 32767, 0, -32767] — includes a
    // genuinely negative sample, so sign extension is proven
    val data = Array[Byte](1, 0, -1, 127, 0, 0, 1, -128)
    val wav = Multimodal.wavContainer(2, 8000, 16, data)
    val f = Multimodal.audioFeatures(Seq(
      Multimodal.MediaRecord(5L, wav)).toDS()).collect().head
    assert(f.n_samples == 4L && f.peak == 32767L)
    val sumSq = 1L + 32767L * 32767L + 0L + 32767L * 32767L
    assert(f.rms_milli == math.round(1000.0 * math.sqrt(sumSq.toDouble / 4)))
    // mean_milli = round(1000*(1+32767+0-32767)/4) = 250; the only
    // strict sign flip around it is 32767 -> 0
    assert(f.mean_crossings == 1L, s"got ${f.mean_crossings}")
  }

  test("approx distinct lands within the configured 2% rsd of exact") {
    // the registered q20 row now carries the bound as an in-plan 1/0
    // column beside the exact count (driver-hashable)
    val exact = graft.queries.Relational.q6CountDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.queries.Relational.q20ApproxDistinct(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) == exact(r.getString(0)),
        s"${r.getString(0)}: exact-twin count drifted")
      assert(r.getLong(2) == 1L, s"${r.getString(0)}: HLL outside the 6% bound")
    }
    // and the raw sketch accuracy law the row summarizes
    graft.Tables(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("est"))
      .collect().foreach { r =>
        val act = exact(r.getString(0)).toDouble
        assert(math.abs(r.getLong(1) - act) / act < 0.05,
          s"${r.getString(0)}: est=${r.getLong(1)} exact=$act")
      }
  }

  test("deduped corpus drops exact dups and the higher id of near-dup pairs") {
    val kept = DataOps.ddCorpus(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val losers = DataOps.ddJaccard(spark, sf).select("id_b").collect()
      .map(_.getLong(0)).toSet
    assert(losers.nonEmpty && losers.forall(!kept.contains(_)))
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(kept.size == total - losers.size, "only near-dup losers removed (no exact dups here)")
  }

  test("incremental dedup equals full-corpus dedup when corpus ids precede batch ids") {
    // with every corpus id below every batch id, "corpus always wins"
    // coincides with dedupedCorpus's min-id policy — so the batch
    // survivors of the incremental pass must be exactly the batch rows
    // of the full rebuild
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val cut = 40L
    val corpus = all.filter(col("doc_id") < cut)
    val batch = all.filter(col("doc_id") >= cut)
    val inc = Dedup.incremental(corpus, batch, col("text"), col("doc_id"), 3, 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.dedupedCorpus(all, col("text"), col("doc_id"), 3, 0.3)
      .filter(col("doc_id") >= cut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc == full)
  }

  test("incremental dedup: corpus wins regardless of id; batch self-dedups by min id") {
    import spark.implicits._
    // 40 tokens, last one changed: 37 of 39 shingles shared (J ≈ 0.95)
    // — deep inside the banding's catch zone for the fixed permutations
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base.replace("w40", "zz")
    // corpus doc 100 has a HIGHER id than every batch doc — it must
    // still win (the corpus is settled; ingestion never evicts it)
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base),                    // exact dup of corpus → dropped
      (2L, near),                    // near dup of corpus → dropped
      (3L, "a1 a2 a3 a4 a5 a6 a7"),  // novel → kept
      (4L, "a1 a2 a3 a4 a5 a6 a7"),  // exact dup of batch 3 → dropped
      (5L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")) // novel → kept
      .toDF("doc_id", "text")
    val kept = Dedup.incremental(corpus, batch, col("text"), col("doc_id"), 3, 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 5L))
  }

  test("Dataset allocator and custom-plan allocator agree on lineitem") {
    import spark.implicits._
    val a = DataOps.allocByProduct(spark, sf)(demand => graft.pipeline.AllocateReference(
        demand.as[graft.pipeline.Model.DemandLine]).toDF()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val b = DataOps.allocGreedyPlan(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(a == b)
  }

  test("profiler counts nulls and distincts correctly") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, java.lang.Long)](
      (1.0, 1L), (2.0, 1L), (null, 2L), (2.0, null))
      .toDF("a", "b")
    val p = Profile.numeric(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(p("a") == ((3L, 1.0, 2.0, 2L)), s"got ${p("a")}")
    assert(p("b") == ((3L, 1.0, 2.0, 2L)), s"got ${p("b")}")
  }

  test("greedy allocation on lineitem never over-fills opening stock") {
    val agg = DataOps.allocGreedy(spark, sf)
      .join(spark.read.parquet(s"$sf/part.parquet")
        .select(col("p_partkey").as("product_id"),
          (col("p_size").cast("long") * 100L).as("opening")),
        Seq("product_id"))
      .filter(col("filled_qty") > col("opening"))
    assert(agg.isEmpty, "filled more than opening stock")
  }
}
