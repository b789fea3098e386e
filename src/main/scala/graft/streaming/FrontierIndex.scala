package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}

import graft.operators.Dedup

/** The settled frontier as a PERSISTED dedup index — the compute half
  * of the base+delta posture.
  *
  * [[Frontier]] fixed the per-batch LISTING cost, but a content-dedup
  * twin still has to dedup each batch against everything it has
  * accepted, and running `Dedup.incremental` against the frontier as
  * a plain DataFrame re-shingles the WHOLE accepted corpus every
  * micro-batch — O(corpus) text work per batch, growing for the life
  * of the run. This module gives the frontier the same treatment the
  * settled external corpus gets (scope (a)'s `CorpusIndex`): once a
  * frontier generation exists, its md5 / LSH-bucket / shingle-set
  * tables are built ONCE (amortized per settle window, on first use —
  * which also covers a crash between the settle and the build) and
  * every batch probes them batch-driven; only the short tail of
  * un-settled deltas is still indexed in-plan. [[dedupScope]] returns
  * both as entries of a flat scope list, so the streaming twins probe
  * corpus, frontier and tail in ONE `Dedup.incremental` call (one
  * batch-side subplan, one anti-join) rather than chaining a call per
  * scope. Per-batch compute is then ∝ |batch| + |tail|, flat in the
  * corpus like scope (a).
  *
  * Layout: tables `ci_*_fr<dirhash>_<m>` (Dedup.saveIndex naming)
  * with files under `dir/_frindex_<m>` — a name [[Frontier.scan]]
  * ignores. Superseded generations (m′ < m) are dropped, catalog and
  * files, before the current one is ensured. The index derives from
  * the IMMUTABLE settled frontier, so the build is replay-idempotent
  * by construction. */
private[streaming] object FrontierIndex {

  private def dirHash(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  private[streaming] def tag(dir: String, m: Long): String =
    s"fr${dirHash(dir)}_$m"

  /** Scope (c) for batch `batchId` over `dir`, as the flat scope list
    * `Dedup.incremental` probes next to the settled corpus: the settled
    * frontier's persisted [[Dedup.CorpusIndex]] (once a settle has
    * happened), then an in-plan index of the live tail deltas (when
    * there are any). Empty before the stream has accepted anything. */
  def dedupScope(spark: SparkSession, dir: String, batchId: Long,
                 text: Column, id: Column, n: Int): Seq[Dedup.CorpusIndex] = {
    val (front, deltas) = Frontier.scopeParts(spark, dir, batchId)
    val frontIdx = front.map { case (m, path) =>
      // GC runs only when this generation's index is not built yet —
      // i.e. once per settle window, not a catalog listing per batch
      if (!spark.catalog.tableExists(s"ci_md5_${tag(dir, m)}"))
        dropSuperseded(spark, dir, m)
      Dedup.ensurePersistedIndex(spark, s"$dir/_frindex_$m", tag(dir, m)) {
        Dedup.indexCorpus(spark.read.parquet(path), text, id, n)
      }
    }
    val tailIdx =
      if (deltas.isEmpty) None
      else Some(Dedup.indexCorpus(spark.read.parquet(deltas: _*), text, id, n))
    frontIdx.toSeq ++ tailIdx
  }

  /** GC index generations older than `m`: catalog tables and the
    * `_frindex_<m'>` dirs (retried opportunistically, like the
    * frontier's own stale-dir GC). */
  private def dropSuperseded(spark: SparkSession, dir: String, m: Long): Unit = {
    val marker = s"_fr${dirHash(dir)}_"
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.contains(marker))
      .foreach { t =>
        val gen = scala.util.Try(t.substring(t.lastIndexOf('_') + 1).toLong)
        if (gen.toOption.exists(_ < m)) spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith("_frindex_"))
        .foreach { p =>
          val gen = scala.util.Try(p.getName.stripPrefix("_frindex_").toLong)
          if (gen.toOption.exists(_ < m)) fs.delete(p, true)
        }
  }
}
