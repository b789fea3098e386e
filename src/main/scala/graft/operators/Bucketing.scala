package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table layout — the co-located-join primitive at 100 TB.
  *
  * A fact table bucketed AND sorted on its join key is pre-shuffled
  * and pre-sorted on disk: a sort-merge join between two tables
  * bucketed the same way (same key, same bucket count) needs NO
  * exchange and NO sort at read time — the two scans already satisfy
  * the join's distribution and ordering requirements. At cluster
  * scale that removes the dominant cost of every fact-to-fact join on
  * the bucketing key: a 100 TB lineitem⋈orders pays zero network
  * bytes instead of 2×(shuffle write + read) per query. The write
  * pays one shuffle, once, amortized over every subsequent join —
  * the same trade Hive bucketing / Iceberg bucket-partitioning make.
  *
  * The reference's star joins re-shuffle per run (PySpark joins on
  * freshly loaded frames, /root/reference/src/data_processor.py); a
  * warehouse layer owns layout, so this operator is the layout half
  * the engine adds alongside Z-ordering (Layout.scala: clustering for
  * scan pruning; this: clustering for join locality).
  */
object Bucketing {

  /** Write `df` as a parquet table bucketed+sorted on `keys`.
    *
    * The frame is repartitioned on the bucketing expression first so
    * each write task holds exactly the rows of its buckets — one file
    * per bucket instead of (tasks × buckets) files. One file per
    * bucket is what lets the scan report its output as SORTED (a
    * multi-file bucket only guarantees per-file order, so the join
    * would re-sort); it is also the small-file guard: bucketed writes
    * without it emit task-count× the file count. Spark's repartition
    * hash and its bucket-file assignment are the same
    * murmur3-pmod(n), so the alignment is exact, not heuristic.
    * Buckets hash over ALL `keys` (murmur3 over the tuple, same as
    * `repartition(n, keys…)`), so an equi-join on the full key set
    * reads both sides co-partitioned. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    keys: Seq[String], nBuckets: Int): Unit =
    df.repartition(nBuckets, keys.map(col): _*)
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** One table of a persisted artifact: its catalog name, its dir
    * under the artifact root, and its layout — bucketed+sorted on
    * `bucketBy`'s keys into its bucket count ([[writeBucketed]]), or,
    * when `None`, one plain parquet file (a model-sized table that is
    * collected or broadcast, never joined on a layout). */
  final case class Table(name: String, dir: String,
                         bucketBy: Option[(Seq[String], Int)] = None)

  /** The one build-once rule for a persisted artifact: a set of index
    * or model tables built once, then probed (the reference DAG's
    * Parquet hand-off; the layout write is the amortized-once cost).
    * When every table of the set is in the catalog, `build` is never
    * evaluated; when any is missing, `build` runs ONCE and its frames
    * (one per table) are written as the whole set, in order, so a set
    * never mixes tables of two builds. Returns each table as read from
    * the catalog. */
  def buildOnce(spark: SparkSession, root: String, tables: Seq[Table])
               (build: => Seq[DataFrame]): Seq[DataFrame] = {
    if (!tables.forall(t => spark.catalog.tableExists(t.name))) {
      val frames = build
      require(frames.size == tables.size,
        s"build gave ${frames.size} frames for ${tables.size} tables")
      tables.zip(frames).foreach {
        case (Table(name, dir, Some((keys, n))), df) =>
          writeBucketed(df, name, s"$root/$dir", keys, n)
        case (Table(name, dir, None), df) =>
          df.coalesce(1).write.mode("overwrite")
            .option("path", s"$root/$dir").format("parquet").saveAsTable(name)
      }
    }
    tables.map(t => spark.table(t.name))
  }
}
