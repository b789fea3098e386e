package graft

import org.apache.spark.sql.SparkSession

/** Engine session factory: one place for the configuration the
  * engine's correctness and scale posture depend on — UTC session
  * time, shuffle parallelism = local cores (set
  * `spark.sql.shuffle.partitions` to cluster-appropriate values in a
  * real deployment), nanosecond-parquet handling, the file-scan
  * posture below, codegen limits and the execution page size
  * (`pageBytes`). It registers no function and no
  * optimizer rule: the graft kernels are typed Columns
  * (graft.plans.GraftFunctions).
  *
  * File scans use Spark's default split planning, and files are
  * listed on the driver. A split holds up to
  * `min(128 MB, max(openCost, bytes / cores))`, each file counted at
  * its length plus the 4 MB open cost, so the candy year's 365 day
  * files of ~60 KB pack into ~12 splits while one multi-MB file still
  * spreads across the cores. A split cap at or below the open cost
  * gives every small file its own scan task, and Spark's own listing
  * runs a Spark job for more than 32 paths. Measured on the 365-file
  * year (4 cores): with a 4 MB cap and job listing, a cold run took
  * 2,314 tasks and a median 21.8 s; with this posture, 184 tasks and
  * 17.9 s (traced read + normalize: 11.0 s → 6.5 s).
  */
object GraftSession {

  /** The engine's session settings for `local[cpus]`, as one list so
    * that every session built for the engine (this factory, the test
    * session) plans and executes the same way. */
  def settings(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // List files on the driver, never with a Spark job: the master is
    // always local[n], so a listing job's tasks would run in this JVM
    // against the same file system, adding only task scheduling.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
      Int.MaxValue.toString,
    // Trust the sortBy order of bucketed tables at read time (off by
    // default since Spark 3.0). Safe engine-wide: Spark only reports
    // the ordering when every bucket is a single file — the layout
    // Bucketing.buildOnce writes — and it's what removes the
    // per-bucket re-sort from co-located sort-merge joins.
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    // Fuse only what the JVM will actually JIT: HotSpot never
    // compiles methods over 8000 bytecode bytes (-XX:HugeMethodLimit),
    // so a fused consume method past that limit runs INTERPRETED —
    // silently, with no CodeGenerator error. Spark's default here
    // (65535) only guards the classfile limit; aligning it with the
    // JIT limit makes Spark fall back to per-operator execution for
    // exactly the stages fusion would de-optimize. Measured on the
    // 100x url_dedup keep-first (the r16/r17 inversion case): fused
    // 12.0 s, per-operator 8.5 s, this setting 8.3 s — the fallback
    // picks the fast posture per stage, engine-wide, instead of the
    // per-family no-fuse session the r16 workaround hand-maintained.
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    // Janino-compiled codegen cache (STATIC conf, default 100
    // entries): the composite queries alone hold several hundred
    // distinct codegen units, so the default thrashes INSIDE one
    // query — every repeated fragment re-pays a full Janino compile
    // on the driver (measured r21: ds_curate spends ~2 s of its
    // 2.8 s plan+build in non-rule driver work, dominated by
    // codegen compilation; optimizer rules are only 0.7 s). Keys
    // are weak references to the source text, so the cache holds
    // only live generated classes; 10k entries is a few hundred MB
    // ceiling on a driver that actually runs 10k distinct stages,
    // and identical fragments across queries/passes hit instead of
    // recompiling. Scale-neutral: a production driver running a
    // query stream benefits identically.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.buffer.pageSize" -> pageBytes.toString,
    "spark.ui.enabled" -> "false")

  /** Execution memory page size (STATIC conf): 512 KiB, or the heap
    * over 8192 rounded up to a power of two when that is larger, since
    * a task addresses at most 8192 pages and its pages must be able to
    * cover the heap. Spark's default (execution pool / cores / 16,
    * rounded up) is 16 MiB at a 3 GB heap on 4 cores, so every sorting
    * or hashing task allocates a 16 MiB array for a few KB of rows.
    * G1 places such an array in humongous regions, and Spark pools
    * freed pages of 1 MiB and more behind weak references that young
    * collections do not clear, so the heap in use after a collection
    * held as many 16 MiB pages as tasks had overlapped since the last
    * marking cycle. A 512 KiB page is young garbage and is never
    * pooled. Measured on perfbench's `ingest_stream` (50-doc
    * micro-batches, 3 GB heap, 4 cores), peak heap after a collection
    * over 6–8 runs: 210–256 MB with 16 MiB pages, 99–115 MB with
    * 512 KiB; run as `local[8]` (8 MiB pages), 161–261 → 80–111 MB. */
  private def pageBytes: Long = {
    val cover = Runtime.getRuntime.maxMemory / 8192
    math.max(512L << 10, java.lang.Long.highestOneBit(math.max(cover - 1, 1L)) << 1)
  }

  def create(appName: String,
             cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
               Runtime.getRuntime.availableProcessors().toString)): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .config(settings(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Child session for queries whose typed aggregates carry O(k)-BOUNDED
    * buffers (TopKByValue): ObjectHashAggregate silently degrades to
    * sort-based aggregation after 128 distinct keys per task (the
    * default `objectHashAggregate.sortBased.fallbackThreshold`), which
    * re-imposes exactly the full per-partition sort the bounded buffer
    * exists to avoid (measured: the 1000× rehearsal's topk_agg matched
    * the window sort's cost instead of beating it, BASELINE.md).
    *
    * The raise is deliberately NOT session-global: it applies to every
    * ObjectHashAggregate in a session, and an unbounded buffer (a
    * collect_list-style aggregate) would hold 4M keys per task in hash
    * mode before falling back — the OOM risk the 128 default guards.
    * A child session shares the SparkContext and cached data but has
    * isolated SQL conf, and a DataFrame executes under the conf of the
    * session that built it — so the threshold travels with exactly the
    * plans constructed here and nothing else. */
  def boundedAggSession(parent: SparkSession): SparkSession =
    boundedChildren.computeIfAbsent(parent, _ => {
      val child = parent.newSession()
      child.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      child
    })

  /** One bounded child per parent session (r21): the child's conf is a
    * fixed constant, so recreating it per query only re-paid session
    * setup + relation re-resolution (see Tables.apply). Memoizing is
    * behavior-identical — same conf, same isolation from the parent.
    * Keyed weakly (SparkSession keeps Object identity); the child holds
    * no reference to its parent, so a dropped parent and its child are
    * both collected. */
  private val boundedChildren = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())
}
