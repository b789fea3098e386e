package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Pluggable sources/sinks (SURVEY §2.1 S1–S7). The reference talks
  * JDBC/MySQL and per-day Mongo collections; in the zero-egress
  * harness every source is file-backed behind the same trait, so a
  * JDBC implementation is a drop-in
  * (`spark.read.format("jdbc")…` with partitioned reads on the key
  * column — the reference's single-partition JDBC scan,
  * src/data_processor.py:179-193, is the anti-pattern we avoid).
  */
trait TableSource {
  def load(spark: SparkSession): DataFrame
}

/** S1/S3-equivalent: header CSV with a declared schema (no inference
  * pass over the data — at 100 TB schema inference is a full extra
  * scan). `options` passes through reader behavior — notably the
  * malformed-row policy: PERMISSIVE (default; bad rows null out, and
  * are captured whole when the schema declares a
  * `_corrupt_record` string column), DROPMALFORMED, or FAILFAST.
  * At ingest scale quarantine-and-continue beats dying 90 TB in. */
final case class CsvSource(path: String, schema: StructType,
                           options: Map[String, String] = Map.empty) extends TableSource {
  def load(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").options(options).schema(schema).csv(path)
}

/** S2/S4-equivalent: (multiline) JSON documents with a declared
  * schema. `paths` may be a glob — the reference's per-day collection
  * fan-out (src/data_processor.py:195-222) becomes one multi-file
  * scan; day identity survives in the data itself ([[Globs.expand]]
  * lists each glob on the driver). The day files are packed into a
  * few splits; a multiline file is never split, so it is read whole
  * inside one (see `GraftSession`). */
final case class JsonSource(paths: Seq[String], schema: StructType, multiLine: Boolean = true)
    extends TableSource {
  def load(spark: SparkSession): DataFrame =
    spark.read.option("multiLine", multiLine.toString).schema(schema)
      .json(Globs.expand(spark, paths): _*)
}

/** Driver-side glob expansion for the file sources: each glob becomes
  * its sorted file list. Handed a glob, Spark's streaming-metadata
  * probe logs a stack trace per read. A glob that matches nothing stays
  * literal, so the read still fails with PATH_NOT_FOUND. */
private[io] object Globs {
  def expand(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val glob = new Path(p)
      val hits = Option(glob.getFileSystem(conf).globStatus(glob)).getOrElse(Array.empty)
      if (hits.isEmpty) Seq(p) else hits.map(_.getPath.toString).sorted.toSeq
    }
  }
}

final case class ParquetSource(path: String) extends TableSource {
  def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

/** S2/S4 live-FORMAT twin — MongoDB extended JSON, the bytes
  * `mongoexport` actually emits (NDJSON, one document per line, with
  * type wrappers: `{"$date": "…"}`, `{"$numberLong": "…"}`,
  * `{"$numberInt"}`, `{"$numberDouble"}`, `{"$oid"}`). The reference
  * reads live collections through the mongo-spark connector
  * (src/main.py:20, src/data_processor.py:195-222); in a zero-egress
  * deployment the standard hand-off is a mongoexport dump, and a
  * plain `JsonSource` mis-reads it (every wrapped leaf parses as a
  * struct, not its value). This source takes the TARGET schema and
  * unwraps by schema-driven mapping: each line is parsed twice —
  * once against the wrapper-shaped schema, once against the plain
  * shape — and each leaf coalesces wrapped-then-plain, so mixed
  * exports (canonical numbers + relaxed ints in one file) load
  * identically. Ingest-boundary cost: three `from_json` per line
  * (canonical-wrapped, relaxed-wrapped, plain — PERMISSIVE partial
  * results keep each parse's per-LEAF nulls independent; `load`
  * REQUIRES the flag, r17), one data
  * pass, no inference scan; the array unwrap walks the three element
  * streams by index (interpreted HOF — fine here, this is the ingest
  * edge, never a per-query kernel) so a side whose array parse
  * nulled cannot erase another side's successful parse.
  * Canonical epoch dates
  * (`{"$date":{"$numberLong":"<epoch millis>"}}` — what
  * `mongoexport` without `--jsonFormat=relaxed` emits, r16) unwrap
  * through the canonical parse, coalescing canonical → relaxed ISO
  * → plain per timestamp leaf. */
final case class MongoExtJsonSource(paths: Seq[String], schema: StructType)
    extends TableSource {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  private val epochWrap =
    StructType(Seq(StructField("$numberLong", StringType)))

  /** Relaxed wrapper shape; with `canonicalDates`, the canonical one
    * (they differ only at timestamp leaves — `$date` carries the
    * epoch STRUCT instead of an ISO string). */
  private def wrapperType(dt: DataType, canonicalDates: Boolean): DataType =
    dt match {
      case LongType => StructType(Seq(StructField("$numberLong", StringType)))
      case IntegerType => StructType(Seq(StructField("$numberInt", StringType)))
      case DoubleType => StructType(Seq(StructField("$numberDouble", StringType)))
      case TimestampType =>
        if (canonicalDates) StructType(Seq(StructField("$date", epochWrap)))
        else StructType(Seq(StructField("$date", StringType)))
      case StringType => StructType(Seq(StructField("$oid", StringType),
        StructField("$date", StringType)))
      case ArrayType(e, n) => ArrayType(wrapperType(e, canonicalDates), n)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = wrapperType(f.dataType, canonicalDates))))
      case other => other
    }

  private def plainType(dt: DataType): DataType = dt match {
    case TimestampType => StringType
    case ArrayType(e, n) => ArrayType(plainType(e), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = plainType(f.dataType))))
    case other => other
  }

  private def unwrap(c: Column, w: Column, p: Column, dt: DataType): Column =
    dt match {
      case LongType => coalesce(w.getField("$numberLong").cast(LongType), p)
      case IntegerType => coalesce(w.getField("$numberInt").cast(IntegerType), p)
      case DoubleType => coalesce(w.getField("$numberDouble").cast(DoubleType), p)
      case TimestampType => coalesce(
        timestamp_millis(c.getField("$date").getField("$numberLong")
          .cast(LongType)),
        to_timestamp(w.getField("$date")), to_timestamp(p))
      case StringType =>
        coalesce(w.getField("$oid"), w.getField("$date"), p)
      case ArrayType(e, _) =>
        // three aligned element streams, walked by INDEX rather than
        // zip_with: zip_with nulls its whole result when EITHER input
        // array is null, so one parse shape failing on a line (its
        // root or array nulled) would erase the other shapes'
        // successful parse. The size driver takes the first non-null
        // side (greatest skips nulls); try_element_at yields null —
        // never an ANSI error — for the sides that failed.
        val sz = greatest(
          when(c.isNotNull, size(c)), when(w.isNotNull, size(w)),
          when(p.isNotNull, size(p)))
        when(sz.isNull, lit(null).cast(dt))
          .when(sz === 0, array().cast(dt))
          .otherwise(transform(sequence(lit(1), sz), i =>
            unwrap(try_element_at(c, i), try_element_at(w, i),
              try_element_at(p, i), e)))
      case st: StructType =>
        when(c.isNotNull || w.isNotNull || p.isNotNull,
          struct(st.fields.toSeq.map(f =>
            unwrap(c.getField(f.name), w.getField(f.name),
              p.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => p
    }

  def load(spark: SparkSession): DataFrame = {
    // the three-shape coalesce depends on each parse nulling only the
    // LEAVES it cannot bind (PERMISSIVE partial results) — with the
    // flag off, one mismatched leaf nulls that parse's whole row and
    // mixed exports silently lose fields. Fail loudly instead.
    require(spark.conf.get("spark.sql.json.enablePartialResults",
        "true").toBoolean,
      "MongoExtJsonSource requires spark.sql.json.enablePartialResults=true " +
        "(the per-shape parses must null independently per leaf)")
    val cs = wrapperType(schema, canonicalDates = true).asInstanceOf[StructType]
    val ws = wrapperType(schema, canonicalDates = false).asInstanceOf[StructType]
    val ps = plainType(schema).asInstanceOf[StructType]
    spark.read.text(Globs.expand(spark, paths): _*)
      .filter(trim(col("value")) =!= "")
      .select(from_json(col("value"), cs).as("__c"),
        from_json(col("value"), ws).as("__w"),
        from_json(col("value"), ps).as("__p"))
      .select(schema.fields.toSeq.map(f =>
        unwrap(col("__c").getField(f.name), col("__w").getField(f.name),
          col("__p").getField(f.name), f.dataType).as(f.name)): _*)
  }
}

/** S1/S3 live form — a JDBC table scan. The reference reads its MySQL
  * tables through a single connection (src/data_processor.py:179-193),
  * which serializes a 100 TB-adjacent ingest through one task; this
  * source takes a numeric `partitionColumn` + bounds and plans
  * `numPartitions` parallel range scans instead (Spark's stride
  * partitioning keeps the first/last ranges unbounded, so rows outside
  * the declared bounds are still read — bounds shape parallelism,
  * never correctness). Bounds come from warehouse metadata when you
  * have it; `JdbcSource.derivedBounds` probes MIN/MAX with a 1-row
  * query when you don't. */
final case class JdbcSource(url: String, table: String,
                            partitionColumn: Option[String] = None,
                            lowerBound: Long = 0L, upperBound: Long = 1L,
                            numPartitions: Int = 8,
                            options: Map[String, String] = Map.empty) extends TableSource {
  def load(spark: SparkSession): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).options(options)
    partitionColumn.fold(base) { c =>
      base.option("partitionColumn", c)
        .option("lowerBound", lowerBound.toString)
        .option("upperBound", upperBound.toString)
        .option("numPartitions", numPartitions.toString)
    }.load()
  }
}

object JdbcSource {
  /** (min, max) of a numeric column, via a single-row aggregate pushed
    * to the database — the probe a caller runs once before planning a
    * partitioned scan when bounds aren't already known. */
  def derivedBounds(spark: SparkSession, url: String, table: String,
                    column: String, options: Map[String, String] = Map.empty): (Long, Long) = {
    // positional access: databases differ on unquoted-identifier case
    // (Derby/Oracle uppercase, Postgres lowercases)
    val row = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"(SELECT MIN($column) AS mn, MAX($column) AS mx FROM $table) b")
      .options(options).load().collect()(0)
    (row.get(0).asInstanceOf[Number].longValue(), row.get(1).asInstanceOf[Number].longValue())
  }
}

/** ORC — the other columnar interchange format Spark ships natively;
  * same pushdown/pruning contract as parquet (PushedFilters +
  * ReadSchema reach the scan), so pipelines landing ORC from Hive
  * ecosystems plug straight in. */
final case class OrcSource(path: String) extends TableSource {
  def load(spark: SparkSession): DataFrame = spark.read.orc(path)
}

object Sinks {

  /** S5 — single-file CSV sink with exact header and row order:
    * coalesce(1) + write to a temp dir + rename the part file
    * (reference: src/data_processor.py:61-90). Only for small final
    * reports — large outputs keep their parallelism and go to
    * parquet/partitioned CSV instead. */
  def singleFileCsv(df: DataFrame, outputPath: String, fileName: String): Unit = {
    val spark = df.sparkSession
    val tmp = s"$outputPath/_tmp_${fileName.stripSuffix(".csv")}"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(tmp), conf)
    val part = fs.globStatus(new Path(s"$tmp/part-*.csv"))(0).getPath
    val dest = new Path(s"$outputPath/$fileName")
    if (fs.exists(dest)) fs.delete(dest, false)
    fs.rename(part, dest)
    fs.delete(new Path(tmp), true)
  }

  /** S1 write-back — the warehouse bulk load closing the JDBC
    * round-trip (reference: src/data_processor.py:98-139, TRUNCATE +
    * executemany into MySQL). `overwrite` keeps the reference's
    * truncate-then-load semantics: with `truncate=true` Spark issues
    * TRUNCATE TABLE and keeps the existing table (schema, grants,
    * indexes) instead of drop/recreate; `append` accumulates.
    * `batchSize` is the executemany batch (Spark default 1000 — far
    * too chatty for a bulk load); `maxConnections` caps write
    * parallelism by coalescing before the write, because at cluster
    * scale "one connection per task" means thousands of simultaneous
    * sessions against one warehouse — the cap, not the cluster size,
    * must decide. */
  def jdbc(df: DataFrame, url: String, table: String,
           mode: String = "overwrite", batchSize: Int = 10000,
           truncate: Boolean = true,
           maxConnections: Option[Int] = None,
           options: Map[String, String] = Map.empty): Unit = {
    val base = df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .option("truncate", truncate.toString)
      .options(options)
    maxConnections.fold(base)(n =>
      base.option("numPartitions", n.toString)).mode(mode).save()
  }

  /** S7 — parquet checkpoint between pipeline stages (the Airflow
    * DAG's inter-task handoff, src/candy_store_dag.py:102-113). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileBytes`. Long-running ingest (especially
    * streaming foreachBatch) accretes files far smaller than an HDFS
    * block/row-group sweet spot; scans then pay per-file open cost and
    * lose row-group locality. Sizing comes from the actual on-disk
    * bytes, not a guess, and the rewrite is one job. */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val fs = FileSystem.get(new java.net.URI(inDir), spark.sparkContext.hadoopConfiguration)
    // globStatus returns null for a nonexistent dir; an existing-but-
    // empty dir would otherwise proceed into a schema-less parquet read
    val statuses = Option(fs.globStatus(new Path(s"$inDir/*.parquet"))).toSeq.flatten
    require(statuses.nonEmpty, s"compactParquet: no parquet files match $inDir/*.parquet")
    val bytes = statuses.map(_.getLen).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    spark.read.parquet(inDir)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Hive-style partitioned parquet: the 100 TB layout. A reader
    * filtering on the partition columns prunes whole directories at
    * planning time (`PartitionFilters` in the scan) — the per-day
    * loop of the reference (src/data_processor.py:195-222) becomes a
    * `date=YYYYMMDD/` layout Catalyst prunes natively. */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
}
