package graft.operators

import graft.{SparkSpec, Tables}
import graft.queries.DataOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucketed layout's whole reason to exist is plan shape: the
  * join over two tables bucketed+sorted on the key must run with no
  * exchange and no sort, and an equality predicate on the bucket key
  * must prune to a single bucket at the scan. Results must be
  * layout-independent (equal to the plain join). The write-once-
  * shuffle-never contract holds for any table [[Bucketing.writeBucketed]]
  * lays out: joins and aggregations on the bucket keys plan with zero
  * exchanges (broadcast is disabled for that assertion — at test
  * scale AQE would otherwise broadcast the small side and hide the
  * bucketing). [[Bucketing.buildOnce]], the one build-once rule for
  * persisted artifacts, writes a table set once, rebuilds it whole when
  * any table is missing, and lays each table out as declared.
  */
class BucketingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Final adaptive plan only — the AQE toString appends the initial
    * plan after a marker, which would double-count every node. */
  private def finalPlan(df: DataFrame): String = {
    df.collect() // AQE finalizes the plan only on execution
    df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("bucketed fact-fact join: no exchange, no sort below the join") {
    val p = finalPlan(DataOps.dsBucketedJoin(spark, sf))
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    // the only shuffle in the whole query is the 5-row priority rollup
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1,
      s"join sides must be exchange-free (bucketed layout):\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"plan:\n$p")
    // one file per bucket (writeBucketed repartitions first) ⇒ the scan
    // reports sorted output and the SMJ needs no Sort on either side
    assert(!p.contains("Sort ["), s"bucketed+sorted scan must satisfy the join order:\n$p")
  }

  test("equality predicate on the bucket key prunes to one bucket at the scan") {
    // materialize the tables (idempotent), then probe one key
    DataOps.dsBucketedJoin(spark, sf).collect()
    val tag = sf.replaceAll("[^A-Za-z0-9]", "_")
    // autoBucketedScan turns bucketed reads OFF when no operator above
    // needs the hash distribution — but for a point lookup the bucket
    // FILTER is the benefit (scan 1/n of the files), so a lookup
    // workload pins it on; assert the pruning that buys
    val saved = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = spark.table(s"li_bkt_$tag").filter(col("l_orderkey") === 1L)
      val p = finalPlan(probe)
      assert(p.contains(s"SelectedBucketsCount: 1 out of ${DataOps.bucketCount}"),
        s"bucket pruning not applied:\n$p")
    } finally spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", saved)
  }

  test("bucketed join result equals the plain (layout-free) join") {
    val bucketed = DataOps.dsBucketedJoin(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), (sum(col("cents")) / 100.0).as("revenue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bucketed == plain)
  }

  private def withNoBroadcast[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("co-bucketed join and bucket-key aggregation plan with zero exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    Bucketing.writeBucketed(Tables(spark, sf, "orders"), "b_orders", s"$dir/b_orders",
      Seq("o_orderkey"), 8)
    Bucketing.writeBucketed(Tables(spark, sf, "lineitem"), "b_lineitem", s"$dir/b_lineitem",
      Seq("l_orderkey"), 8)

    withNoBroadcast {
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val expected = Tables(spark, sf, "lineitem").join(Tables(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$joinPlan")

      val agg = spark.table("b_lineitem")
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      agg.count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"bucket-key aggregation must not shuffle:\n$aggPlan")
    }
  }

  test("a join on NON-bucket keys still shuffles (the layout is no magic)") {
    withNoBroadcast {
      val crossKey = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_partkey") === col("o_custkey"))
      crossKey.count()
      assert(crossKey.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_build_once").toString

  private def frame(v: Long): DataFrame =
    spark.range(0, 40).select(col("id").as("k"), lit(v).as("v"))

  private def values(df: DataFrame): Seq[Long] =
    df.select("v").distinct().collect().map(_.getLong(0)).toSeq

  test("buildOnce: a second call over a written set never evaluates build") {
    val root = freshRoot()
    val set = Seq(Bucketing.Table("bo_once_keyed", "keyed", Some(Seq("k") -> 4)),
      Bucketing.Table("bo_once_plain", "plain"))
    var builds = 0
    Bucketing.buildOnce(spark, root, set) { builds += 1; Seq(frame(1), frame(1)) }
    val again = Bucketing.buildOnce(spark, root, set)(
      sys.error("build evaluated although every table of the set exists"))
    assert(builds == 1)
    assert(again.map(_.count()) == Seq(40L, 40L))
  }

  test("buildOnce: a set with one table dropped is rebuilt whole from one build") {
    val root = freshRoot()
    val set = Seq(Bucketing.Table("bo_drop_keyed", "keyed", Some(Seq("k") -> 4)),
      Bucketing.Table("bo_drop_plain", "plain"))
    Bucketing.buildOnce(spark, root, set)(Seq(frame(1), frame(1)))
    spark.sql("DROP TABLE bo_drop_plain")
    var builds = 0
    val Seq(keyed, plain) = Bucketing.buildOnce(spark, root, set) {
      builds += 1; Seq(frame(2), frame(2))
    }
    assert(builds == 1)
    assert(values(keyed) == Seq(2L) && values(plain) == Seq(2L),
      "every table of the set must come from the one rebuild")
  }

  test("buildOnce: a bucketed table's scan reports its bucketing; a plain table is one file") {
    val root = freshRoot()
    val Seq(keyed, _) = Bucketing.buildOnce(spark, root, Seq(
        Bucketing.Table("bo_layout_keyed", "keyed", Some(Seq("k") -> 4)),
        Bucketing.Table("bo_layout_plain", "plain"))) {
      Seq(frame(1), frame(1).repartition(3))
    }
    val agg = keyed.groupBy("k").count()
    assert(agg.count() == 40L)
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"the bucketed scan must satisfy the key distribution:\n$p")
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("bo_layout_keyed")).bucketSpec
    assert(spec.map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
      .contains((4, Seq("k"), Seq("k"))))
    val files = new java.io.File(s"$root/plain").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(files.length == 1, s"plain table files: ${files.toSeq}")
  }
}
