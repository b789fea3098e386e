package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** `Tables.replica`, the ×MULT copy that `Bench` runs at scale: ×1 is
  * the source itself; at ×3 the salted tables hold 3× the rows with
  * unique salted keys and unchanged grouping keys, the replicas' token
  * vocabularies are disjoint, lineitem⋈orders grows exactly 3×, the
  * unsalted tables are file-for-file copies, and a second call fires
  * no Spark job. */
class TablesReplicaSpec extends SparkSpec {

  private val mult = 3

  /** All ten tables, a few rows each; every lineitem row has its order. */
  private lazy val source: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("replica_src").toString
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$d/$name.parquet")
    write("region", Seq((0L, "AFRICA"), (1L, "ASIA")).toDF("r_regionkey", "r_name"))
    write("nation", Seq((0L, "KENYA", 0L)).toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", Seq((1L, "c1"), (2L, "c2")).toDF("c_custkey", "c_name"))
    write("supplier", Seq((1L, "s1")).toDF("s_suppkey", "s_name"))
    write("part", Seq((10L, 5), (11L, 7)).toDF("p_partkey", "p_size"))
    write("events", Seq((1L, Timestamp.valueOf("2024-03-01 10:00:00"), 7L))
      .toDF("event_id", "ts", "user_id"))
    write("orders", Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("o_orderkey", "o_custkey"))
    write("lineitem", Seq((1L, 10L, 2.0), (1L, 11L, 1.0), (2L, 10L, 4.0), (3L, 11L, 3.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity"))
    write("documents", Seq(
        (1L, "the cat sat on the mat", "en", "web", 22L),
        (2L, "the cat sat on a mat", "en", "web", 20L),
        (3L, "der hund", "de", "news", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    write("embeddings", Seq((1L, Array(0.5f, 0.25f), 0), (2L, Array(1f, 0f), 1))
      .toDF("vec_id", "embedding", "label"))
    d
  }

  private lazy val copy: String = Tables.replica(spark, source, mult)

  private def table(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet")

  private def files(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize).toSeq.sortBy(_.toString)
    finally walk.close()
  }

  test("×1 is the source dir itself and writes nothing") {
    assert(Tables.replica(spark, source, 1) == source)
    val x1 = Paths.get(graft.queries.DataOps.tableRoot,
      s"x1_${source.replaceAll("[^A-Za-z0-9]", "_")}")
    assert(!Files.exists(x1))
  }

  test("salted tables hold ×3 the rows with unique salted keys") {
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
        "documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (name, key) =>
      def rowsAndKeys(dir: String) = {
        val t = table(dir, name)
        (t.count(), t.select(key).distinct().count())
      }
      val (rows, keys) = rowsAndKeys(source)
      // each replica of a key is a new key: lineitem keeps its lines
      // per order, the other three stay one row per key
      assert(rowsAndKeys(copy) == (mult * rows, mult * keys), s"$name.$key")
    }
  }

  test("grouping keys keep their distinct values") {
    Seq("lineitem" -> "l_partkey", "orders" -> "o_custkey").foreach { case (name, key) =>
      def values(dir: String) = table(dir, name).select(key).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(values(copy) == values(source), s"$name.$key")
    }
  }

  test("replica vocabularies are pairwise disjoint") {
    val tokens = table(copy, "documents")
      .select(pmod(col("doc_id"), lit(mult)).as("rep"),
        explode(split(col("text"), " ")).as("token"))
    val shared = tokens.groupBy("token").agg(countDistinct("rep").as("reps"))
      .filter(col("reps") > 1)
    assert(shared.count() == 0)
    assert(tokens.select("rep").distinct().count() == mult)
  }

  test("lineitem joined to orders on the order key grows exactly ×3") {
    def joined(dir: String) = table(dir, "lineitem")
      .join(table(dir, "orders"), col("l_orderkey") === col("o_orderkey")).count()
    assert(joined(source) > 0)
    assert(joined(copy) == mult * joined(source))
  }

  test("the six unsalted tables are byte-identical copies") {
    Seq("region", "nation", "customer", "supplier", "part", "events").foreach { name =>
      val from = Paths.get(source, s"$name.parquet")
      val to = Paths.get(copy, s"$name.parquet")
      assert(files(from) == files(to), name)
      files(from).foreach { f =>
        assert(Files.readAllBytes(from.resolve(f)).sameElements(
          Files.readAllBytes(to.resolve(f))), s"$name/$f")
      }
    }
  }

  test("a second call fires no Spark job and rewrites no table") {
    val before = files(Paths.get(copy)).map(f =>
      f -> Files.getLastModifiedTime(Paths.get(copy).resolve(f)))
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val again = try {
      val d = Tables.replica(spark, source, mult)
      ListenerBusDrain.drain(spark.sparkContext)
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(again == copy)
    assert(jobs.get() == 0)
    assert(files(Paths.get(copy)).map(f =>
      f -> Files.getLastModifiedTime(Paths.get(copy).resolve(f))) == before)
  }
}
