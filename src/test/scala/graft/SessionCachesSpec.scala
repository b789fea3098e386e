package graft

import java.lang.ref.WeakReference
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The engine's per-session caches — the frame cache behind
  * `Tables.apply` and `GraftSession.boundedAggSession`'s child — must
  * not outlive their session: a session dropped by its caller, and its
  * bounded child, are collected. */
class SessionCachesSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("session_caches").toString
    Seq((0L, "AFRICA"), (1L, "ASIA")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$d/region.parquet")
    d
  }

  /** Uses a fresh session through both caches and drops it. The
    * frames are resolved, not executed: Spark's AQE and
    * shuffle-exchange pools create their threads lazily, and a thread
    * created during a query inherits that query's active session,
    * holding it until the thread idles out — Spark's reference, not
    * one of these caches. */
  private def usedAndDropped(): (WeakReference[SparkSession], WeakReference[SparkSession]) = {
    val session = spark.newSession()
    val child = GraftSession.boundedAggSession(session)
    assert(GraftSession.boundedAggSession(session) eq child)
    assert(Tables(session, dir, "region").schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
    assert(Tables(child, dir, "region").schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
    (new WeakReference(session), new WeakReference(child))
  }

  test("Tables.apply returns one frame per session and table") {
    assert(Tables(spark, dir, "region") eq Tables(spark, dir, "region"))
    val other = spark.newSession()
    assert(Tables(other, dir, "region") eq Tables(other, dir, "region"))
    assert(Tables(other, dir, "region") ne Tables(spark, dir, "region"))
  }

  test("a dropped session and its bounded child leave no cache entry") {
    val (session, child) = usedAndDropped()
    val collected = Iterator.range(0, 30).exists { _ =>
      System.gc()
      // any call on the child map expunges entries whose key was collected
      GraftSession.boundedAggSession(spark)
      Thread.sleep(100)
      session.get == null && child.get == null
    }
    assert(collected, s"still reachable after 30 GCs: session=${session.get != null}, " +
      s"child=${child.get != null}")
  }
}
