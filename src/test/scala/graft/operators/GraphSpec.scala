package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** Connected components (min-label propagation) unit tests: chains
  * (worst-case diameter), multiple components, and agreement with a
  * driver-side union-find oracle on random graphs. */
class GraphSpec extends SparkSpec {

  private def edges(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("a", "b")
  }

  /** A random graph of the union-find fixture: 30 edges over 20 nodes. */
  private def randomEdges(rng: scala.util.Random): Seq[(Long, Long)] =
    Seq.fill(30)((rng.nextLong(20), rng.nextLong(20))).filter(e => e._1 != e._2)

  private def components(es: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges(es), "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two components and a chain resolve to min labels") {
    // chain 1-2-3-4 plus pair 10-11
    val got = components(Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges (diameter > a few rounds)") {
    val n = 40L
    val got = components((1L until n).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(1L) && got.size == n.toInt)
  }

  test("random graphs agree with a union-find oracle") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 5) {
      val es = randomEdges(rng)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val oracle = parent.keys.map(k => k -> find(k)).toMap
      assert(components(es) == oracle, s"edges=$es")
    }
  }

  test("nothing is left behind: no pinned blocks after releaseStaged, no checkpoint files") {
    val sc = spark.sparkContext
    def files(dir: Option[String]): Long = dir.fold(0L) { d =>
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(d).toUri.getPath))
      try walk.filter(java.nio.file.Files.isRegularFile(_)).count() finally walk.close()
    }
    GraftBridge.releaseStaged() // clear anything earlier tests staged
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val dirBefore = sc.getCheckpointDir
    val filesBefore = files(dirBefore)
    val es = randomEdges(new scala.util.Random(11))
    assert(Graph.connectedComponents(edges(es), "a", "b").count() > 0)
    GraftBridge.releaseStaged()
    val left = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
    assert(left.isEmpty, s"RDDs still persisted after releaseStaged: $left")
    assert(sc.getCheckpointDir == dirBefore, "connectedComponents set a checkpoint dir")
    assert(files(dirBefore) == filesBefore, "connectedComponents wrote checkpoint files")
  }
}
