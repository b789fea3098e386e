package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge.stageLocal
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list —
  * the transitive-closure step that turns pairwise near-duplicate
  * candidates (LSH pairs, Jaccard pairs) into dedup CLUSTERS, so a
  * curation pipeline keeps one representative per component instead
  * of per pair.
  *
  * Algorithm: min-label propagation with pointer jumping. Every node
  * starts labeled with itself; each round, (a) labels flow one hop
  * across edges and every node keeps the minimum seen, then (b) each
  * node jumps to its label's label (path compression). The jump step
  * doubles the effective propagation distance per round, so
  * convergence is O(log diameter) shuffles of the edge list rather
  * than O(diameter) — the same bound class as large-star/small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond")
  * and safe for chain-shaped graphs, while near-duplicate clusters
  * (near-cliques) still finish in 2–3 rounds.
  *
  * Every frame the loop reads more than once — the symmetrized edge
  * list, the initial labels and each round's labels — is staged with
  * `GraftBridge.stageLocal`, so iterative DataFrame loops do not
  * re-plan the whole history (optimizer time would otherwise grow
  * quadratically). The returned labels are the last round's staged
  * frame: like every staged frame its blocks stay until the
  * `releaseStaged` consume boundary, or until the ContextCleaner
  * collects them once the caller drops the frame. Nothing is written
  * to a checkpoint directory.
  */
object Graph {

  /** Components over `edges(srcCol, dstCol)`. Returns (node,
    * component) where component = the minimum node id reachable.
    * Nodes are those that appear in at least one edge — callers join
    * isolated vertices back with coalesce(component, id). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    // Edge list staged ONCE (r21): symmetrization references the
    // caller's edge frame twice — for the dedup family that frame is
    // the whole LSH candidate-pair subtree, so the unstaged union ran
    // pair generation twice (measured: 'sym' was 0.7 s of dd_cc's
    // 1.1 s warm loop).
    val e0 = stageLocal(edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v")))
    val sym = stageLocal(
      e0.union(e0.select(col("v").as("u"), col("u").as("v"))).distinct())
    var labels = stageLocal(sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("component")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // labels flow one hop: neighbor v inherits u's current component
      val propagated = sym
        .join(labels.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), col("component"))
      // Each node's PREVIOUS label rides through the aggregation
      // (exactly one union row per node carries it — `labels` has one
      // row per node — so max() recovers it past the nulls). The
      // convergence test below then filters the already-checkpointed
      // result instead of re-joining `labels`: one fewer shuffle join
      // per round, and the test's job only scans checkpoint blocks.
      val hop = labels
        .select(col("node"), col("component"), col("component").as("prev"))
        .union(propagated
          .select(col("node"), col("component"), lit(null).cast("long").as("prev")))
        .groupBy("node").agg(min("component").as("component"), max("prev").as("prev"))
      // pointer jump: follow the label chain one level (component is
      // always itself a node id, so the self-join resolves its label)
      val next = stageLocal(hop
        .join(hop.select(col("node").as("cnode"), col("component").as("cc")),
          col("component") === col("cnode"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("cc"), col("component")))
            .as("component"),
          col("prev")))
      // One job does double duty: count() scans EVERY partition of the
      // filtered view (unlike isEmpty's take-1 short circuit), which
      // fully materializes the lazy checkpoint above AND answers the
      // convergence test — halving the per-round job count, the
      // dominant cost once components collapse to a few labels.
      converged = next.filter(col("component") =!= col("prev")).count() == 0
      labels = next
      i += 1
    }
    labels.select("node", "component")
  }
}
