package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive closure / multi-hop reachability over an edge list (the
  * lineage-walk primitive: the reference UI expands a node's ancestor
  * and descendant chains hop by hop — `src/lineage.ts:26-132`,
  * `apps/web/src/components/LineageGraph.tsx:48-76` — this computes
  * the same closure as keyed joins, whole-graph or from a seed set).
  *
  * Both walks are FRONTIER-based iterative joins with the
  * connected-components lineage discipline (`Dedup
  * .connectedComponentsWithStats`): each generation joins only the
  * newly-discovered rows against the edge list, dedups against the
  * accumulated set with an anti-join, and truncates plan lineage with
  * an eager `localCheckpoint` — iterations ≈ graph depth, each a keyed
  * shuffle, no driver-side graph state. Cycles terminate naturally
  * (a revisited node is anti-joined away); `converged = false` means
  * the walk hit `maxIter` with the frontier non-empty — a valid
  * PARTIAL closure (under-reach, never wrong pairs) the caller must
  * decide to extend or fail.
  *
  * 100 TB note: closure size is O(nodes × reachable-set); for
  * lineage DAGs (bounded depth, near-tree fan-in) that is nodes ×
  * depth. For dense graphs prefer [[reachFrom]] with a seed set —
  * cost is then frontier × edges per hop, the UI ask shape.
  */
object Closure {

  final case class ClosureResult(pairs: DataFrame, converged: Boolean,
      iterations: Int)

  /** All (src, anc) pairs with a directed path src →…→ anc of length
    * ≥ 1 over `edges` (columns `src`, `dst`). */
  def transitiveWithStats(edges: DataFrame, maxIter: Int = 20)
      : ClosureResult = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    // reach = LAZY union of the checkpointed generations: each
    // generation is materialized exactly once (its own checkpoint);
    // re-checkpointing the accumulated union every iteration re-wrote
    // the ENTIRE closure-so-far per hop — O(depth × closure) extra
    // materialization for zero recompute saved (every union leg is
    // already checkpointed). Guide §1.2 / §5.
    var gens = List(e.select(col("src"), col("dst").as("anc"))
      .localCheckpoint(true))
    def reach = gens.reduceLeft(_ unionByName _)
    // frontier = pairs discovered last generation; extending ONLY them
    // re-walks no settled pair
    var frontier = gens.head
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      it += 1
      val grown = frontier.select(col("src"), col("anc").as("_hop"))
        .join(e.select(col("src").as("_hop"), col("dst").as("anc")),
          Seq("_hop"))
        .select(col("src"), col("anc")).distinct()
      val next = grown.join(reach, Seq("src", "anc"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) converged = true
      else {
        gens = next :: gens
        frontier = next
      }
    }
    ClosureResult(reach, converged, it)
  }

  /** Convenience: converged closure or an IllegalStateException —
    * callers that cannot accept a partial walk. */
  def transitive(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val r = transitiveWithStats(edges, maxIter)
    if (!r.converged) throw new IllegalStateException(
      s"transitive closure did not converge in ${r.iterations} iterations")
    r.pairs
  }

  /** Nodes reachable from `seeds` (column `id`) following src → dst,
    * with minimal hop distance (BFS layers: a node's first discovery
    * generation IS its minimal distance). Seeds report hop 0. */
  def reachFrom(edges: DataFrame, seeds: DataFrame, maxIter: Int = 20)
      : ClosureResult = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    // same lazy-union-of-checkpointed-generations shape as
    // [[transitiveWithStats]]: generations materialize once each
    var gens = List(seeds.select(col("id")).distinct()
      .withColumn("hops", lit(0)).localCheckpoint(true))
    def reach = gens.reduceLeft(_ unionByName _)
    var frontier = gens.head
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      it += 1
      val next = frontier.join(e, col("id") === col("src"))
        .select(col("dst").as("id"), (col("hops") + 1).as("hops"))
        .groupBy("id").agg(min("hops").as("hops"))
        .join(reach, Seq("id"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) converged = true
      else {
        gens = next :: gens
        frontier = next
      }
    }
    ClosureResult(reach, converged, it)
  }
}
