package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-core peeling over an edge list — the graph-density
  * filter of the iterative family (g02 PageRank, g03 connected
  * components, g04 triangle census): repeatedly delete every node of
  * degree < k until none remains; the surviving subgraph is the
  * k-core. Used to isolate the cohesive center of an interaction
  * graph (spam/bot rings, dense trading cliques) from the tree-like
  * fringe that dominates raw edge counts.
  *
  * Each round is one degree aggregate (node-keyed, map-side combined)
  * plus two left-semi joins filtering the edge list on surviving
  * endpoints — everything shuffles on node id, cost O(|E|) per round,
  * no driver-side data. The per-round `count()` is the convergence
  * check of the standard iterative loop (a 1-row action on a
  * checkpointed frame), not a data collect. Lineage is truncated per
  * round (localCheckpoint) exactly as ConnectedComponents does.
  *
  * BOUNDED-ROUNDS CONTRACT: peeling converges in at most
  * `maxRounds` rounds or the operator THROWS. The bound is part of
  * the query semantics — the DuckDB oracle unrolls the same number of
  * peel rounds as CTEs (each a no-op once converged, so extra rounds
  * are harmless), which keeps an iterative fixed-point
  * oracle-comparable: whenever the engine query SUCCEEDS, both sides
  * computed the identical true k-core. Cascades deeper than the
  * bound (a peel chain longer than `maxRounds`) fail loudly on the
  * engine side instead of silently diverging from the oracle.
  */
object KCore {

  /** Peel `edges` (undirected, one row per edge, columns (a, b),
    * assumed distinct with a ≠ b) to the k-core; returns the
    * surviving edge rows with the original column names. */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    var e = edges.localCheckpoint(true)
    var nEdges = e.count()
    // `peels` counts only rounds that REMOVED something; the final
    // fixed-point-detection round is a no-op (next == e) and does not
    // count against the bound, so a cascade of exactly `maxRounds`
    // peel rounds succeeds (it runs maxRounds+1 loop iterations).
    var peels = 0
    var converged = nEdges == 0
    while (!converged) {
      val next = peelRound(e, k).localCheckpoint(true)
      val nNext = next.count()
      if (nNext == nEdges) {
        converged = true // fixed point reached; detection round is free
      } else {
        peels += 1
        if (peels > maxRounds)
          throw new IllegalStateException(
            s"k-core peel (k=$k) did not converge in $maxRounds rounds — " +
              "raise maxRounds AND the oracle's unroll depth together")
        nEdges = nNext
        e = next
        converged = nNext == 0
      }
    }
    e
  }

  /** One peel round as a pure plan: node-keyed degree aggregate
    * (map-side combined) feeding two LEFT-SEMI joins on the surviving
    * node set. Exposed so PlanAudit can assert the per-round physical
    * shape (semi joins, no cartesian) that `core`'s per-round
    * checkpoints would otherwise hide. */
  def peelRound(e: DataFrame, k: Int): DataFrame = {
    val a = e.columns(0)
    val b = e.columns(1)
    val keep = e.select(col(a).as("n")).unionByName(e.select(col(b).as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("n"))
    e.join(keep.select(col("n").as(a)), Seq(a), "left_semi")
      .join(keep.select(col("n").as(b)), Seq(b), "left_semi")
      .select(col(a), col(b))
  }
}
