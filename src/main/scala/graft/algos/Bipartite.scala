package graft.algos

import org.apache.spark.sql.functions._

import graft.core.LinkGraph
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Distributed bipartiteness test — the coloring algorithm the reference
 * declares but stubs (`/root/reference/python/cugraph/cugraph/structure/graph_classes.py:529-549`:
 * `is_bipartite` "TO DO: Call coloring algorithm", always False unless
 * the user asserted partitions at construction).
 *
 * BIPARTITE DOUBLE COVER, not per-vertex 2-coloring supersteps: build
 * the cover graph on vertex copies (v,0)=2v and (v,1)=2v+1 with every
 * undirected edge {u,v} lifted to {u0,v1} and {u1,v0}, then run one
 * [[ConnectedComponents]] pass over it. A component of G is bipartite
 * iff its two cover copies stay in DISTINCT cover components; any odd
 * cycle (self-loops included — v0–v1 directly) merges them. That turns
 * the test into the engine's already-hub-safe WCC fixpoint — no BFS
 * level loop, no parity conflict join, and the identical construction
 * is a plain CTE for the SQL oracle.
 *
 * `merged` counts the vertices whose copies share a cover component
 * (0 ⟺ bipartite) — a per-vertex diagnostic of which parts of the
 * graph break 2-colorability, matching the granularity of the
 * reference's intended per-partition API.
 */
object Bipartite {

  final case class Result(isBipartite: Boolean, merged: Long)

  def check(g0: LinkGraph): Result = {
    // Bipartiteness is a property of the undirected structure.
    val g = if (g0.directed) g0.symmetrize else g0
    val e = g.edges
    val cover = e.select((col(SRC) * 2).as(SRC), (col(DST) * 2 + 1).as(DST))
      .union(e.select((col(SRC) * 2 + 1).as(SRC), (col(DST) * 2).as(DST)))
      .withColumn(WEIGHT, lit(1.0))
    val cc = ConnectedComponents.run(
      LinkGraph(cover, directed = false, g.numPartitions)).components
    val evens = cc.filter(pmod(col(ID), lit(2L)) === 0L)
      .select((col(ID) / 2).cast("long").as("v"), col("component").as("c0"))
    val odds = cc.filter(pmod(col(ID), lit(2L)) === 1L)
      .select(((col(ID) - 1) / 2).cast("long").as("v"),
        col("component").as("c1"))
    val merged = evens.join(odds, Seq("v"))
      .filter(col("c0") === col("c1")).count()
    Result(merged == 0L, merged)
  }
}
