package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{LinkGraph, SparkTuning}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Leiden community detection (reference
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:684`,
 * `cpp/src/community/leiden_impl.cuh`): Louvain's level loop plus the
 * REFINEMENT phase that is Leiden's defining contribution (Traag,
 * Waltman, van Eck 2019) — before contracting, each community is
 * split into its connected pieces over INTRA-community edges, so every
 * community in the dendrogram is guaranteed internally connected
 * (Louvain can emit disconnected communities; the Leiden paper's
 * central complaint).
 *
 * [[run]] is Louvain's one level loop with its `refine` flag set, so
 * per level:
 *   1. the Louvain label loop (identical move gain / tie-break /
 *      up-down semantics);
 *   2. refinement ([[refine]]): connected components of the
 *      intra-community subgraph ([[ConnectedComponents]] min-label
 *      propagation restricted to equal-label edges); refined community
 *      id = min member id of the connected piece; label-isolated
 *      vertices become singleton communities;
 *   3. the level's Q is taken on the REFINED labels, and the graph is
 *      contracted by them and recursed — exactly where the reference
 *      contracts by its refined partition (leiden_impl.cuh
 *      refine_clustering → coarsen).
 *
 * Config and Result are Louvain's; with `keepDendrogram` each level's
 * frame is its refined (id, community) assignment. The refinement's
 * physical shape is two co-partitioned label joins (edge annotation) +
 * the WCC superstep loop on the intra subgraph — no new primitives.
 * Expects an undirected (symmetrized) graph.
 */
object Leiden {

  def run(g0: LinkGraph, cfg: Louvain.Config = Louvain.Config()): Louvain.Result =
    SparkTuning.withGraph(g0)(Louvain.runImpl(_, cfg, refine = true))

  /** Split each community into its connected intra-community pieces;
   * returns (id, lbl) with lbl = min member id of the piece. */
  private[graft] def refine(
      g: LinkGraph, labels: DataFrame, p: Int): DataFrame = {
    val intra = g.edges
      .join(labels.select(col(ID).as(SRC), col("lbl").as("ls")), Seq(SRC))
      .join(labels.select(col(ID).as(DST), col("lbl").as("ld")), Seq(DST))
      .filter(col("ls") === col("ld"))
      .select(col(SRC), col(DST), col(WEIGHT))
    val cc = ConnectedComponents.run(
      LinkGraph(LinkGraph.partitioned(intra, p), directed = false, p))
      .components
    labels.select(col(ID))
      .join(cc, Seq(ID), "left")
      .select(col(ID), coalesce(col("component"), col(ID)).as("lbl"))
  }
}
