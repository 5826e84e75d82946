package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph}
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
 * Per level:
 *   1. the Louvain label loop ([[Louvain.oneLevel]] — identical move
 *      gain / tie-break / up-down semantics);
 *   2. refinement: connected components of the intra-community
 *      subgraph ([[ConnectedComponents]] min-label propagation
 *      restricted to equal-label edges); refined community id = min
 *      member id of the connected piece; label-isolated vertices
 *      become singleton communities;
 *   3. contract by the REFINED labels and recurse — exactly where the
 *      reference contracts by its refined partition
 *      (leiden_impl.cuh refine_clustering → coarsen).
 *
 * The refinement's physical shape is two co-partitioned label joins
 * (edge annotation) + the WCC superstep loop on the intra subgraph —
 * no new primitives. Expects an undirected (symmetrized) graph.
 */
object Leiden {

  final case class Config(
      maxLevels: Int = 10,
      resolution: Double = 1.0,
      threshold: Double = 1e-4,
      maxInnerIter: Int = 50,
      // > 0: fixed inner iterations (oracle-parity, like Louvain).
      fixedInnerIter: Int = 0,
      // Retain per-level refined labels in Result.dendrogram (see
      // Louvain.Config.keepDendrogram).
      keepDendrogram: Boolean = false)

  final case class Result(
      labels: DataFrame, // columns: id, community
      modularity: Double,
      levels: Int,
      // One frame per level when cfg.keepDendrogram: the REFINED
      // (id, community) assignment of that level's vertex space.
      dendrogram: Seq[DataFrame] = Nil)

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withoutAqe(g0.spark)(runImpl(g0, cfg))

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

  private def runImpl(g0: LinkGraph, cfg: Config): Result = {
    val callerCached = g0.edges.storageLevel != StorageLevel.NONE
    if (g0.edges.isEmpty) return Result(Louvain.noLabels(g0.spark), -1.0, 0)
    var g = if (callerCached) g0 else g0.cached()
    var gOwned = !callerCached
    var gHandle: Lineage.Handle = null
    val p = g.numPartitions
    val louvainCfg = Louvain.Config(
      maxLevels = 1, resolution = cfg.resolution, threshold = cfg.threshold,
      maxInnerIter = cfg.maxInnerIter, fixedInnerIter = cfg.fixedInnerIter)

    var flat: Lineage.Handle = null
    var bestModularity = -1.0
    var levels = 0
    var done = false
    val dendro = scala.collection.mutable.ArrayBuffer[DataFrame]()

    while (!done && levels < cfg.maxLevels) {
      val (louvLabels, _) = Louvain.oneLevel(g, louvainCfg, p)
      // Refinement; level Q is evaluated on the REFINED partition (the
      // one actually contracted), so the level-control compares what
      // the dendrogram keeps.
      val refined = Lineage.materialize(refine(g, louvLabels.df, p))
      louvLabels.release()
      val vw = Lineage.materialize(
        g.outWeightSums.select(col(ID), col("out_weight").as("kk"))
          .repartition(p, col(ID)), eager = false)
      val totalW = g.edges.agg(sum(WEIGHT)).head().getDouble(0)
      val lvlQ = Louvain.modularity(
        g.edges, refined.df, vw.df, totalW, cfg.resolution)
      vw.release()

      if (lvlQ <= bestModularity) {
        refined.release()
        done = true
      } else {
        bestModularity = lvlQ
        levels += 1
        val newFlat =
          if (flat == null) {
            Lineage.materialize(
              refined.df.select(col(ID), col("lbl").as("community")))
          } else {
            Lineage.materialize(
              flat.df.join(
                  refined.df.select(col(ID).as("__c"), col("lbl"))
                    .hint("shuffle_hash"),
                  flat.df("community") === col("__c"))
                .select(flat.df(ID), col("lbl").as("community")))
          }
        if (flat != null) flat.release()
        flat = newFlat

        if (levels < cfg.maxLevels) {
          val cEdges = Lineage.materialize(
            LinkGraph.partitioned(
              Coarsen.run(g,
                refined.df.select(col(ID), col("lbl").as("label"))).edges,
              p))
          if (gOwned) { g.unpersist(); gOwned = false }
          if (gHandle != null) gHandle.release()
          gHandle = cEdges
          g = LinkGraph(cEdges.df, directed = false, p)
        }
        if (cfg.keepDendrogram)
          dendro += refined.df.select(col(ID), col("lbl").as("community"))
        else refined.release()
      }
    }

    if (gOwned) g.unpersist()
    if (gHandle != null) gHandle.release()
    Result(
      if (flat == null) Louvain.noLabels(g0.spark) else flat.df,
      bestModularity, levels, dendro.toSeq)
  }
}
