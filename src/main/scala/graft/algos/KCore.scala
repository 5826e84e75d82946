package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{LinkGraph, SparkTuning, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Generic k-core subgraph: the maximal subgraph in which every vertex
 * has degree >= k (reference `/root/reference/cpp/src/cores/k_core_impl.cuh`,
 * API `/root/reference/cpp/include/cugraph/algorithms.hpp:1636`; the
 * legacy entry `algorithms.hpp:410` peels against core numbers).
 *
 * Two entry points, matching the reference's two call shapes:
 *  - [[subgraph]]: iterative degree peel to fixpoint — each round is
 *    one map-side-combined groupBy (degree) + two semi-joins (edge
 *    filter), all hash-partitioned on the vertex key, so a round
 *    shuffles only the shrinking edge set;
 *  - [[fromCoreNumbers]]: one-shot extraction given a precomputed
 *    core-number table (the reference's k_core(graph, k, core_numbers)
 *    overload) — keeps edges whose BOTH endpoints have core >= k,
 *    which equals the peel fixpoint by the core decomposition
 *    hierarchy.
 *
 * Expects an undirected (symmetrized, deduped) graph, like the
 *  reference (`k_core_impl.cuh` requires symmetric).
 */
object KCore {

  /** A [[subgraph]] result: the k-core and the peel rounds taken (they
   * size the unrolled SQL oracle). */
  final case class Result(graph: LinkGraph, rounds: Int)

  /** Iterative peel on [[Superstep]], with AQE off. `degreeType` (reference
   * `algorithms.hpp:1636`): Out counts src-side edges (= total degree
   * on a symmetric table — the undirected default), In counts
   * dst-side, InOut both. Every vertex of the graph must survive the
   * typed-degree test; edges keep only surviving endpoints. */
  def subgraph(
      g: LinkGraph,
      k: Int,
      maxIter: Int = 100,
      degreeType: CoreNumber.DegreeType = CoreNumber.Out): Result =
    SparkTuning.withoutAqe(g.spark) {
      require(k >= 1, s"k must be >= 1, got $k")
      // Edge rows of the current state: counted by the first step, then
      // by each check, whose count also fills the next state's cache.
      var rows = -1L
      val r = Superstep.run(g, "kcore", maxIter)(
        g.edges.filter(col(SRC) =!= col(DST)),
        step = (cur, _) => {
          if (rows < 0) rows = cur.count()
          val degStream = degreeType match {
            case CoreNumber.Out => cur.select(col(SRC).as(ID))
            case CoreNumber.In => cur.select(col(DST).as(ID))
            case CoreNumber.InOut => cur.select(col(SRC).as(ID))
              .union(cur.select(col(DST).as(ID)))
          }
          val keep = degStream.groupBy(ID).agg(count(lit(1)).as("d"))
            .filter(col("d") >= k)
            .select(ID)
          // The survivor set is bounded by V <= 2·(edge rows): broadcast
          // it into BOTH semi-joins when it fits (guide §3.1) — the
          // dst-side semi-join otherwise re-exchanges the whole edge
          // table every peel round (its layout is hash(src)). Past the
          // bound the shuffled semi-joins run as before.
          val bcastKeep = rows * 64L < SparkTuning.BroadcastBytes
          val keepS = keep.withColumnRenamed(ID, SRC)
          val keepD = keep.withColumnRenamed(ID, DST)
          cur
            .join(if (bcastKeep) broadcast(keepS) else keepS, Seq(SRC), "left_semi")
            .join(if (bcastKeep) broadcast(keepD) else keepD, Seq(DST), "left_semi")
        },
        check = (next, _) => {
          val m = next.count()
          val done = m == rows || m == 0
          rows = m
          (done, Map.empty)
        })
      Result(LinkGraph(r.fixpoint("k-core", maxIter).df, g.directed, g.numPartitions),
        r.iterations)
    }

  /** One-shot k-core given core numbers (id, core_number): keep edges
   * whose both endpoints have core_number >= k. */
  def fromCoreNumbers(g: LinkGraph, coreNumbers: DataFrame, k: Int): LinkGraph = {
    val keep = coreNumbers
      .filter(col("core_number") >= k)
      .select(col(ID))
    g.inducedSubgraph(keep)
  }
}
