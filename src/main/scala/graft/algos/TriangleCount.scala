package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph, SparkTuning}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Exact per-vertex triangle counting after the reference's pipeline
 * (`/root/reference/cpp/src/community/triangle_count_impl.cuh:146-443`),
 * in a fixed number of Spark jobs however the graph is shaped:
 *
 *   1. drop self-loops and multi-edges (`:193-226`);
 *   2. one degree table of that simple graph; its sum is |E|, which
 *      sizes the broadcast-or-shuffle choice below;
 *   3. orient each edge low→high by (degree, id) (`:86-98`), dropping
 *      in the same joins every edge with an endpoint of degree < 2 —
 *      the first round of the reference's 2-core prune (`:228-293`).
 *      Later rounds would only drop edges that close no triangle, and
 *      any total order finds each triangle exactly once, so the counts
 *      do not depend on them;
 *   4. group the oriented edges into adjacency lists N+(u); for every
 *      oriented edge (u, v), intersect N+(u) with N+(v)
 *      (`transform_reduce_dst_nbr_intersection_of_e_endpoints_by_v.cuh`)
 *      and credit u, v and each shared neighbour from one generator
 *      (op at `triangle_count_impl.cuh:100-113`);
 *   5. reduce per vertex; every other vertex counts 0.
 *
 * Jobs per call: the degree sum (which caches the degree table), one
 * broadcast of the degree table read by both orientation joins, one
 * broadcast of the cached adjacency for the intersect join, and the
 * result. Past the 64 MB adjacency bound nothing is broadcast: the
 * `src`-side degree join stays co-partitioned with the edges, the
 * adjacency is laid out by its id, and only the `dst` side of each
 * join is exchanged.
 *
 * Expects an undirected (symmetrized) graph.
 *
 * Scale: the low→high orientation bounds every oriented adjacency list
 * by O(sqrt(E)) — the classic arboricity argument — so the
 * collect_list adjacency arrays and the per-edge array_intersect stay
 * bounded even for mega-hubs; this is the same reason the reference
 * orients before intersecting.
 */
object TriangleCount {

  def run(g0: LinkGraph): DataFrame =
    SparkTuning.withGraph(g0)(runImpl(_))

  /** The degree table and the oriented adjacency are broadcast when 8
   * bytes per symmetric edge row (twice the adjacency's entries) come
   * to less than `adjBytes`; the orientation and intersect joins are
   * then broadcast hash joins and the per-edge neighbour arrays never
   * cross an exchange. Tests pass a smaller `adjBytes` to force the
   * shuffled plan on small inputs. */
  private[graft] def runImpl(
      g: LinkGraph, adjBytes: Long = SparkTuning.BroadcastBytes): DataFrame = {
    val simple = g.withoutSelfLoops.dedupe.edges
    val deg = simple.groupBy(col(SRC).as(ID)).agg(count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rows = deg.agg(coalesce(sum("d"), lit(0L))).head().getLong(0)
    val bcast = rows * 8L < adjBytes
    def small(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df

    val kept = small(deg.filter(col("d") >= 2))
    val adj = simple
      .join(kept.select(col(ID).as(SRC), col("d").as("ds")), Seq(SRC))
      .join(kept.select(col(ID).as(DST), col("d").as("dd")), Seq(DST))
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col(SRC) < col(DST)))
      .groupBy(col(SRC).as(ID))
      .agg(collect_list(col(DST)).as("nbrs"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Every oriented edge (u, v) with N+(u), joined to N+(v).
    val tri = adj
      .select(col(ID).as(SRC), explode(col("nbrs")).as(DST), col("nbrs").as("nu"))
      .join(small(adj).select(col(ID).as(DST), col("nbrs").as("nv")), Seq(DST))
      .select(col(SRC), col(DST), array_intersect(col("nu"), col("nv")).as("w"))
      .filter(size(col("w")) > 0)
    // One generator: u and v once per closing vertex, then each w.
    val n = size(col("w"))
    val counts = tri
      .select(explode(concat(
        array_repeat(col(SRC), n), array_repeat(col(DST), n), col("w"))).as(ID))
      .groupBy(ID).agg(count(lit(1)).as("triangles"))

    val out = Lineage.materialize(
      g.vertices.join(counts, Seq(ID), "left")
        .select(col(ID), coalesce(col("triangles"), lit(0L)).as("triangles")))
    adj.unpersist()
    deg.unpersist()
    out.df
  }

  /** Total triangle count = sum(per-vertex) / 3. */
  def total(perVertex: DataFrame): Long =
    perVertex.agg((sum("triangles") / 3).cast("long")).head().getLong(0)
}
