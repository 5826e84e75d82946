package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Exact per-vertex triangle counting, reproducing the reference's
 * pipeline (`/root/reference/cpp/src/community/triangle_count_impl.cuh:146-443`):
 *
 *   1. drop self-loops (`:193-226`);
 *   2. prune to the 2-core — only 2-core vertices can be in a triangle
 *      (`:228-293`, via core_number with degree_type OUT, k=2);
 *   3. orient each undirected edge low→high by (degree, id) lexicographic
 *      so every edge survives exactly once (`:86-98`);
 *   4. for each oriented edge (u,v): intersect oriented neighbor lists,
 *      credit u, v, and every intersection vertex w
 *      (`transform_reduce_dst_nbr_intersection_of_e_endpoints_by_v.cuh`,
 *      op at `triangle_count_impl.cuh:100-113`);
 *   5. reduce per vertex; vertices outside the 2-core count 0.
 *
 * Expects an undirected (symmetrized, deduped) graph.
 *
 * Scale: the low→high orientation bounds every oriented adjacency list
 * by O(sqrt(E)) — the classic arboricity argument — so the
 * collect_list adjacency arrays and the per-edge array_intersect stay
 * bounded even for mega-hubs; this is the same reason the reference
 * orients before intersecting.
 */
object TriangleCount {

  /** Broadcast the oriented adjacency when its estimated size is under
   * this many bytes (entries × 8B plus per-row overhead). The oriented
   * adjacency has exactly one entry per undirected edge, so this is a
   * |E|-driven bound: under it, BOTH intersect joins become broadcast
   * hash joins and the per-edge neighbor arrays never cross an
   * exchange (measured at sf0.1: the duplicated (src, dst, nu) rows
   * were the dominant shuffle — ~1 GB/round-trip for a 10 MB
   * adjacency). Past the bound the original co-partitioned shuffle
   * plan runs unchanged — the 100 TB posture does not regress. */
  val DefaultBroadcastAdjBytes: Long = 64L << 20

  def run(g0: LinkGraph): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runImpl)

  private def runImpl(g: LinkGraph): DataFrame = {
    val p = g.numPartitions
    val simple = g.withoutSelfLoops.dedupe

    // 2-core peel (reference: core_number OUT, k=2 — `:240-241`).
    // twoCore returns already-materialized (cached) edges.
    val core = twoCore(simple)
    val coreEdges = core.graph.edges

    // One oriented-adjacency entry per undirected edge: the cached
    // symmetric row count / 2 sizes the broadcast decision.
    val bcast = core.rows * 8L < DefaultBroadcastAdjBytes

    // Orient low→high by (degree, id); each undirected edge kept once.
    // Materialized ONCE (hash-partitioned by src so the adjacency
    // groupBy is exchange-free): it feeds both the adjacency build and
    // the intersect probe side, and as a live plan it re-ran the
    // degree joins per consumer action.
    val deg = LinkGraph(coreEdges, directed = false, p).outDegrees
      .select(col(ID), col("out_degree").as("d"))
    val degB = if (bcast) broadcast(deg) else deg
    val dSrc = degB.select(col(ID).as(SRC), col("d").as("ds"))
    val dDst = degB.select(col(ID).as(DST), col("d").as("dd"))
    val orientedH = Lineage.materialize(
      coreEdges
        .join(dSrc, Seq(SRC)).join(dDst, Seq(DST))
        .filter(col("ds") < col("dd") ||
          (col("ds") === col("dd") && col(SRC) < col(DST)))
        .select(SRC, DST)
        .repartition(p, col(SRC)),
      eager = false)
    val oriented = orientedH.df

    // Oriented adjacency arrays, sorted for a merge-style intersect.
    val adj0 = oriented
      .groupBy(col(SRC).as(ID))
      .agg(sort_array(collect_list(col(DST))).as("nbrs"))
    val adj = (if (bcast) adj0 else adj0.repartition(p, col(ID)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val adjB = if (bcast) broadcast(adj) else adj
    val adjU = adjB.select(col(ID).as(SRC), col("nbrs").as("nu"))
    val adjV = adjB.select(col(ID).as(DST), col("nbrs").as("nv"))
    // Inner join: if v has no oriented out-edges the intersection is
    // empty and the edge contributes nothing.
    val withInter = oriented
      .join(adjU, Seq(SRC))
      .join(adjV, Seq(DST))
      .select(col(SRC), col(DST),
        array_intersect(col("nu"), col("nv")).as("tri"))
      .filter(size(col("tri")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Credit src, dst, and each shared neighbor; reduce per vertex.
    val credits = withInter
      .select(col(SRC).as(ID), size(col("tri")).cast("long").as("c"))
      .union(withInter
        .select(col(DST).as(ID), size(col("tri")).cast("long").as("c")))
      .union(withInter
        .select(explode(col("tri")).as(ID), lit(1L).as("c")))
    val counts = credits.groupBy(ID).agg(sum("c").as("triangles"))

    val out = Lineage.materialize(
      g.vertices.join(counts, Seq(ID), "left")
        .select(col(ID), coalesce(col("triangles"), lit(0L)).as("triangles")))
    withInter.unpersist()
    adj.unpersist()
    orientedH.release()
    core.cache.release()
    out.df
  }

  /** Total triangle count = sum(per-vertex) / 3. */
  def total(perVertex: DataFrame): Long =
    perVertex.agg((sum("triangles") / 3).cast("long")).head().getLong(0)

  /** A [[twoCore]] peel: the induced subgraph, its symmetric edge rows
   * (free — the peel counts every round; they size [[run]]'s
   * broadcast-vs-shuffle adjacency decision), the peel rounds taken
   * (oracle sizing) and the cache behind the subgraph's edges, which
   * the caller releases. */
  final case class TwoCore(
      graph: LinkGraph, rows: Long, rounds: Int, cache: Lineage.Handle)

  /**
   * 2-core: iteratively peel vertices with degree < 2 (reference core
   * number peeling, `/root/reference/cpp/src/cores/core_number_impl.cuh:86-328`,
   * restricted to k=2 which is all triangle counting needs). Returns
   * the induced subgraph on the 2-core.
   */
  def twoCore(g: LinkGraph, maxIter: Int = 100): TwoCore = {
    var cur = Lineage.materialize(g.edges, eager = false)
    var n = cur.df.count()
    var changed = true
    var it = 0
    while (changed && n > 0 && it < maxIter) {
      it += 1
      val keep = cur.df.groupBy(col(SRC).as(ID)).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2)
        .select(ID)
      // Survivors ⊆ V ≤ symmetric edge rows: broadcast into both
      // semi-joins when that fits — the dst-side semi-join otherwise
      // re-exchanges the whole hash(src) edge table every peel round
      // (the KCore.subgraph fix, same bound). Shuffled past the bound.
      val bcastKeep = n * 32L < (64L << 20)
      val keepS = keep.withColumnRenamed(ID, SRC)
      val keepD = keep.withColumnRenamed(ID, DST)
      val pruned = cur.df
        .join(if (bcastKeep) broadcast(keepS) else keepS, Seq(SRC), "left_semi")
        .join(if (bcastKeep) broadcast(keepD) else keepD, Seq(DST), "left_semi")
      val next = Lineage.materialize(pruned, eager = false)
      val m = next.df.count()
      changed = m < n
      n = m
      cur.release()
      cur = next
    }
    TwoCore(LinkGraph(cur.df, g.directed, g.numPartitions), n, it, cur)
  }
}
