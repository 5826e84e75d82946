package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{LinkGraph, SparkTuning, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * k-truss subgraph: the maximal subgraph in which every edge
 * participates in at least (k-2) triangles within the subgraph
 * (reference `/root/reference/cpp/src/community/ktruss.cu`, API
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:371`).
 *
 * Synchronous support peel, the reference's round semantics: per round
 * compute every edge's support |N(u) ∩ N(v)| within the current
 * subgraph and drop all edges below k-2, until stable.
 *
 * Support is computed with a TWO-PATH skew split (the same philosophy
 * as hub salting in the superstep reducers):
 *
 *  - NORMAL path (vertices with degree <= maxAdjWidth, i.e. everything
 *    except mega-hubs): sorted adjacency arrays + `array_intersect`
 *    merge — vectorized, no explode, the cheapest way to score an
 *    edge. Row width is BOUNDED by maxAdjWidth by construction, which
 *    removes the round-2 hazard (unbounded `collect_list` of a
 *    mega-hub's full neighborhood in one row).
 *  - HUB path (edges with at least one endpoint over the cap — rare by
 *    power law): the distributed wedge join probed from the
 *    LOWER-degree endpoint (pair (x,y) ⋈ probe's edge rows ⋈ the
 *    (other, w) edge key, groupBy count) — rows instead of arrays, so
 *    a 10^8-degree hub spreads across partitions; per edge the probe
 *    side generates min(deg x, deg y) rows.
 *
 * Alternatives measured on the dense test graph (sf0.1, 1.2M canonical
 * edges): per-round oriented triangle ENUMERATION (TriangleCount shape
 * + 3-edge credit explode) is hub-safe but ~3.5x slower (a full
 * enumeration per round); INCREMENTAL dirty-edge recount degenerates
 * here because early peel rounds dirty >95% of edges.
 *
 * Rounds are bounded by the peel depth (small for web-like graphs).
 * Expects an undirected (symmetrized, deduped) graph. Returns the
 * surviving CANONICAL edge list (src < dst).
 */
object KTruss {

  /** A [[subgraph]] result: the surviving canonical edges and the peel
   * rounds taken (they size the unrolled SQL oracle). */
  final case class Result(edges: DataFrame, rounds: Int)

  /** Adjacency rows wider than this take the hub (wedge-join) path.
   * 64Ki longs ≈ 512 KiB per row — far under task memory, far over
   * any non-hub web-graph degree. */
  val DefaultMaxAdjWidth = 65536

  def subgraph(
      g0: LinkGraph,
      k: Int,
      maxIter: Int = 100,
      maxAdjWidth: Int = DefaultMaxAdjWidth): Result =
    SparkTuning.withoutAqe(g0.spark)(runImpl(g0, k, maxIter, maxAdjWidth))

  private def runImpl(
      g0: LinkGraph, k: Int, maxIter: Int, maxAdjWidth: Int): Result = {
    require(k >= 2, s"k must be >= 2, got $k")
    val p = g0.numPartitions
    val minSupport = k - 2

    // Canonical edge rows of the current state: counted by the first
    // step, then by each check, whose count also fills the next
    // state's cache.
    var n = -1L
    // The round's adjacency and degree caches, released by its check.
    var lowAdj: DataFrame = null
    var deg: DataFrame = null
    // Every edge is in >= 0 triangles: the 2-truss is the whole
    // (self-loop-free) graph, no peeling needed.
    val r = Superstep.run(g0, "ktruss", if (minSupport == 0) 0 else maxIter)(
      g0.edges.filter(col(SRC) =!= col(DST))
        .select(least(col(SRC), col(DST)).as(SRC),
          greatest(col(SRC), col(DST)).as(DST))
        .distinct()
        .repartition(p, col(SRC)),
      step = (cur, _) => {
        if (n < 0) n = cur.count()
        val sym = cur.union(cur.select(col(DST).as(SRC), col(SRC).as(DST)))

        // Broadcast the round's adjacency when it fits: the intersect
        // joins otherwise duplicate each neighbor array once per
        // incident edge through an exchange — at sf0.1 that was
        // ~400 MB shuffled per peel round for a ~20 MB adjacency. `n`
        // is the previous round's canonical edge count, so the
        // estimate (2n entries x 8 B) is known before any new job
        // runs; past the bound the co-partitioned shuffle plan below is
        // unchanged. Under the bound the hub split is moot — the widest
        // possible adjacency row is bounded by the whole
        // (broadcastable) adjacency — so the degree table, the width
        // semi-join and the per-round hub-existence action are skipped
        // outright.
        val bcastAdj = 2L * n * 8L < SparkTuning.BroadcastBytes

        deg =
          if (bcastAdj) null
          else sym.groupBy(col(SRC).as(ID)).agg(count(lit(1)).as("d"))
            .persist(StorageLevel.MEMORY_AND_DISK)

        // ---- normal path: bounded adjacency arrays ----
        val lowAdj0 = (if (bcastAdj) sym
          else sym.join(deg.filter(col("d") <= maxAdjWidth).select(ID)
            .withColumnRenamed(ID, SRC), Seq(SRC), "left_semi"))
          .groupBy(col(SRC).as(ID))
          .agg(sort_array(collect_list(col(DST))).as("nbrs"))
        lowAdj = (if (bcastAdj) lowAdj0
          else lowAdj0.repartition(p, col(ID)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // Fill the cache before the two broadcast builds start: each
        // build otherwise re-runs the whole adjacency aggregation.
        if (bcastAdj) lowAdj.count()
        val lowAdjB = if (bcastAdj) broadcast(lowAdj) else lowAdj
        val adjU = lowAdjB.select(col(ID).as(SRC), col("nbrs").as("nu"))
        val adjV = lowAdjB.select(col(ID).as(DST), col("nbrs").as("nv"))
        val lowSurvivors = cur
          .join(adjU, Seq(SRC))
          .join(adjV, Seq(DST))
          .filter(size(array_intersect(col("nu"), col("nv"))) >= minSupport)
          .select(SRC, DST)

        // ---- hub path: edges with an over-cap endpoint (rare) ----
        val hubSurvivors: DataFrame = if (bcastAdj) null else {
          val hubV = deg.filter(col("d") > maxAdjWidth)
          val degS = deg.select(col(ID).as(SRC), col("d").as("ds"))
          val degD = deg.select(col(ID).as(DST), col("d").as("dd"))
          val hubEdges = cur
            .join(degS, Seq(SRC)).join(degD, Seq(DST))
            .filter(col("ds") > maxAdjWidth || col("dd") > maxAdjWidth)
          if (hubV.isEmpty) null else {
            // Probe from the lower-degree endpoint: min(deg) wedge rows
            // per edge.
            val probes = hubEdges.select(
              when(col("ds") <= col("dd"), col(SRC)).otherwise(col(DST))
                .as("probe"),
              when(col("ds") <= col("dd"), col(DST)).otherwise(col(SRC))
                .as("other"))
            val n1 = sym.select(col(SRC).as("probe"), col(DST).as("w"))
            val n2 = sym.select(col(SRC).as("other"), col(DST).as("w"))
            probes.join(n1, Seq("probe")).join(n2, Seq("other", "w"))
              .groupBy("probe", "other").agg(count(lit(1)).as("sup"))
              .filter(col("sup") >= minSupport)
              .select(least(col("probe"), col("other")).as(SRC),
                greatest(col("probe"), col("other")).as(DST))
          }
        }

        val survivors =
          if (hubSurvivors == null) lowSurvivors
          else lowSurvivors.union(hubSurvivors)
        survivors.repartition(p, col(SRC))
      },
      check = (next, _) => {
        val m = next.count()
        lowAdj.unpersist()
        if (deg != null) deg.unpersist()
        val done = m == n || m == 0
        n = m
        (done, Map.empty)
      })
    // The 2-truss ran no round, so it has nothing to converge on.
    Result((if (minSupport == 0) r.state else r.fixpoint("k-truss", maxIter)).df,
      r.iterations)
  }
}
