package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Core number (k-core decomposition) — the reference's bucket peel
 * (`/root/reference/cpp/src/cores/core_number_impl.cuh:86-328`, INOUT
 * degrees on an undirected graph) re-expressed for Spark as the
 * H-INDEX ITERATION (Lü, Zhou, Zhang, Stanley 2016): starting from
 * c(v) = degree(v), repeatedly set c(v) to the h-index of its
 * neighbors' current values; the sequence is monotone non-increasing
 * and converges exactly to the core numbers.
 *
 * Physical plan — AGGREGATION-ONLY, no per-vertex sort, no windows:
 * a window-over-dst h-index (the v1 implementation) put a hub's whole
 * neighbor multiset into one task and sorted it every superstep. Here
 * each superstep is
 *
 *   1. value histogram per vertex: groupBy(dst, c) count — map-side
 *      combinable, a hub's fan-in collapses before the shuffle;
 *   2. h from the histogram: values are first capped at K, a GLOBAL
 *      upper bound on any core number (a k-core needs k(k+1)/2 edges,
 *      so K = floor((sqrt(8E+1)-1)/2)); the per-vertex histogram then
 *      has at most K+1 rows, so a sorted-array fold per vertex is
 *      O(K) bounded — at E = 10^12 that is ~1.4M entries worst case
 *      for a mega-hub row, once, shrinking as c values collapse.
 *      Starting from c = min(degree, K) keeps the iterate squeezed
 *      between the true core numbers and the degree-start sequence,
 *      so convergence (to the same fixpoint) is preserved.
 *
 * Returns (id, core_number); isolated / self-loop-only vertices get 0.
 */
object CoreNumber {

  /** Degree used by the peel, reference `degree_type`
   * (`/root/reference/cpp/include/cugraph/algorithms.hpp:1581-1610`):
   * OUT counts a vertex's out-edges (on a symmetric edge table this
   * is the undirected degree — what the reference's triangle-count
   * 2-core uses, `triangle_count_impl.cuh:240-241`), IN its in-edges,
   * INOUT both (on a symmetric table that doubles the degree, exactly
   * as it does in the reference, which stores undirected graphs as
   * both arcs). The h-index iteration generalizes: the value stream a
   * vertex reduces over is its OUT-neighbors (for OUT), IN-neighbors
   * (IN), or both (INOUT) — same fixpoint proof, per-direction. */
  sealed trait DegreeType
  case object In extends DegreeType
  case object Out extends DegreeType
  case object InOut extends DegreeType

  /** Supersteps taken by the most recent [[run]] on this driver —
   * instrumentation for benchmarks and for sizing the fixed-iteration
   * SQL oracle (which must exceed the engine's fixpoint). */
  @volatile var lastIterations: Int = 0

  def run(
      g0: LinkGraph,
      maxIter: Int = 1000,
      degreeType: DegreeType = Out): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, maxIter, degreeType))

  private def runImpl(
      g: LinkGraph, maxIter: Int, degreeType: DegreeType): DataFrame = {
    val p = g.numPartitions

    val simple = g.edges.select(SRC, DST).filter(col(SRC) =!= col(DST))
    // Delivery frame: (src = value OWNER, dst = RECEIVER). A receiver's
    // histogram is the values of the neighbors its degree type counts:
    // OUT-core depends on out-neighbor values (v→u edge delivers u's
    // value to v), IN-core on in-neighbor values, INOUT on both. The
    // frame is src-hash partitioned so the per-round state join stays
    // co-partitioned; for Out/InOut that costs one extra shuffle +
    // cache up front.
    val delivery = degreeType match {
      case In => simple
      case Out => simple.select(col(DST).as(SRC), col(SRC).as(DST))
      case InOut => simple.union(
        simple.select(col(DST).as(SRC), col(SRC).as(DST)))
    }
    val edges =
      if (degreeType == In) delivery
      else delivery.repartition(p, col(SRC))
        .persist(StorageLevel.MEMORY_AND_DISK)

    // Global cap on any core number, from delivery-edge counting: an
    // In/Out k-core has >= k+1 vertices each with k typed edges, so
    // k(k+1) <= E delivery rows; an InOut k-core only guarantees
    // |S| >= k/2+1 (in+out <= 2(|S|-1)), hence the weaker k <= sqrt(2E).
    val eRows = edges.count()
    val cap = (degreeType match {
      case InOut => math.sqrt(2.0 * eRows).toLong + 1L
      case _ => ((math.sqrt(4.0 * eRows + 1.0) - 1.0) / 2.0).toLong
    }).max(1L)

    // init c = min(degree, cap); universe includes self-loop-only
    // vertices which start (and stay) at 0. The typed degree of a
    // receiver = its delivery-edge count (receiver side = dst).
    val universe = g.edges.select(col(SRC).as(ID))
      .union(g.edges.select(col(DST).as(ID))).distinct()
    val degs = edges.groupBy(col(DST).as(ID)).agg(count(lit(1)).as("c"))
    var state = Lineage.materialize(
      universe
        .join(degs, Seq(ID), "left")
        .select(col(ID), least(coalesce(col("c"), lit(0L)), lit(cap)).as("c"),
          lit(true).as("chg"))
        .repartition(p, col(ID)),
      eager = false)

    val nVerts = universe.count()

    // When the delivery table is small, the full-histogram exchange
    // costs less than the frontier machinery's extra per-round job
    // (dirty-set distinct + broadcast build: ~5 extra stages per tail
    // round on a loop that is latency-bound, not byte-bound). The 1M
    // crossover is measured at sf0.1: OUT/IN (E = 580k) run ~30%
    // faster without the frontier (158 → 108 stages), while INOUT
    // (2E = 1.16M) still gains from it. Past the bound the
    // tail-frontier plan is what makes the tail O(frontier) instead
    // of O(E), and runs unchanged.
    val smallGraph = eRows < 1000000L

    var iter = 0
    var changed = nVerts // first round: everything is dirty
    while (changed > 0 && iter < maxIter) {
      iter += 1
      // Neighbor-value stream (dst, c): the edges⋈state join is
      // co-partitioned (edges by src, state by id) — zero exchange.
      val joined = edges
        .join(state.df.hint("shuffle_hash"), edges(SRC) === state.df(ID))
        .select(col(DST), col("c"), col("chg"))

      // Convergence-tail frontier: h(v) can only change if some
      // neighbor's c changed last round. Once the changed set is small
      // (< 10% of V — measured best at sf0.1 vs 2%, 25%), restrict the
      // histogram to the dirty dsts — tail rounds then cost
      // O(frontier), not O(E).
      val frontierMode = !smallGraph && iter > 1 && changed < nVerts / 10
      var dirtyCache: Option[DataFrame] = None
      val stream =
        if (frontierMode) {
          val dirtyPlan = edges
            .join(state.df.filter(col("chg")).select(col(ID))
                .hint("shuffle_hash"),
              edges(SRC) === col(ID))
            .select(col(DST)).distinct()
          // The changed-vertex gate does NOT bound the dirty set — one
          // changed mega-hub dirties every neighbor, approaching |V|.
          // When |V| itself is broadcastable the bound is free (dirty
          // ⊆ V) and the dirty set goes straight into a broadcast
          // semi-join: no persist, no sizing count — one driver round
          // trip per tail round instead of two. Only past 1M vertices
          // is the materialize + count + decide machinery needed.
          if (nVerts <= 1000000) {
            joined.join(broadcast(dirtyPlan), Seq(DST), "left_semi")
          } else {
            val dirty = dirtyPlan.persist(StorageLevel.MEMORY_AND_DISK)
            dirtyCache = Some(dirty)
            val dirtyN = dirty.count()
            if (dirtyN <= 1000000)
              joined.join(broadcast(dirty), Seq(DST), "left_semi")
            else
              joined.join(dirty.hint("shuffle_hash"), Seq(DST), "left_semi")
          }
        } else joined

      // ONE exchange per round: hash by dst; both the (dst, c)
      // histogram and the per-dst fold then aggregate exchange-free
      // (HashPartitioning(dst) satisfies clustering for both), and the
      // state-update join is dst≡id co-partitioned. (Measured: letting
      // groupBy(dst, v) partial-aggregate map-side instead costs TWO
      // exchanges and is ~25% slower at sf0.1 — the early rounds'
      // degree-valued histograms barely combine.)
      val byDst = stream.select(col(DST), col("c").as("v"))
        .repartition(p, col(DST))
      val hist = byDst
        .groupBy(col(DST), col("v"))
        .agg(count(lit(1)).as("cnt"))
      // h = max over descending values v of min(v, suffix count),
      // folded over the ≤ cap+1 histogram rows.
      val h = hist
        .groupBy(DST)
        .agg(sort_array(collect_list(struct(col("v"), col("cnt"))),
          asc = false).as("hist"))
        .select(col(DST),
          aggregate(
            col("hist"),
            struct(lit(0L).as("cum"), lit(0L).as("h")),
            (acc, x) => struct(
              (acc("cum") + x("cnt")).as("cum"),
              greatest(acc("h"),
                least(x("v"), acc("cum") + x("cnt"))).as("h")),
            acc => acc("h")).as("h"))

      val next = Lineage.materialize(
        state.df.join(h.hint("shuffle_hash"),
            state.df(ID) === h(DST), "left")
          .select(state.df(ID),
            least(state.df("c"), coalesce(col("h"), state.df("c"))).as("c"),
            (coalesce(col("h"), state.df("c")) < state.df("c")).as("chg")),
        eager = false)
      changed = next.df.filter(col("chg")).count()
      dirtyCache.foreach(_.unpersist())
      state.release()
      state = next
    }

    lastIterations = iter
    val out = Lineage.materialize(
      state.df.select(col(ID), col("c").as("core_number")))
    state.release()
    if (degreeType != In) edges.unpersist()
    out.df
  }
}
