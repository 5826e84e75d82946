package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph, SparkTuning, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Strongly connected components of a DIRECTED graph (reference
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:342`,
 * legacy impl `/root/reference/cpp/src/components/legacy/connectivity.cu`).
 * Canonical labels: scc id = MINIMUM vertex id in the component (the
 * reference's labels are meaningful only up to bijection; its tests
 * canonicalize the same way WCC's do).
 *
 * Algorithm: iterative "coloring" SCC — the standard distributed
 * formulation (FW-BW-coloring family; the same decomposition the
 * reference's GPU connectivity kernel approximates):
 *
 *  1. FORWARD min-label propagation to fixpoint over the remaining
 *     subgraph: f(v) = min vertex id that can reach v;
 *  2. every root r (f(r)=r) owns an SCC = the vertices that reach r
 *     moving BACKWARD only through vertices with the same forward
 *     label — computed by a reverse-edge frontier expansion restricted
 *     to f(src)=f(dst);
 *  3. settle those vertices with scc=f(v), drop them from the graph,
 *     repeat until nothing remains.
 *
 * Both fixpoints run on [[graft.core.Superstep]]: the forward one is
 * WCC's own superstep ([[ConnectedComponents.minLabel]]: co-partitioned
 * state⋈edges join + message reduce with map-side combine), the
 * backward one a BFS-style frontier expansion over a (id, level)
 * state. The outer pass loop shrinks the live vertex/edge set
 * monotonically, so late passes touch a small residue. Supersteps
 * scale with the diameter of the condensation, not |V| — short for
 * web-style graphs.
 */
object Scc {

  final case class Result(
      components: DataFrame, // columns: id, scc
      outerPasses: Int,
      converged: Boolean, // false only when maxOuter truncated the peel
      unlabeled: Long) // vertices left without a label when !converged

  /** Runs SCC; with `strict = true` (default) an exhausted `maxOuter`
   * raises instead of returning a components table silently missing
   * the unsettled vertices (the coloring settles one SCC per forward
   * region per pass, so a deep condensation — e.g. a long directed
   * path — can legitimately hit the bound; callers that want the
   * partial labeling pass strict = false and check `converged`).
   * A forward or backward fixpoint that `maxIter` cuts short always
   * raises, whatever `strict` says: the pass would settle vertices
   * under wrong labels, not leave them unlabelled. */
  def run(
      g0: LinkGraph,
      maxOuter: Int = 100,
      maxIter: Int = 200,
      strict: Boolean = true): Result =
    SparkTuning.withoutAqe(g0.spark)(runImpl(g0, maxOuter, maxIter, strict))

  /** `bcastBytes`: the V-sized frames are broadcast while the live
   * vertex count times 32 bytes comes to less than this; tests pass 0
   * to run the shuffled plan. */
  private[graft] def runImpl(
      g0: LinkGraph, maxOuter: Int, maxIter: Int, strict: Boolean,
      bcastBytes: Long = SparkTuning.BroadcastBytes): Result = {
    val spark = g0.spark
    val p = g0.numPartitions
    import spark.implicits._

    var edges = Lineage.materialize(
      g0.edges.filter(col(SRC) =!= col(DST)).select(SRC, DST).distinct()
        .repartition(p, col(SRC)),
      eager = false)
    var verts = Lineage.materialize(
      edges.df.select(col(SRC).as(ID))
        .union(edges.df.select(col(DST).as(ID)))
        .union(g0.edges.select(col(SRC).as(ID))) // self-loop-only vertices
        .union(g0.edges.select(col(DST).as(ID)))
        .distinct()
        .repartition(p, col(ID)),
      eager = false)

    val settled = scala.collection.mutable.ArrayBuffer[Lineage.Handle]()
    def releaseAll(): Unit = {
      verts.release(); edges.release(); settled.foreach(_.release())
    }
    // A fixpoint's last state; one cut short releases everything, `also`
    // included, and raises.
    def fixpoint(r: Superstep.Result, phase: String,
        also: Lineage.Handle*): Lineage.Handle = {
      if (!r.converged) { also.foreach(_.release()); releaseAll() }
      r.fixpoint(s"SCC's $phase fixpoint", maxIter)
    }
    var pass = 0
    var remaining = verts.df.count()

    while (remaining > 0 && pass < maxOuter) {
      pass += 1

      // 1. Forward min-label to fixpoint: f(v) = min id reaching v.
      val f = fixpoint(ConnectedComponents.minLabel(
          LinkGraph(edges.df, directed = true, p), "scc_forward", maxIter)(
          verts.df, idsPartitioned = true),
        "forward")

      // 2. Backward frontier from roots, restricted to equal f.
      //    fs/fd once per pass: edge endpoints annotated with labels.
      // V-sized frames (label table, frontier, marked set) broadcast
      // when the live vertex set fits (guide §3.1): the label
      // annotation then streams the cached edge table in place (the
      // dst-side join otherwise re-exchanged it E-sized), the
      // per-round frontier semi-join and marked anti-join need no
      // exchange, and the marked union drops its per-round V-sized
      // repartition (nothing downstream needs its layout — every
      // consumer broadcasts it). Past the bound the original
      // co-partitioned shuffle plan runs unchanged.
      val bcast = remaining * 32L < bcastBytes
      val fTab = f.df.select(col(ID), col(ConnectedComponents.COMP).as("f"))
      val fsJ = fTab.withColumnRenamed(ID, SRC).withColumnRenamed("f", "fs")
      val fdJ = fTab.withColumnRenamed(ID, DST).withColumnRenamed("f", "fd")
      val eLabPlan = edges.df
        .join(if (bcast) broadcast(fsJ) else fsJ, Seq(SRC))
        .join(if (bcast) broadcast(fdJ) else fdJ, Seq(DST))
        .filter(col("fs") === col("fd"))
        .select(SRC, DST)
      val eLab = Lineage.materialize(
        if (bcast) eLabPlan else eLabPlan.repartition(p, col(DST)),
        eager = false)

      // The marked set, each vertex with the superstep that reached it
      // (roots at 0); superstep i expands the rows reached at i - 1.
      val marked = fixpoint(Superstep.run(g0, "scc_backward", maxIter)(
        fTab.filter(col(ID) === col("f")).select(col(ID), lit(0).as("level")),
        step = (state, i) => {
          // predecessors of the frontier inside the same forward region
          val frontJ = state.filter(col("level") === i - 1)
            .select(col(ID).as(DST))
          val fresh = eLab.df
            .join(if (bcast) broadcast(frontJ) else frontJ.hint("shuffle_hash"),
              Seq(DST), "left_semi")
            .select(col(SRC).as(ID)).distinct()
            .join(if (bcast) broadcast(state) else state, Seq(ID), "left_anti")
          val nextPlan = state.union(fresh.select(col(ID), lit(i).as("level")))
          if (bcast) nextPlan else nextPlan.repartition(p, col(ID))
        },
        check = (next, i) => {
          val grew = next.filter(col("level") === i).count()
          (grew == 0L, Map("grew" -> grew.toDouble))
        }),
        "backward", f, eLab)
      val markedIds = marked.df.select(col(ID))

      // 3. Settle marked vertices with scc = f.
      settled += Lineage.materialize(
        if (bcast)
          fTab.join(broadcast(markedIds), Seq(ID))
            .select(col(ID), col("f").as("scc"))
        else markedIds.join(fTab, Seq(ID)).select(col(ID), col("f").as("scc")))

      // Shrink the live graph (marked broadcasts under the same bound).
      val mSrc = markedIds.withColumnRenamed(ID, SRC)
      val mDst = markedIds.withColumnRenamed(ID, DST)
      val newVerts = Lineage.materialize(
        verts.df.join(if (bcast) broadcast(markedIds) else markedIds,
            Seq(ID), "left_anti")
          .repartition(p, col(ID)),
        eager = false)
      // EAGER: both must be fully cached before their parents (edges,
      // marked, f) are released below — a lazy handle would recompute
      // through freed checkpoint blocks next pass.
      val newEdges = Lineage.materialize(
        edges.df
          .join(if (bcast) broadcast(mSrc) else mSrc, Seq(SRC), "left_anti")
          .join(if (bcast) broadcast(mDst) else mDst, Seq(DST), "left_anti")
          .repartition(p, col(SRC)))
      remaining = newVerts.df.count()
      verts.release(); edges.release(); f.release(); eLab.release()
      marked.release()
      verts = newVerts
      edges = newEdges
    }

    val converged = remaining == 0
    if (!converged && strict) {
      releaseAll()
      throw new IllegalStateException(
        s"SCC did not settle $remaining vertices within maxOuter=$maxOuter " +
          "passes (deep condensation); raise maxOuter or pass strict = false")
    }
    val all = settled.map(_.df).reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[(Long, Long)].toDF(ID, "scc"))
    val out = Lineage.materialize(all)
    releaseAll()
    Result(out.df, pass, converged, remaining)
  }
}
