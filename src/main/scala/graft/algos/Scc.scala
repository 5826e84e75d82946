package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph, SparkTuning}
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
 * Each inner superstep is the WCC superstep shape: co-partitioned
 * state⋈edges join + message reduce with map-side combine; the outer
 * loop shrinks the live vertex/edge set monotonically, so late passes
 * touch a small residue. Supersteps scale with the diameter of the
 * condensation, not |V| — short for web-style graphs.
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
   * partial labeling pass strict = false and check `converged`). */
  def run(
      g0: LinkGraph,
      maxOuter: Int = 100,
      maxIter: Int = 200,
      strict: Boolean = true): Result =
    graft.core.SparkTuning.withoutAqe(g0.spark)(
      runImpl(g0, maxOuter, maxIter, strict))

  private def runImpl(
      g0: LinkGraph, maxOuter: Int, maxIter: Int, strict: Boolean): Result = {
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

    val settled = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val settledHandles = scala.collection.mutable.ArrayBuffer[Lineage.Handle]()
    var pass = 0
    var remaining = verts.df.count()

    while (remaining > 0 && pass < maxOuter) {
      pass += 1

      // 1. Forward min-label to fixpoint: f(v) = min id reaching v.
      var f = Lineage.materialize(
        verts.df.select(col(ID), col(ID).as("f"), lit(true).as("chg")),
        eager = false)
      var it = 0
      var active = 1L
      while (active > 0 && it < maxIter) {
        it += 1
        val msgs = edges.df
          .join(f.df.filter(col("chg")).select(col(ID), col("f"))
              .hint("shuffle_hash"),
            edges.df(SRC) === col(ID))
          .select(col(DST), col("f").as("m"))
          .groupBy(DST).agg(min("m").as("m"))
        val next = Lineage.materialize(
          f.df.join(msgs.hint("shuffle_hash"), f.df(ID) === msgs(DST), "left")
            .select(f.df(ID),
              least(f.df("f"), coalesce(col("m"), f.df("f"))).as("f"),
              (coalesce(col("m"), lit(Long.MaxValue)) < f.df("f")).as("chg")),
          eager = false)
        active = next.df.filter(col("chg")).count()
        f.release()
        f = next
      }

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
      val bcast = remaining * 32L < SparkTuning.BroadcastBytes
      val fTab = f.df.select(col(ID), col("f"))
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

      var marked = Lineage.materialize(
        fTab.filter(col(ID) === col("f")).select(col(ID)),
        eager = false)
      var frontier = marked.df
      val passScratch = scala.collection.mutable.ArrayBuffer[Lineage.Handle]()
      var grew = 1L
      it = 0
      while (grew > 0 && it < maxIter) {
        it += 1
        // predecessors of the frontier inside the same forward region
        val frontJ = frontier.withColumnRenamed(ID, DST)
        val preds = eLab.df
          .join(if (bcast) broadcast(frontJ) else frontJ.hint("shuffle_hash"),
            Seq(DST), "left_semi")
          .select(col(SRC).as(ID)).distinct()
        val fresh = preds.join(
          if (bcast) broadcast(marked.df) else marked.df, Seq(ID), "left_anti")
        val freshH = Lineage.materialize(fresh, eager = false)
        passScratch += freshH
        grew = freshH.df.count()
        if (grew > 0) {
          val nextMarkedPlan = marked.df.union(freshH.df)
          val nextMarked = Lineage.materialize(
            if (bcast) nextMarkedPlan
            else nextMarkedPlan.repartition(p, col(ID)),
            eager = false)
          passScratch += marked
          marked = nextMarked
          frontier = freshH.df
        }
      }

      // 3. Settle marked vertices with scc = f.
      val settledPass = Lineage.materialize(
        if (bcast)
          fTab.join(broadcast(marked.df), Seq(ID))
            .select(col(ID), col("f").as("scc"))
        else marked.df.join(fTab, Seq(ID)).select(col(ID), col("f").as("scc")))
      settledHandles += settledPass
      settled += settledPass.df

      // Shrink the live graph (marked broadcasts under the same bound).
      val mSrc = marked.df.withColumnRenamed(ID, SRC)
      val mDst = marked.df.withColumnRenamed(ID, DST)
      val newVerts = Lineage.materialize(
        verts.df.join(if (bcast) broadcast(marked.df) else marked.df,
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
      marked.release(); passScratch.foreach(_.release())
      verts = newVerts
      edges = newEdges
    }

    val converged = remaining == 0
    if (!converged && strict) {
      val n = remaining
      verts.release(); edges.release(); settledHandles.foreach(_.release())
      throw new IllegalStateException(
        s"SCC did not settle $n vertices within maxOuter=$maxOuter passes " +
          "(deep condensation); raise maxOuter or pass strict = false")
    }
    val all = settled.reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[(Long, Long)].toDF(ID, "scc"))
    val out = Lineage.materialize(all)
    settledHandles.foreach(_.release())
    verts.release(); edges.release()
    Result(out.df, pass, converged, remaining)
  }

  def componentCount(components: DataFrame): Long =
    components.agg(countDistinct("scc")).head().getLong(0)
}
