package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import org.apache.spark.sql.graft.SqlInternals

import graft.core.{Lineage, LinkGraph, SparkTuning, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Louvain community detection with the reference's exact semantics
 * (`/root/reference/cpp/src/community/louvain_impl.cuh:46-236`, inner
 * update `cpp/src/community/detail/common_methods.cuh:201-356`,
 * contract `common_methods.cuh:170-198`):
 *
 * Per dendrogram level (on the current, possibly coarsened, graph):
 *   - init: every vertex its own cluster; k(v) = out-weight sum;
 *     a(c) = Σ k(v) over members; T = total edge weight (both
 *     directions of the symmetrized graph).
 *   - inner loop (while Q gains > threshold=1e-4, `louvain_impl.cuh:158`):
 *     for each vertex v and each NEIGHBOR cluster c (aggregated over
 *     v's out-edges by dst cluster, the reference's
 *     per_v_transform_reduce_dst_key_aggregated_outgoing_e prim):
 *       ns      = Σ w(v→u), u ∈ c  (minus v's self-loop weight when
 *                 c is v's own cluster, `common_methods.cuh:66`)
 *       old     = Σ w(v→u), u ∈ cluster(v), u ≠ v
 *       Δ(v,c)  = 2·((ns − old)/T − res·(a(c)·k − a(old)·k + k²)/T²)
 *     best c by max Δ, ties toward the SMALLER cluster id
 *     (`reduce_op_t`, `common_methods.cuh:78-94`); v moves iff Δ > 0
 *     AND the move direction matches the alternating up/down gate
 *     ((c > cluster(v)) == up_down, `cluster_update_op_t:98-108`) —
 *     the reference's guard against synchronous swap cycles.
 *   - keep the labels of the last Q-improving iteration; stop levels
 *     when a level's Q fails to beat the previous level's.
 *   - contract the graph by the level labels ([[Coarsen]], summed
 *     weights, self-loops kept) and recurse.
 *
 * Physical shape per inner iteration: one co-partitioned src-label
 * join + one dst-keyed label join (the only E-sized shuffle), then
 * map-side-combinable groupBy aggregations for candidate sums and the
 * struct-encoded argmax — no windows, no per-vertex arrays; hub fan-in
 * collapses in partial aggregation. Cluster weights are a V-sized
 * groupBy; modularity is one scalar agg.
 *
 * Determinism: with integer-valued weights every aggregate is exact,
 * so Δ comparisons and tie-breaks are reproducible bit-for-bit (the
 * SQL oracle runs the identical arithmetic); with arbitrary float
 * weights the usual float-reduction caveat applies.
 */
object Louvain {

  final case class Config(
      maxLevels: Int = 10,
      resolution: Double = 1.0,
      // Minimum Q gain to continue the inner loop (reference pins 1e-4,
      // louvain_impl.cuh:158).
      threshold: Double = 1e-4,
      maxInnerIter: Int = 50,
      // > 0: run EXACTLY this many inner iterations at each level with
      // no Q-based control (fixed-iteration oracle-parity mode; the
      // driver query uses it so the unrolled SQL oracle can replicate
      // the computation step for step).
      fixedInnerIter: Int = 0,
      // Retain each level's (id, community) labels in Result.dendrogram
      // — the reference's dendrogram contract (algorithms.hpp:581-684:
      // louvain returns the per-level assignment, not just the
      // flattening). Off by default: each retained level pins a
      // V_level-row cache for the caller's lifetime.
      keepDendrogram: Boolean = false)

  final case class Result(
      labels: DataFrame, // columns: id, community (flattened dendrogram)
      modularity: Double,
      levels: Int,
      // One frame per level when cfg.keepDendrogram: (id, community)
      // over that LEVEL's (coarsened) vertex space, level 0 first (for
      // Leiden, the refined assignment) — flattening them top-down
      // reproduces `labels`.
      dendrogram: Seq[DataFrame] = Nil)

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    SparkTuning.withGraph(g0)(runImpl(_, cfg, refine = false))

  /** Flatten a per-level dendrogram (level 0 first, each level's ids =
   * the previous level's community ids) to original-id → final
   * community — the reference's standalone `flatten_dendrogram`
   * (`/root/reference/cpp/include/cugraph/algorithms.hpp:610-633`).
   * Same fold [[run]] maintains incrementally; exposed for callers
   * that post-process a retained dendrogram (e.g. cut it at an
   * intermediate level by passing a prefix of the frames). */
  def flattenDendrogram(levels: Seq[DataFrame]): DataFrame = {
    require(levels.nonEmpty, "empty dendrogram")
    levels.tail.foldLeft(levels.head)(flattenStep)
  }

  /** `flat` (id, community) with each community replaced by its own
   * community in the next level's `lvl` (id, community). */
  private def flattenStep(flat: DataFrame, lvl: DataFrame): DataFrame =
    flat.join(
        lvl.select(col(ID).as("__c"), col("community").as("__nc"))
          .hint("shuffle_hash"),
        flat("community") === col("__c"))
      .select(flat(ID), col("__nc").as("community"))

  /**
   * The one level loop of Louvain and, with `refine`, of [[Leiden]]:
   * each level's labels are replaced by their refinement
   * ([[Leiden.refine]]) before the level's Q is taken and the graph
   * contracted. `g0` is the caller's graph, already cached (the entry
   * points run this inside [[SparkTuning.withGraph]]).
   * `bcastBytes`: the V-sized frames of a level are broadcast while its
   * vertex count times 32 bytes comes to less than this; tests pass 0
   * to run the shuffled plan.
   */
  private[graft] def runImpl(
      g0: LinkGraph,
      cfg: Config,
      refine: Boolean,
      bcastBytes: Long = SparkTuning.BroadcastBytes): Result = {
    if (g0.edges.isEmpty) return Result(noLabels(g0.spark), -1.0, 0)
    val p = g0.numPartitions
    var g = g0
    // Coarsened levels are held as Lineage handles (flat LogicalRDD
    // plans): Dataset.unpersist CASCADES to dependent cached plans, so
    // a coarse level cached as a derived plan would lose its cache the
    // moment the parent level is unpersisted and silently recompute
    // from released state.
    var gHandle: Lineage.Handle = null

    // Flattened mapping original-id -> current community.
    var flat: Lineage.Handle = null
    var bestModularity = -1.0
    var levels = 0
    var done = false

    val dendro = scala.collection.mutable.ArrayBuffer[DataFrame]()
    while (!done && levels < cfg.maxLevels) {
      val (lvlLabels, lvlQ) = oneLevel(g, cfg, p, refine, bcastBytes)
      if (lvlQ <= bestModularity) {
        lvlLabels.release()
        done = true
      } else {
        bestModularity = lvlQ
        levels += 1
        val lvl = lvlLabels.df.select(col(ID), col("lbl").as("community"))
        val newFlat =
          Lineage.materialize(if (flat == null) lvl else flattenStep(flat.df, lvl))
        if (flat != null) flat.release()
        flat = newFlat

        if (levels < cfg.maxLevels) {
          // Contract (coarsen_graph: weights summed, self-loops kept);
          // materialize the coarse edges eagerly BEFORE dropping any
          // parent state they derive from.
          val cEdges = Lineage.materialize(
            LinkGraph.partitioned(
              Coarsen.run(g,
                lvlLabels.df.select(col(ID), col("lbl").as("label"))).edges,
              p))
          if (gHandle != null) gHandle.release()
          gHandle = cEdges
          g = LinkGraph(cEdges.df, directed = false, p)
        }
        if (cfg.keepDendrogram) dendro += lvl
        else lvlLabels.release()
      }
    }
    if (gHandle != null) gHandle.release()

    val labels = if (flat == null) noLabels(g0.spark) else flat.df
    Result(labels, bestModularity, levels, dendro.toSeq)
  }

  /** 0 rows with the documented label columns (id, community). */
  private def noLabels(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF(ID, "community")
  }

  /** One dendrogram level: the local-moving loop on [[Superstep]], then
   * with `refine` Leiden's refinement; returns the level's labels
   * handle (id, lbl) and their Q. */
  private def oneLevel(
      g: LinkGraph,
      cfg: Config,
      p: Int,
      refine: Boolean,
      bcastBytes: Long): (Lineage.Handle, Double) = {
    val edges = g.edges
    val totalW = edges.agg(sum(WEIGHT)).head().getDouble(0)
    val res = cfg.resolution

    // k(v) for every vertex, hash-partitioned like the label state.
    val vw = Lineage.materialize(
      g.outWeightSums.select(col(ID), col("out_weight").as("kk"))
        .repartition(p, col(ID)),
      eager = false)

    // V-sized frames (labels, cluster weights) broadcast when they fit
    // (guide §3.1): the dst-label join was the per-iteration E-sized
    // exchange, and the own/candidate aggregations re-shuffled the
    // labeled edge frame twice more because the join left it
    // dst-partitioned. Broadcasting keeps the labeled edges on the
    // cached edge table's src partitioning, so BOTH aggregations, the
    // argmax and the state join run exchange-free — zero E-sized
    // exchanges per inner iteration. Past the bound (V too big to
    // broadcast) the original shuffle plan runs unchanged.
    val vCount = vw.df.count()
    val bcastV = vCount * 32L < bcastBytes

    val init = vw.df.select(col(ID), col(ID).as("lbl"))
    val fixed = cfg.fixedInnerIter > 0
    // Adaptive mode keeps a separate copy of the best-Q labels and
    // evaluates Q every iteration; fixed mode takes every iteration
    // unconditionally, so its best labels are the last state and Q is
    // evaluated once, after the loop.
    var best = if (fixed) null else Lineage.materialize(init)
    var curQ =
      if (fixed) -1.0
      else modularity(edges, best.df, vw.df, totalW, res)
    // The superstep's labeled-edge and cluster-weight caches, released
    // by its check.
    var ebH: Lineage.Handle = null
    var cw: DataFrame = null

    val r = Superstep.run(g, "louvain",
      if (fixed) cfg.fixedInnerIter else cfg.maxInnerIter)(
      init,
      step = (labels, iter) => {
        val upDown = iter % 2 == 1 // reference alternates starting true

        // Cluster weights a(c) from the current labels, cached: the
        // a_old and a_new joins below read one build of them.
        cw = labels.join(vw.df.hint("shuffle_hash"), Seq(ID))
          .groupBy(col("lbl")).agg(sum("kk").as("a"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cwR = SqlInternals.cachedRelation(cw)
        val cwB = if (bcastV) broadcast(cwR) else cwR

        // Edges with both endpoint clusters; the dst-label join is the
        // per-iteration E-sized shuffle (or a broadcast when V fits).
        // Materialized once — both the own-cluster and candidate
        // aggregations scan it, and recomputing the double join per
        // aggregation doubled the E-sized work.
        val lsrcJ = labels.select(col(ID), col("lbl").as("lsrc"))
        val ldstJ = labels.select(col(ID), col("lbl").as("ldst"))
        ebH = Lineage.materialize(
          edges
            .join(if (bcastV) broadcast(lsrcJ) else lsrcJ.hint("shuffle_hash"),
              edges(SRC) === lsrcJ(ID))
            .drop(ID)
            .join(if (bcastV) broadcast(ldstJ) else ldstJ.hint("shuffle_hash"),
              col(DST) === ldstJ(ID))
            .select(col(SRC), col(DST), col(WEIGHT).as("w"),
              col("lsrc"), col("ldst")))
        val eb = ebH.df

        // Σw into own cluster (minus self-loops) and the self-loop weight.
        val own = eb.filter(col("lsrc") === col("ldst"))
          .groupBy(SRC)
          .agg(
            sum(when(col(SRC) =!= col(DST), col("w")).otherwise(0.0))
              .as("osum"),
            sum(when(col(SRC) === col(DST), col("w")).otherwise(0.0))
              .as("sub"))

        // Candidate sums per (v, neighbor cluster).
        val cand = eb.groupBy(col(SRC), col("ldst"))
          .agg(sum("w").as("ns"))

        // Both cluster-weight sides project (key, a) under two new
        // names, so their builds are one plan and the second is reused.
        val vinfo = labels.join(vw.df.hint("shuffle_hash"), Seq(ID))
          .join(cwB.select(col("lbl").as("lbl_old"), col("a").as("a_old")),
            col("lbl") === col("lbl_old"))

        val scored = cand
          .join(vinfo.select(col(ID).as(SRC), col("lbl"), col("kk"),
            col("a_old")).hint("shuffle_hash"), Seq(SRC))
          .join(cwB.select(col("lbl").as("ldst"), col("a").as("a_new")),
            Seq("ldst"))
          .join(own.hint("shuffle_hash"), Seq(SRC), "left")
          .select(col(SRC), col("ldst"), col("lbl"),
            (lit(2.0) * (
              ((col("ns")
                - when(col("ldst") === col("lbl"),
                    coalesce(col("sub"), lit(0.0))).otherwise(0.0)
                - coalesce(col("osum"), lit(0.0))) / totalW)
              - lit(res) * (col("a_new") * col("kk")
                - col("a_old") * col("kk") + col("kk") * col("kk"))
                / (totalW * totalW))).as("delta"))

        val bestMove = scored
          .groupBy(SRC)
          .agg(max(struct(col("delta"), (-col("ldst")).as("negc"))).as("b"))
          .select(col(SRC), col("b.delta").as("delta"),
            (-col("b.negc")).as("c"))

        labels.join(bestMove.hint("shuffle_hash"),
            labels(ID) === bestMove(SRC), "left")
          .select(labels(ID),
            when(col("delta") > 0.0 &&
                (col("c") > labels("lbl")) === lit(upDown), col("c"))
              .otherwise(labels("lbl")).as("lbl"))
      },
      check = (next, _) => {
        val done =
          if (fixed) {
            // Oracle-parity mode: always take the labels, run all
            // fixedInnerIter iterations. One count fills `next`.
            next.rdd.count()
            false
          } else {
            // Q's first action fills `next`.
            val newQ = modularity(edges, next, vw.df, totalW, res)
            if (newQ > curQ) {
              best.release()
              best = Lineage.materialize(next)
            }
            val gained = newQ > curQ + cfg.threshold
            if (gained) curQ = newQ
            !gained
          }
        // `next` is computed, so the edge-label and cluster-weight
        // caches can drop.
        ebH.release()
        cw.unpersist()
        (done, Map.empty)
      })
    if (fixed) best = r.state else r.state.release()

    val lvl =
      if (!refine) best
      else {
        // Leiden: the level's labels are its refined partition (the
        // one contracted), so Q is evaluated on that.
        val refined = Lineage.materialize(Leiden.refine(g, best.df, p))
        best.release()
        refined
      }
    if (fixed || refine) curQ = modularity(edges, lvl.df, vw.df, totalW, res)
    vw.release()
    (lvl, curQ)
  }

  /** Q = Σ_{same-cluster edges} w / T − res·Σ_c a(c)² / T²
   * (reference compute_modularity, common_methods.cuh:121-170). */
  def modularity(
      edges: DataFrame,
      labels: DataFrame,
      vertexWeights: DataFrame, // (id, kk)
      totalW: Double,
      resolution: Double): Double = {
    val internal = edges
      .join(labels.select(col(ID).as(SRC), col("lbl").as("lsrc")), Seq(SRC))
      .join(labels.select(col(ID).as(DST), col("lbl").as("ldst")), Seq(DST))
      .filter(col("lsrc") === col("ldst"))
      .agg(sum(WEIGHT)).head()
    val internalW =
      if (internal.isNullAt(0)) 0.0 else internal.getDouble(0)
    val sumSq = labels.join(vertexWeights, Seq(ID))
      .groupBy(col("lbl")).agg(sum("kk").as("a"))
      .agg(sum(col("a") * col("a"))).head().getDouble(0)
    internalW / totalW - resolution * sumSq / (totalW * totalW)
  }
}
