package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph}
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
      // over that LEVEL's (coarsened) vertex space, level 0 first —
      // flattening them top-down reproduces `labels`.
      dendrogram: Seq[DataFrame] = Nil)

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withoutAqe(g0.spark)(runImpl(g0, cfg))

  /** Flatten a per-level dendrogram (level 0 first, each level's ids =
   * the previous level's community ids) to original-id → final
   * community — the reference's standalone `flatten_dendrogram`
   * (`/root/reference/cpp/include/cugraph/algorithms.hpp:610-633`).
   * Same fold [[run]] maintains incrementally; exposed for callers
   * that post-process a retained dendrogram (e.g. cut it at an
   * intermediate level by passing a prefix of the frames). */
  def flattenDendrogram(levels: Seq[DataFrame]): DataFrame = {
    require(levels.nonEmpty, "empty dendrogram")
    levels.tail.foldLeft(levels.head) { (flat, lvl) =>
      flat.join(
          lvl.select(col(ID).as("__c"), col("community").as("__nc"))
            .hint("shuffle_hash"),
          flat("community") === col("__c"))
        .select(flat(ID), col("__nc").as("community"))
    }
  }

  private def runImpl(g0: LinkGraph, cfg: Config): Result = {
    val callerCached = g0.edges.storageLevel != StorageLevel.NONE
    if (g0.edges.isEmpty) return Result(noLabels(g0.spark), -1.0, 0)
    var g = if (callerCached) g0 else g0.cached()
    // Whether the first-level cache behind `g` is ours to drop.
    var gOwned = !callerCached
    // Coarsened levels are held as Lineage handles (flat LogicalRDD
    // plans): Dataset.unpersist CASCADES to dependent cached plans, so
    // a coarse level cached as a derived plan would lose its cache the
    // moment the parent level is unpersisted and silently recompute
    // from released state.
    var gHandle: Lineage.Handle = null
    val p = g.numPartitions

    // Flattened mapping original-id -> current community.
    var flat: Lineage.Handle = null
    var bestModularity = -1.0
    var levels = 0
    var done = false

    val dendro = scala.collection.mutable.ArrayBuffer[DataFrame]()
    while (!done && levels < cfg.maxLevels) {
      val (lvlLabels, lvlQ) = oneLevel(g, cfg, p)
      if (lvlQ <= bestModularity) {
        lvlLabels.release()
        done = true
      } else {
        bestModularity = lvlQ
        levels += 1
        val newFlat =
          if (flat == null) {
            Lineage.materialize(
              lvlLabels.df.select(col(ID), col("lbl").as("community")))
          } else {
            Lineage.materialize(
              flat.df.join(
                  lvlLabels.df.select(col(ID).as("__c"), col("lbl"))
                    .hint("shuffle_hash"),
                  flat.df("community") === col("__c"))
                .select(flat.df(ID), col("lbl").as("community")))
          }
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
          if (gOwned) { g.unpersist(); gOwned = false }
          if (gHandle != null) gHandle.release()
          gHandle = cEdges
          g = LinkGraph(cEdges.df, directed = false, p)
        }
        if (cfg.keepDendrogram)
          dendro += lvlLabels.df.select(col(ID), col("lbl").as("community"))
        else lvlLabels.release()
      }
    }

    if (gOwned) g.unpersist()
    if (gHandle != null) gHandle.release()

    val labels = if (flat == null) noLabels(g0.spark) else flat.df
    Result(labels, bestModularity, levels, dendro.toSeq)
  }

  /** 0 rows with the documented label columns (id, community). */
  private[algos] def noLabels(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF(ID, "community")
  }

  /** One dendrogram level; returns (labels handle (id, lbl), level Q).
   * private[algos]: Leiden drives the same level machinery and adds
   * its refinement phase between the label loop and the contraction. */
  private[algos] def oneLevel(
      g: LinkGraph, cfg: Config, p: Int): (Lineage.Handle, Double) = {
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
    val bcastV = vCount * 32L < (64L << 20)

    var labels = Lineage.materialize(
      vw.df.select(col(ID), col(ID).as("lbl")), eager = false)
    val fixed = cfg.fixedInnerIter > 0
    // Adaptive mode keeps a separate copy of the best-Q labels; fixed
    // mode takes every iteration unconditionally, so `best` just
    // tracks the newest handle (the per-iteration eager copy was a
    // V-sized cache + job of pure overhead).
    var best = if (fixed) labels else Lineage.materialize(labels.df)
    // Fixed-iteration mode takes every iteration's labels uncondition-
    // ally, so the per-iteration Q evaluation (two extra jobs each) is
    // pure overhead — evaluate Q once, after the loop.
    var curQ =
      if (fixed) -1.0
      else modularity(edges, labels.df, vw.df, totalW, res)
    var newQ = curQ
    var iter = 0
    val maxIter = if (fixed) cfg.fixedInnerIter else cfg.maxInnerIter

    var continue = true
    while (continue && iter < maxIter) {
      iter += 1
      val upDown = iter % 2 == 1 // reference alternates starting true

      // Cluster weights a(c) from the current labels.
      val cw = labels.df.join(vw.df.hint("shuffle_hash"), Seq(ID))
        .groupBy(col("lbl")).agg(sum("kk").as("a"))
      val cwB = if (bcastV) broadcast(cw) else cw

      // Edges with both endpoint clusters; the dst-label join is the
      // per-iteration E-sized shuffle (or a broadcast when V fits).
      // Materialized once — both the own-cluster and candidate
      // aggregations scan it, and recomputing the double join per
      // aggregation doubled the E-sized work.
      val lsrcJ = labels.df.select(col(ID), col("lbl").as("lsrc"))
      val ldstJ = labels.df.select(col(ID), col("lbl").as("ldst"))
      val ebH = Lineage.materialize(
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

      val vinfo = labels.df.join(vw.df.hint("shuffle_hash"), Seq(ID))
        .join(cwB.select(col("lbl"), col("a").as("a_old")), Seq("lbl"))

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

      val nextLabels = Lineage.materialize(
        labels.df.join(bestMove.hint("shuffle_hash"),
            labels.df(ID) === bestMove(SRC), "left")
          .select(labels.df(ID),
            when(col("delta") > 0.0 &&
                (col("c") > labels.df("lbl")) === lit(upDown), col("c"))
              .otherwise(labels.df("lbl")).as("lbl")),
        eager = fixed)

      if (fixed) {
        // Oracle-parity mode: always take the labels, run all
        // fixedInnerIter iterations; Q evaluated once after the loop.
        // nextLabels was materialized eagerly above (so ebH can drop),
        // and `best` just follows the newest handle.
        labels.release()
        labels = nextLabels
        best = nextLabels
      } else {
        newQ = modularity(edges, nextLabels.df, vw.df, totalW, res)
        if (newQ > curQ) {
          best.release()
          best = Lineage.materialize(nextLabels.df)
        }
        continue = newQ > curQ + cfg.threshold
        if (continue) curQ = newQ
        labels.release()
        labels = nextLabels
      }
      // nextLabels is fully computed in both branches above (eager
      // best materialize / modularity action), so the edge-label cache
      // can drop now.
      ebH.release()
    }

    if (fixed) curQ = modularity(edges, best.df, vw.df, totalW, res)
    if (!fixed) labels.release() // fixed: labels IS best — keep it live
    vw.release()
    (best, curQ)
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
