package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.checkpoint.CheckpointManager
import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Synchronous label propagation (community detection), Raghavan et al.
 * 2007. The reference ships no standalone LPA (verified in SURVEY.md
 * §2.j); its nearest analogs are the legacy min-label WCC kernel
 * (`/root/reference/cpp/src/components/legacy/weak_cc.cuh:60-130`) and
 * Louvain's label-update loop
 * (`/root/reference/cpp/src/community/detail/common_methods.cuh:201`).
 * Semantics pinned here AND in the test oracle identically:
 *
 *   - init label(v) = v;
 *   - each superstep, every vertex simultaneously adopts the most
 *     frequent label among its neighbors, ties broken toward the
 *     SMALLEST label; vertices with no neighbors keep their label;
 *   - stop at fixpoint or maxIter (synchronous LPA can 2-cycle on
 *     bipartite structures — maxIter bounds that).
 *
 * Expects an undirected (symmetrized) graph.
 *
 * Physical shape: per superstep one co-partitioned edges-state join,
 * then a two-level aggregation — groupBy(dst, label).count (map-side
 * combined) followed by groupBy(dst).max(struct(count, -label)) —
 * the deterministic argmax without a window function, so both levels
 * stay partial-aggregatable and skew-tolerant.
 */
object LabelPropagation {

  final case class Config(
      maxIter: Int = 20,
      checkpointEvery: Int = 10,
      checkpoint: Option[CheckpointManager] = None,
      algoName: String = "lpa")

  final case class Result(
      labels: DataFrame, // columns: id, label
      iterations: Int,
      converged: Boolean)

  private val LBL = "label"

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withoutAqe(g0.spark)(runImpl(g0, cfg))

  private def runImpl(g0: LinkGraph, cfg: Config): Result = {
    val callerCached = g0.edges.storageLevel != StorageLevel.NONE
    val g = if (callerCached) g0 else g0.cached()
    val p = g.numPartitions
    val edges = g.edges.filter(col(SRC) =!= col(DST))

    // Undirected input: every vertex occurs as src.
    val init = g.edges.select(col(SRC).as(ID)).distinct()
      .select(col(ID), col(ID).as(LBL))
      .repartition(p, col(ID))

    val fp = cfg.checkpoint.map(_.graphFingerprint(g.edges, "lpa"))
      .getOrElse("")
    val resume = cfg.checkpoint
      .flatMap(cm => cm.latestIteration(cfg.algoName, fp).map(it =>
        (it, cm.restore(cfg.algoName, it).repartition(p, col(ID)))))

    var state = Lineage.materialize(resume.map(_._2).getOrElse(init), eager = false)
    var iter = resume.map(_._1).getOrElse(0)
    var converged = false

    CheckpointManager.committing(cfg.checkpoint) {
      while (!converged && iter < cfg.maxIter) {
        iter += 1
        // Deterministic argmax: max over struct(count, -label) picks the
        // highest count, then (negated) the smallest label.
        // ONE exchange per iteration (the CoreNumber byDst pattern,
        // measured there as ~25% faster than letting the aggs exchange
        // themselves): hash by dst once — HashPartitioning(dst)
        // satisfies the clustering of BOTH the (dst, label) histogram
        // and the per-dst argmax, and the state join is dst ≡ id
        // co-partitioned — where the two stacked groupBys otherwise
        // paid a hash(dst, label) exchange AND a hash(dst) exchange.
        val msgs = edges
          .join(state.df.hint("shuffle_hash"), edges(SRC) === state.df(ID))
          .select(col(DST), col(LBL))
          .repartition(p, col(DST))
          .groupBy(DST, LBL)
          .agg(count(lit(1)).as("cnt"))
          .groupBy(DST)
          .agg(max(struct(col("cnt"), (-col(LBL)).as("neg"))).as("top"))
          .select(col(DST), (-col("top.neg")).as("new_lbl"))

        val next = Lineage.materialize(
          state.df.join(msgs.hint("shuffle_hash"),
              state.df(ID) === msgs(DST), "left")
            .select(
              state.df(ID),
              coalesce(col("new_lbl"), state.df(LBL)).as(LBL),
              (coalesce(col("new_lbl"), state.df(LBL)) =!= state.df(LBL))
                .as("chg")),
          eager = false)

        val changed = next.df.filter(col("chg")).count()
        converged = changed == 0L

        CheckpointManager.release(cfg.checkpoint, state)
        cfg.checkpoint.foreach { cm =>
          if (converged || iter % cfg.checkpointEvery == 0) {
            cm.commit(cfg.algoName, iter, next.df.select(ID, LBL),
              Map("changed" -> changed.toDouble), fp)
          }
        }
        state = next
      }
    }

    if (!callerCached) g.unpersist()
    Result(state.df.select(col(ID), col(LBL)), iter, converged)
  }
}
