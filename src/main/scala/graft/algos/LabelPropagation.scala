package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointManager
import graft.core.{LinkGraph, Superstep}
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
      checkpoint: Option[CheckpointManager] = None)

  final case class Result(
      labels: DataFrame, // columns: id, label
      iterations: Int,
      converged: Boolean)

  private val LBL = "label"

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    val p = g.numPartitions
    val edges = g.edges.filter(col(SRC) =!= col(DST))

    // Undirected input: every vertex occurs as src.
    val init = g.edges.select(col(SRC).as(ID)).distinct()
      .select(col(ID), col(ID).as(LBL))
      .repartition(p, col(ID))

    // A checkpoint stores the init columns (id, label), not chg.
    val r = Superstep.run(g, "lpa", cfg.maxIter, cfg.checkpoint,
      cfg.checkpointEvery)(
      init,
      step = state => {
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
          .join(state.hint("shuffle_hash"), edges(SRC) === state(ID))
          .select(col(DST), col(LBL))
          .repartition(p, col(DST))
          .groupBy(DST, LBL)
          .agg(count(lit(1)).as("cnt"))
          .groupBy(DST)
          .agg(max(struct(col("cnt"), (-col(LBL)).as("neg"))).as("top"))
          .select(col(DST), (-col("top.neg")).as("new_lbl"))

        state.join(msgs.hint("shuffle_hash"), state(ID) === msgs(DST), "left")
          .select(
            state(ID),
            coalesce(col("new_lbl"), state(LBL)).as(LBL),
            (coalesce(col("new_lbl"), state(LBL)) =!= state(LBL)).as("chg"))
      },
      check = (next, _) => {
        val changed = next.filter(col("chg")).count()
        (changed == 0L, Map("changed" -> changed.toDouble))
      })

    Result(r.state.df.select(col(ID), col(LBL)), r.iterations, r.converged)
  }
}
