package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointManager
import graft.core.{LinkGraph, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Weakly connected components. The reference implements a multi-root
 * frontier expansion with graph coarsening
 * (`/root/reference/cpp/src/components/weakly_connected_components_impl.cuh:266-793`)
 * whose labels are only meaningful up to bijection (its own test
 * canonicalizes — `weakly_connected_components_test.cpp:178-190`); its
 * legacy kernel is plain min-label propagation
 * (`/root/reference/cpp/src/components/legacy/weak_cc.cuh:60-130`).
 *
 * We pin the canonical form: component id = MINIMUM vertex id in the
 * component, computed by synchronous min-label propagation with a
 * change-frontier: only vertices whose label improved last superstep
 * send messages, so late supersteps touch a shrinking fraction of the
 * graph. Expects an undirected (symmetrized) graph — the reference
 * errors on directed input (`weakly_connected_components_impl.cuh:285-287`);
 * call `.symmetrize` first.
 *
 * Scale: supersteps = graph diameter; web graphs are short-diameter so
 * this is the right trade at 100 TB (each superstep is one co-partitioned
 * join + one message-reduce shuffle with map-side combine).
 */
object ConnectedComponents {

  final case class Config(
      maxIter: Int = 200,
      checkpointEvery: Int = 10,
      checkpoint: Option[CheckpointManager] = None)

  final case class Result(
      components: DataFrame, // columns: id, component
      iterations: Int,
      converged: Boolean)

  private val COMP = "component"
  private val CHANGED = "changed"

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    // One upfront cache of the edge table; vertices + the superstep
    // joins all read it (an uncached upstream plan would re-run per use).
    val p = g.numPartitions
    val edges = g.edges

    // Undirected input means every vertex occurs as src — no need for
    // the 2x-wide src∪dst distinct.
    val init = g.edges.select(col(SRC).as(ID)).distinct()
      .select(col(ID), col(ID).as(COMP), lit(true).as(CHANGED))
      .repartition(p, col(ID))

    val r = Superstep.run(g, "wcc", cfg.maxIter, cfg.checkpoint,
      cfg.checkpointEvery)(
      init,
      step = (state, _) => {
        // Only improved vertices broadcast their (smaller) label.
        val msgs = edges
          .join(state.filter(col(CHANGED)).select(col(ID), col(COMP))
              .hint("shuffle_hash"),
            edges(SRC) === col(ID))
          .select(col(DST), col(COMP).as("m"))
          .groupBy(DST)
          .agg(min("m").as("m"))

        state.join(msgs.hint("shuffle_hash"), state(ID) === msgs(DST), "left")
          .select(
            state(ID),
            least(state(COMP), coalesce(col("m"), state(COMP))).as(COMP),
            (coalesce(col("m"), lit(Long.MaxValue)) < state(COMP)).as(CHANGED))
      },
      check = (next, _) => {
        val active = next.filter(col(CHANGED)).count()
        (active == 0L, Map("active" -> active.toDouble))
      })

    Result(r.state.df.select(col(ID), col(COMP)), r.iterations, r.converged)
  }

  /** Number of distinct components (reference:
   * `python/cugraph/cugraph/components/connectivity.py:86`). */
  def componentCount(components: DataFrame): Long =
    components.agg(countDistinct(COMP)).head().getLong(0)
}
