package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointManager
import graft.core.{LinkGraph, Superstep}
import graft.core.LinkGraph.{ID, SRC}

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
 * this is the right trade at 100 TB (each superstep is one
 * [[Superstep.messages]] min-reduce and its [[Superstep.receive]]).
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

  private[algos] val COMP = "component"
  private val CHANGED = "changed"

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    // Undirected input means every vertex occurs as src — no need for
    // the 2x-wide src∪dst distinct.
    val r = minLabel(g, "wcc", cfg.maxIter, cfg.checkpoint, cfg.checkpointEvery)(
      g.edges.select(col(SRC).as(ID)).distinct(), idsPartitioned = false)
    Result(r.fixpoint("WCC", cfg.maxIter).df.select(col(ID), col(COMP)),
      r.iterations, r.converged)
  }

  /**
   * Min-label propagation along `g`'s edges (src → dst) on [[Superstep]]:
   * every vertex of `ids` (one column, id) starts as its own label, and
   * the state (id, component, changed) converges to component = the
   * minimum id that reaches the vertex. WCC runs it on the symmetrized
   * graph; SCC's forward phase on the live directed subgraph.
   * `idsPartitioned`: `ids` is already hash-partitioned by id into
   * `g.numPartitions`, so the state needs no repartition.
   */
  private[algos] def minLabel(
      g: LinkGraph,
      name: String,
      maxIter: Int,
      checkpoint: Option[CheckpointManager] = None,
      checkpointEvery: Int = 1)(
      ids: DataFrame, idsPartitioned: Boolean): Superstep.Result = {
    val edges = g.edges
    val init = ids.select(col(ID), col(ID).as(COMP), lit(true).as(CHANGED))
    Superstep.run(g, name, maxIter, checkpoint, checkpointEvery)(
      if (idsPartitioned) init else init.repartition(g.numPartitions, col(ID)),
      step = (state, _) => {
        // Only improved vertices send their (smaller) label.
        val msgs = Superstep.messages(edges,
          state.filter(col(CHANGED)).select(col(ID), col(COMP)), col(COMP), min)
        Superstep.receive(state, msgs)
          .select(
            state(ID),
            least(state(COMP), coalesce(col("m"), state(COMP))).as(COMP),
            (coalesce(col("m"), lit(Long.MaxValue)) < state(COMP)).as(CHANGED))
      },
      check = (next, _) => {
        val active = next.filter(col(CHANGED)).count()
        (active == 0L, Map("active" -> active.toDouble))
      })
  }
}
