package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.checkpoint.CheckpointManager
import graft.core.{Lineage, LinkGraph}
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
      checkpoint: Option[CheckpointManager] = None,
      algoName: String = "wcc")

  final case class Result(
      components: DataFrame, // columns: id, component
      iterations: Int,
      converged: Boolean)

  private val COMP = "component"
  private val CHANGED = "changed"

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withoutAqe(g0.spark)(runImpl(g0, cfg))

  private def runImpl(g0: LinkGraph, cfg: Config): Result = {
    // One upfront cache of the edge table; vertices + the superstep
    // joins all read it (an uncached upstream plan would re-run per use).
    val callerCached = g0.edges.storageLevel != StorageLevel.NONE
    val g = if (callerCached) g0 else g0.cached()
    val p = g.numPartitions
    val edges = g.edges

    // Undirected input means every vertex occurs as src — no need for
    // the 2x-wide src∪dst distinct.
    val init = g.edges.select(col(SRC).as(ID)).distinct()
      .select(col(ID), col(ID).as(COMP), lit(true).as(CHANGED))
      .repartition(p, col(ID))

    val fp = cfg.checkpoint.map(_.graphFingerprint(g.edges, "wcc"))
      .getOrElse("")
    val resume = cfg.checkpoint
      .flatMap(cm => cm.latestIteration(cfg.algoName, fp).map(it =>
        (it, cm.restore(cfg.algoName, it).repartition(p, col(ID)))))

    var state = Lineage.materialize(resume.map(_._2).getOrElse(init), eager = false)
    var iter = resume.map(_._1).getOrElse(0)
    var active = 1L
    var converged = false

    CheckpointManager.committing(cfg.checkpoint) {
      while (!converged && iter < cfg.maxIter) {
        iter += 1
        // Only improved vertices broadcast their (smaller) label.
        val msgs = edges
          .join(state.df.filter(col(CHANGED)).select(col(ID), col(COMP))
              .hint("shuffle_hash"),
            edges(SRC) === col(ID))
          .select(col(DST), col(COMP).as("m"))
          .groupBy(DST)
          .agg(min("m").as("m"))

        val next = Lineage.materialize(
          state.df.join(msgs.hint("shuffle_hash"),
              state.df(ID) === msgs(DST), "left")
            .select(
              state.df(ID),
              least(state.df(COMP), coalesce(col("m"), state.df(COMP))).as(COMP),
              (coalesce(col("m"), lit(Long.MaxValue)) < state.df(COMP)).as(CHANGED)),
          eager = false)

        active = next.df.filter(col(CHANGED)).count()
        converged = active == 0L

        CheckpointManager.release(cfg.checkpoint, state)
        cfg.checkpoint.foreach { cm =>
          if (converged || iter % cfg.checkpointEvery == 0) {
            cm.commit(cfg.algoName, iter, next.df,
              Map("active" -> active.toDouble), fp)
          }
        }
        state = next
      }
    }

    if (!callerCached) g.unpersist()
    Result(state.df.select(col(ID), col(COMP)), iter, converged)
  }

  /** Number of distinct components (reference:
   * `python/cugraph/cugraph/components/connectivity.py:86`). */
  def componentCount(components: DataFrame): Long =
    components.agg(countDistinct(COMP)).head().getLong(0)
}
