package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, sum}

import graft.checkpoint.CheckpointManager
import graft.core.LinkGraph.ID

/**
 * The superstep loop of PageRank, WCC, LPA, SSSP, Katz, Eigenvector,
 * HITS, core number, BFS (one traversal and `multiSource`), the
 * k-core and k-truss peels, SCC's forward and backward fixpoints and
 * Louvain's (and so Leiden's) local-moving loop. An algorithm supplies
 * its init state, its superstep plan (`step`, from the current state
 * and the number of the superstep it computes to the next state) and
 * its convergence `check` on the next state; this loop owns the rest,
 * in one order:
 *
 *   - resume: the latest superstep committed under `name` with this
 *     run's fingerprint (the edge table plus `name +: extras`) is
 *     restored, repartitioned by id, in place of `init`; the numbering
 *     goes on from it;
 *   - every state is lineage-cut ([[Lineage.materialize]], lazily: the
 *     check's action fills the cache);
 *   - at most `maxIter` supersteps, fewer once `check` converges;
 *   - the previous state is released, then the next one is committed
 *     (when converged or every `checkpointEvery` supersteps) with the
 *     check's metrics and the columns of `init`, all inside
 *     [[CheckpointManager.committing]] — see the flush rule there.
 *
 * Scalars carried between supersteps (PageRank's dangling sum,
 * Eigenvector's and HITS's norms, the peels' previous row count, BFS's
 * visited and frontier counts, Louvain's best Q) are the algorithm's
 * own vars, set by `check` and read by `step`; so are a superstep's
 * side caches (HITS's auth gather, the k-truss adjacency, Louvain's
 * labeled edges), which `check` releases once the next state is
 * counted.
 *
 * These iterative loops stay hand-written, because none is one state
 * stepped to the next:
 *   - Betweenness steps two frames forward (the frontier and the
 *     visited set), then walks the kept levels backward;
 *   - MST's Borůvka rounds step two frames (components and the picked
 *     forest) and run a nested pointer-jump loop past a size bound;
 *   - Hungarian's auction steps two frames (prices and the
 *     assignment) in bidding rounds nested inside ε-scaling phases,
 *     each phase restarting the assignment;
 *   - ForceAtlas2 needs an action in the middle of each step: the
 *     global speed, from the new forces' swing and traction, must be
 *     known before the positions move;
 *   - the one Louvain/Leiden level loop contracts the graph between
 *     levels: each level runs on a new graph, and its result folds
 *     into the flat labels and the dendrogram;
 *   - SCC's pass loop shrinks the live graph between passes, each pass
 *     running two fixpoints here and settling their vertices.
 */
object Superstep {

  /** The last state, still cached: the caller releases it, or returns
   * a frame over it. */
  final case class Result(state: Lineage.Handle, iterations: Int, converged: Boolean)

  def run(
      g: LinkGraph,
      name: String,
      maxIter: Int,
      checkpoint: Option[CheckpointManager] = None,
      checkpointEvery: Int = 1,
      extras: Seq[String] = Nil)(
      init: DataFrame,
      step: (DataFrame, Int) => DataFrame,
      check: (DataFrame, Int) => (Boolean, Map[String, Double])): Result = {
    val fp = checkpoint.map(_.graphFingerprint(g.edges, name +: extras: _*))
      .getOrElse("")
    val resume = checkpoint.flatMap(cm => cm.latestIteration(name, fp).map(it =>
      (it, cm.restore(name, it).repartition(g.numPartitions, col(ID)))))
    val committed = init.columns.map(col)

    var state = Lineage.materialize(resume.map(_._2).getOrElse(init), eager = false)
    var iter = resume.map(_._1).getOrElse(0)
    var converged = false
    CheckpointManager.committing(checkpoint) {
      while (!converged && iter < maxIter) {
        iter += 1
        val next = Lineage.materialize(step(state.df, iter), eager = false)
        val (done, metrics) = check(next.df, iter)
        converged = done
        CheckpointManager.release(checkpoint, state)
        checkpoint.foreach { cm =>
          if (converged || iter % checkpointEvery == 0) {
            cm.commit(name, iter, next.df.select(committed: _*), metrics, fp)
          }
        }
        state = next
      }
    }
    Result(state, iter, converged)
  }

  /** Sum of `e` over `df`; 0 over no rows, where SQL's sum is null. */
  def total(df: DataFrame, e: Column): Double = {
    val r = df.agg(sum(e)).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}
