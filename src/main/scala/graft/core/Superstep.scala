package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, sum}

import graft.checkpoint.CheckpointManager
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * The superstep loop of PageRank, WCC, LPA, SSSP, Katz, Eigenvector,
 * HITS, core number, BFS (one traversal), the tagged multi-source
 * frontier `Bfs.levels` (`Bfs.multiSource` and Betweenness's forward
 * phase), the k-core and k-truss peels, SCC's forward and backward
 * fixpoints, Louvain's (and so Leiden's) local-moving loop and
 * Spectral's power iteration. An algorithm supplies its init state,
 * its superstep plan (`step`, from the current state and the number of
 * the superstep it computes to the next state) and its convergence
 * `check` on the next state; this loop owns the rest, in one order:
 *
 *   - resume: the latest superstep committed under `name` with this
 *     run's [[fingerprint]] is restored, repartitioned by id, in place
 *     of `init`; the numbering goes on from it;
 *   - every state is lineage-cut ([[Lineage.materialize]], lazily: the
 *     check's action fills the cache);
 *   - at most `maxIter` supersteps, fewer once `check` converges;
 *   - the previous state is released, then the next one is committed
 *     (when converged or every `checkpointEvery` supersteps) with the
 *     check's metrics and the columns of `init`, all inside
 *     [[CheckpointManager.committing]] — see the flush rule there.
 *
 * Scalars carried between supersteps (PageRank's dangling sum,
 * Eigenvector's and HITS's norms, Spectral's means and norms, the peels'
 * previous row count, BFS's visited and frontier counts, Louvain's
 * best Q) are the algorithm's own vars, set by `check` and read by
 * `step`; so are a superstep's side caches (HITS's auth gather, the
 * k-truss adjacency, Louvain's labeled edges and cluster weights),
 * which `check` releases once the next state is counted.
 *
 * The message pass of a superstep is written once too: [[messages]]
 * sends along the edges and reduces by dst, [[receive]] joins the
 * reduce back onto the state. PageRank, Katz, Eigenvector, WCC and
 * SCC's forward phase (`ConnectedComponents.minLabel`), SSSP, both
 * HITS gathers, BFS's push level and Spectral call them; `Bfs.levels`
 * calls [[messages]] with the `by` key `source`, reducing by
 * (source, dst); LPA and core number call only [[receive]] (see there
 * for why).
 *
 * These iterative loops stay hand-written, each for the reason given:
 *   - Betweenness's backward δ walk runs a known number of levels,
 *     deepest first, with nothing to converge on, and keeps every
 *     level's δ and arc terms for the final sums, where this loop
 *     releases each previous state;
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
 *     running two fixpoints here and settling their vertices;
 *   - Egonet's hops and the pointer doubling of ExtractPaths and
 *     TraversedCost run a fixed number of rounds and start no job in
 *     them: the final action computes the whole chain, so every
 *     round's frame stays cached until then;
 *   - RandomWalks and Node2Vec take a fixed number of steps, and the
 *     walks are the union of every step's frame, none released early.
 */
object Superstep {

  /** The last state, still cached: the caller releases it, or returns
   * a frame over it. */
  final case class Result(state: Lineage.Handle, iterations: Int, converged: Boolean) {

    /** The state of an EXACT fixpoint, an answer only once converged: a
     * run that `maxIter` cut short releases it and throws, naming
     * `algorithm` and the cap. */
    def fixpoint(algorithm: String, maxIter: Int): Lineage.Handle = {
      if (!converged) {
        state.release()
        throw new IllegalStateException(
          s"$algorithm did not converge within maxIter=$maxIter supersteps; " +
            "its result would be wrong. Raise maxIter")
      }
      state
    }
  }

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
    val fp = checkpoint.map(fingerprint(_, g, name, extras, init)).getOrElse("")
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

  /** What a run commits under and resumes by: the edge table,
   * `name +: extras` and the column names and types of `init`, so a
   * checkpoint of another graph, key or state format is never resumed.
   * Starts the one edge aggregation of
   * [[CheckpointManager.graphFingerprint]]; `init` is only analyzed. */
  def fingerprint(cm: CheckpointManager, g: LinkGraph, name: String,
      extras: Seq[String], init: DataFrame): String =
    cm.graphFingerprint(g.edges, (name +: extras) ++
      init.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}"): _*)

  /**
   * One superstep's messages, the reference's
   * `per_v_transform_reduce_incoming_e`
   * (`cpp/src/prims/per_v_transform_reduce_incoming_outgoing_e.cuh`):
   * every row of `senders` (keyed by id) sends `msg` along its
   * out-edges in `edges` (src → dst), and the messages to each dst
   * fold by `reduce`. Returns (dst, m).
   *
   * The physical decision, the same for every caller: `edges` is
   * hash-partitioned by src and `senders` by id, so the join is
   * co-partitioned, and its shuffle-hash hint builds each partition's
   * slice of the sender state and streams the cached, unsorted edges
   * past it. Without the hint Catalyst picks sort-merge and re-sorts
   * the edge table every superstep; unlike a broadcast the build stays
   * valid when V is huge, because it is per co-partition, not per task.
   * The reduce by dst is then the superstep's one exchange: ~V rows of
   * messages, never the edge table, and an algebraic `reduce` (sum,
   * min) aggregates partially map-side, collapsing a hub's fan-in
   * before the shuffle — the skew countermeasure of the reference's
   * per-degree-segment kernels, with no hub salting.
   *
   * `by` names sender columns that key the reduce beside dst, the
   * reference's tagged frontier: `Bfs.levels` passes `Seq("source")`,
   * so every source's messages fold apart, by (source, dst). Returns
   * (`by`, dst, m).
   */
  def messages(
      edges: DataFrame, senders: DataFrame, msg: Column,
      reduce: Column => Column, by: Seq[String] = Nil): DataFrame =
    edges.join(senders.hint("shuffle_hash"), edges(SRC) === senders(ID))
      .select(by.map(col) :+ col(DST) :+ msg.as("m"): _*)
      .groupBy((by :+ DST).map(col): _*).agg(reduce(col("m")).as("m"))

  /**
   * `msgs` (keyed by dst) left-joined onto `state` by id = dst, with a
   * shuffle-hash build of the messages: the reduce left them
   * hash-partitioned by dst, the state is by id, so the join moves
   * nothing and keeps the state's partitioning; a vertex no message
   * reached keeps its row, with nulls on the message side. LPA and
   * core number join their own reduce back through this too: a
   * histogram fold under one explicit repartition by dst, which
   * measured ~25% faster than the second exchange that partial
   * aggregation of `(dst, value)` pays.
   */
  def receive(state: DataFrame, msgs: DataFrame): DataFrame =
    state.join(msgs.hint("shuffle_hash"), state(ID) === msgs(DST), "left")

  /** Sum of `e` over `df`; 0 over no rows, where SQL's sum is null. */
  def total(df: DataFrame, e: Column): Double = {
    val r = df.agg(sum(e)).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}
