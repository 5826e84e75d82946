package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointManager
import graft.core.{Lineage, LinkGraph, SparkTuning, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Breadth-first search: hop distances + predecessors from a set of
 * sources (reference contract `/root/reference/cpp/include/cugraph/algorithms.hpp:475`,
 * frontier expansion like `/root/reference/cpp/src/traversal/bfs_impl.cuh`).
 * Unreached vertices are absent from the result (the reference marks
 * them with invalid distance/vertex sentinels). Predecessor ties are
 * broken toward the SMALLEST predecessor id — the reference leaves
 * tie order unspecified; we pin it for reproducibility.
 *
 * DIRECTION-OPTIMIZING (the reference's push/pull switch in
 * `bfs_impl.cuh`): per level, either
 *
 *  - PUSH (top-down): [[Superstep.messages]] from the frontier, a
 *    min-reduce by dst, anti-join visited — cost ~ edges OUT of the
 *    frontier; or
 *  - PULL (bottom-up): the graph's by-dst layout
 *    ([[LinkGraph.transposed]]) is semi-joined against the UNVISITED
 *    set, co-partitioned by id, and only the surviving edges move to
 *    meet the frontier on src — cost ~ edges INTO the unvisited
 *    residue; no exchange moves the whole edge table. On the dense
 *    middle supersteps of a web-scale BFS the frontier covers most of
 *    the graph while the unvisited set collapses, so pruning by
 *    unvisited-dst first touches far fewer edge rows (the relational
 *    analog of bottom-up's parent-found early exit).
 *
 * The switch is chosen per level by comparing |frontier| against the
 * unvisited residue (both already tracked); both directions produce
 * IDENTICAL frontiers and min-predecessors, so results do not depend
 * on the heuristic (pinned by the push/pull parity spec).
 *
 * Both entry points run on [[Superstep]]. The state is the visited
 * frame; superstep d expands its rows at distance d - 1 (the frontier)
 * into level d and returns visited ∪ level d, and the check counts
 * level d, converging when it is empty. [[multiSource]] runs the same
 * loop keyed by (source, id), [[levels]], which Betweenness's forward
 * phase runs too.
 */
object Bfs {

  final case class Config(
      maxDepth: Int = Int.MaxValue,
      checkpointEvery: Int = 10,
      checkpoint: Option[CheckpointManager] = None,
      // None = auto (direction-optimizing); Some(false)/Some(true)
      // force push-only / pull-only (testing + measurement).
      pull: Option[Boolean] = None)

  /** Returns (id, distance, predecessor); sources have distance 0 and
   * predecessor = themselves. Multiple sources MERGE into one
   * traversal (min distance from any source); for one independent
   * traversal per source see [[multiSource]]. The reference's
   * filter_unreachable (`traversal/traveral_wrapper.pyx` sentinel
   * filter) is implicit here: unreached vertices are simply absent. */
  def run(g0: LinkGraph, sources: Seq[Long], cfg: Config = Config()): DataFrame =
    SparkTuning.withGraph(g0)(runImpl(_, sources, cfg))

  /**
   * One INDEPENDENT traversal per source in a single superstep loop —
   * the reference's multi_source_bfs / concurrent_bfs
   * (`python/cugraph/cugraph/traversal/ms_bfs.py:110,187`): [[levels]]
   * with the sender's id as the message and `min` as the reduce, so s
   * sources cost one loop of s-times-wider frames instead of s loops.
   * Rows scale with s·reach — the hazard the reference's `offload`
   * flag addresses by spilling; Spark's shuffle spills the same way,
   * so no special casing.
   *
   * Distributed shape: that of [[levels]]. A level moves the frontier
   * to id and the min-reduced messages to (source, dst), and nothing
   * moves the visited frame.
   *
   * Returns (source, id, distance, predecessor), min-id predecessor
   * per (source, id), sources at distance 0 from themselves.
   */
  def multiSource(
      g0: LinkGraph, sources: Seq[Long], maxDepth: Int = Int.MaxValue): DataFrame =
    SparkTuning.withGraph(g0) { g =>
      val spark = g.spark
      import spark.implicits._
      levels(g, "ms_bfs", maxDepth, sources.toDF("source"),
        init = col("source"), msg = col(SRC), reduce = min)
        .state.df.withColumnRenamed("m", "predecessor")
    }

  /**
   * The tagged frontier of the reference's
   * `transform_reduce_v_frontier_outgoing_e_by_dst`
   * (`cpp/src/prims/transform_reduce_v_frontier_outgoing_e_by_dst.cuh`):
   * one BFS per row of `sources` (column `source`), all expanded in one
   * [[Superstep]] loop. The state is (source, id, distance, m), `m`
   * starting at `init` on each source's own row; superstep d sends
   * `msg` from the rows at distance d − 1 along their out-edges,
   * folds it by (source, dst) with `reduce`, keeps the (source, dst)
   * pairs not yet visited as level d and returns visited ∪ level d.
   * The check counts level d, converging when it is empty.
   *
   * Distributed shape: the state is hash-partitioned by (source, id),
   * the key the reduce leaves its output in, so the visited anti-join
   * (a shuffle-hash build of the visited keys, no sort) and the union
   * move nothing. A level moves only the frontier (to id, for the
   * co-partitioned edge join) and the partially aggregated messages.
   */
  private[algos] def levels(
      g: LinkGraph, name: String, maxDepth: Int, sources: DataFrame,
      init: Column, msg: Column, reduce: Column => Column): Superstep.Result = {
    val key = Seq(col("source"), col(ID))
    Superstep.run(g, name, maxDepth)(
      sources.select(col("source"), col("source").as(ID),
        lit(0L).as("distance"), init.as("m")).repartition(g.numPartitions, key: _*),
      step = (visited, depth) => {
        val frontier = visited.filter(col("distance") === depth - 1)
          .select(col("source"), col(ID), col("m"))
        val level = Superstep.messages(g.edges, frontier, msg, reduce, Seq("source"))
          .join(visited.select(col("source"), col(ID).as(DST)).hint("shuffle_hash"),
            Seq("source", DST), "left_anti")
          .select(col("source"), col(DST).as(ID),
            lit(depth.toLong).as("distance"), col("m"))
        // Kept in the state's layout when the widths differ (as in
        // [[runImpl]]); at the session width the reduce already left it so.
        visited.union(
          if (g.numPartitions == g.spark.sessionState.conf.numShufflePartitions) level
          else level.repartition(g.numPartitions, key: _*))
      },
      check = (next, depth) => (levelRows(next, depth) == 0, Map.empty))
  }

  /** Rows of the level a superstep added: those at its distance. Their
   * count also fills the cache of the visited frame they are in. */
  private def levelRows(visited: DataFrame, depth: Int): Long =
    visited.filter(col("distance") === depth).count()

  private def runImpl(g: LinkGraph, sources: Seq[Long], cfg: Config): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = g.numPartitions

    val edges = g.edges.select(SRC, DST)

    // Vertex universe, needed only on the pull side (unvisited
    // residue). Lazy: a push-only run never pays for it — and the
    // release at the end is gated on allVertsInit so a run that never
    // forced the lazy val (maxDepth = 0, or push forced) doesn't
    // materialize the frame solely to release it.
    var allVertsInit = false
    lazy val allVerts = {
      allVertsInit = true
      Lineage.materialize(g.vertices.repartition(p, col(ID)), eager = false)
    }
    lazy val nVerts = allVerts.df.count()

    // The auto direction's counts: the visited rows and the last
    // level's, counted from the state by the first step (after a
    // resume too), then advanced by each check.
    var visitedCount = -1L
    var frontierSize = -1L
    // Fingerprint extras = sorted sources: a checkpoint root reused for
    // a different graph or source set is ignored, not silently resumed
    // into wrong distances.
    val r = Superstep.run(g, "bfs", cfg.maxDepth, cfg.checkpoint,
      cfg.checkpointEvery, sources.sorted.map(_.toString))(
      sources.map(s => (s, 0L, s)).toDF(ID, "distance", "predecessor")
        .repartition(p, col(ID)),
      step = (visited, depth) => {
        // The frontier is the previous level: the rows at its distance.
        val frontier = visited.filter(col("distance") === depth - 1)
        if (visitedCount < 0) {
          visitedCount = visited.count()
          frontierSize = if (depth == 1) visitedCount else frontier.count()
        }
        val doPull = cfg.pull.getOrElse {
          // Auto: pull once the frontier outnumbers the unvisited
          // residue (cheap proxy for edge-out vs edge-in volume).
          frontierSize > math.max(1L, nVerts - visitedCount)
        }
        val expanded =
          if (doPull) {
            val unvisited = allVerts.df
              .join(visited.select(ID).hint("shuffle_hash"), Seq(ID), "left_anti")
            g.transposed
              .join(unvisited.withColumnRenamed(ID, SRC).hint("shuffle_hash"),
                Seq(SRC), "left_semi")
              .select(col(DST).as(SRC), col(SRC).as(DST))
              .join(frontier.select(col(ID).as(SRC)).hint("shuffle_hash"),
                Seq(SRC))
              .groupBy(DST).agg(min(SRC).as("predecessor"))
          } else {
            Superstep.messages(edges, frontier.select(col(ID)), col(SRC), min)
              .withColumnRenamed("m", "predecessor")
              .join(visited.select(col(ID)).withColumnRenamed(ID, DST),
                Seq(DST), "left_anti")
          }
        // Both branches end in groupBy(DST), so the level is already
        // hash(dst → id)-partitioned at the session width; when that
        // matches the graph layout the explicit repartition is a
        // redundant V-sized exchange per level (guide §2.4) — the next
        // push join is co-partitioned either way. Kept when the widths
        // differ (caller-managed layouts).
        val level = expanded
          .select(col(DST).as(ID), lit(depth.toLong).as("distance"),
            col("predecessor"))
        visited.union(
          if (p == spark.sessionState.conf.numShufflePartitions) level
          else level.repartition(p, col(ID)))
      },
      check = (next, depth) => {
        frontierSize = levelRows(next, depth)
        visitedCount += frontierSize
        (frontierSize == 0, Map("frontier" -> frontierSize.toDouble,
          "depth" -> depth.toDouble))
      })

    if (allVertsInit) allVerts.release()
    r.state.df
  }
}
