package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointManager
import graft.core.{Lineage, LinkGraph}
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
 *  - PUSH (top-down): frontier ⋈ edges (co-partitioned), min-reduce
 *    by dst, anti-join visited — cost ~ edges OUT of the frontier; or
 *  - PULL (bottom-up): edges are first semi-joined against the
 *    UNVISITED dst set, then joined to the frontier on src — cost ~
 *    edges INTO the unvisited residue. On the dense middle supersteps
 *    of a web-scale BFS the frontier covers most of the graph while
 *    the unvisited set collapses, so pruning by unvisited-dst first
 *    touches far fewer edge rows (the relational analog of bottom-up's
 *    parent-found early exit).
 *
 * The switch is chosen per level by comparing |frontier| against the
 * unvisited residue (both already tracked); both directions produce
 * IDENTICAL frontiers and min-predecessors, so results do not depend
 * on the heuristic (pinned by the push/pull parity spec).
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
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, sources, cfg))

  /**
   * One INDEPENDENT traversal per source in a single superstep loop —
   * the reference's multi_source_bfs / concurrent_bfs
   * (`python/cugraph/cugraph/traversal/ms_bfs.py:110,187`): the
   * frontier is keyed (source, id), each superstep expands every
   * source's frontier simultaneously (one co-partitioned edge join +
   * one (source,dst) min-reduce — same shape Betweenness uses for its
   * all-sources forward pass), so s sources cost one loop of s-times-
   * wider frames instead of s loops. Rows scale with s·reach — the
   * hazard the reference's `offload` flag addresses by spilling;
   * Spark's shuffle spills the same way, so no special casing.
   *
   * Returns (source, id, distance, predecessor), min-id predecessor
   * per (source, id), sources at distance 0 from themselves.
   */
  def multiSource(
      g0: LinkGraph, sources: Seq[Long], maxDepth: Int = Int.MaxValue): DataFrame =
    graft.core.SparkTuning.withGraph(g0) { g =>
      val spark = g.spark
      val p = g.numPartitions
      val edges = g.edges
      import spark.implicits._

      var visited = Lineage.materialize(
        sources.map(s => (s, s, 0L, s))
          .toDF("source", ID, "distance", "predecessor")
          .repartition(p, col(ID)),
        eager = false)
      var frontier = visited
      var depth = 0L
      var frontierSize = frontier.df.count()
      val frames = scala.collection.mutable.ArrayBuffer[Lineage.Handle](visited)
      while (frontierSize > 0 && depth < maxDepth) {
        depth += 1
        val expanded = edges
          .join(frontier.df.select(col("source"), col(ID)).hint("shuffle_hash"),
            edges(SRC) === col(ID))
          .select(col("source"), col(DST), edges(SRC).as("pred"))
          .groupBy("source", DST).agg(min("pred").as("predecessor"))
          .join(visited.df.select(col("source"), col(ID).as(DST)),
            Seq("source", DST), "left_anti")
        val nextFrontier = Lineage.materialize(
          expanded.select(col("source"), col(DST).as(ID),
            lit(depth).as("distance"), col("predecessor"))
            .repartition(p, col(ID)),
          eager = false)
        frontierSize = nextFrontier.df.count()
        if (frontierSize > 0) {
          val newVisited = Lineage.materialize(
            visited.df.union(nextFrontier.df), eager = false)
          frames += nextFrontier
          frames += newVisited
          visited = newVisited
          frontier = nextFrontier
        } else nextFrontier.release()
      }
      val out = Lineage.materialize(visited.df)
      frames.foreach(_.release())
      out.df
    }

  private def runImpl(g: LinkGraph, sources: Seq[Long], cfg: Config): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = g.numPartitions

    val edges = g.edges.select(SRC, DST)

    // Vertex universe, needed only on the pull side (unvisited
    // residue). Lazy: a push-only run never pays for it — and the
    // release at the end is gated on allVertsInit so a run that never
    // forced the lazy val (maxDepth = 0, immediately-empty frontier)
    // doesn't materialize the frame solely to release it.
    var allVertsInit = false
    lazy val allVerts = {
      allVertsInit = true
      Lineage.materialize(g.vertices.repartition(p, col(ID)), eager = false)
    }
    lazy val nVerts = allVerts.df.count()

    // Resume from the latest committed level: the frontier is exactly
    // the rows at the checkpoint's max distance.
    // Fingerprint = edge set + sorted sources: a checkpoint root
    // reused for a different graph or source set is ignored, not
    // silently resumed into wrong distances.
    val fp = cfg.checkpoint.map(_.graphFingerprint(
      edges, "bfs" +: sources.sorted.map(_.toString): _*)).getOrElse("")
    val resume = cfg.checkpoint.flatMap(cm =>
      cm.latestIteration("bfs", fp).map(it =>
        (it.toLong, cm.restore("bfs", it).repartition(p, col(ID)))))

    var visited = Lineage.materialize(
      resume.map(_._2).getOrElse(
        sources.map(s => (s, 0L, s)).toDF(ID, "distance", "predecessor")
          .repartition(p, col(ID))),
      eager = false)
    var depth = resume.map(_._1).getOrElse(0L)
    var frontier =
      if (resume.isEmpty) visited
      else Lineage.materialize(
        visited.df.filter(col("distance") === depth), eager = false)
    var frontierSize = frontier.df.count()
    var visitedCount = if (resume.isEmpty) frontierSize else visited.df.count()

    val levels = scala.collection.mutable.ArrayBuffer[Lineage.Handle](visited)
    if (frontier ne visited) levels += frontier
    CheckpointManager.committing(cfg.checkpoint) {
      while (frontierSize > 0 && depth < cfg.maxDepth) {
        depth += 1
        val doPull = cfg.pull.getOrElse {
          // Auto: pull once the frontier outnumbers the unvisited
          // residue (cheap proxy for edge-out vs edge-in volume).
          frontierSize > math.max(1L, nVerts - visitedCount)
        }
        val expanded =
          if (doPull) {
            val unvisited = allVerts.df
              .join(visited.df.select(ID), Seq(ID), "left_anti")
            edges
              .join(unvisited.withColumnRenamed(ID, DST).hint("shuffle_hash"),
                Seq(DST), "left_semi")
              .join(frontier.df.select(col(ID).as(SRC)).hint("shuffle_hash"),
                Seq(SRC))
              .groupBy(DST).agg(min(SRC).as("predecessor"))
          } else {
            edges
              .join(frontier.df.select(col(ID)).hint("shuffle_hash"),
                edges(SRC) === col(ID))
              .select(col(DST), edges(SRC).as("pred"))
              .groupBy(DST).agg(min("pred").as("predecessor"))
              .join(visited.df.select(col(ID)).withColumnRenamed(ID, DST),
                Seq(DST), "left_anti")
          }
        // Both branches end in groupBy(DST), so the level is already
        // hash(dst → id)-partitioned at the session width; when that
        // matches the graph layout the explicit repartition is a
        // redundant V-sized exchange per level (guide §2.4) — the next
        // push join is co-partitioned either way. Kept when the widths
        // differ (caller-managed layouts).
        val body = expanded
          .select(col(DST).as(ID), lit(depth).as("distance"),
            col("predecessor"))
        val nextFrontier = Lineage.materialize(
          if (p == spark.sessionState.conf.numShufflePartitions) body
          else body.repartition(p, col(ID)),
          eager = false)
        frontierSize = nextFrontier.df.count()
        if (frontierSize > 0) {
          visitedCount += frontierSize
          // A level to be committed is cached before the commit starts,
          // so the background write and the next level's join both read
          // the cache instead of computing the level at the same time.
          val committed = depth % cfg.checkpointEvery == 0
          val newVisited = Lineage.materialize(
            visited.df.union(nextFrontier.df),
            eager = committed && cfg.checkpoint.isDefined)
          levels += nextFrontier
          levels += newVisited
          visited = newVisited
          frontier = nextFrontier
          cfg.checkpoint.foreach { cm =>
            if (committed) {
              cm.commit("bfs", depth.toInt, visited.df,
                Map("frontier" -> frontierSize.toDouble,
                  "depth" -> depth.toDouble), fp)
            }
          }
        } else {
          nextFrontier.release()
        }
      }
    }

    val out = Lineage.materialize(visited.df)
    levels.foreach(_.release())
    if (allVertsInit) allVerts.release()
    out.df
  }
}
