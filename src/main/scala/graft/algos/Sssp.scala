package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointManager
import graft.core.{Lineage, LinkGraph, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Single-source shortest paths over non-negative edge weights
 * (reference contract `/root/reference/cpp/include/cugraph/algorithms.hpp:1098`,
 * near-far delta-stepping in `cpp/src/traversal/sssp_impl.cuh`).
 *
 * Distributed shape: synchronous label-correcting relaxation (the
 * Bellman-Ford/Pregel form) with a change-frontier — only vertices
 * whose distance improved relax their out-edges next superstep, so the
 * superstep count is bounded by the shortest-path hop diameter, and
 * each superstep is the standard co-partitioned join + min-reduce.
 * The reference's near-far buckets are a GPU work-efficiency device;
 * the fixpoint they reach is identical.
 *
 * Returns (id, distance, predecessor) for reached vertices;
 * predecessor = the min-id optimal predecessor (pinned tie-break).
 */
object Sssp {

  final case class Config(
      maxIter: Int = 10000,
      checkpointEvery: Int = 10,
      checkpoint: Option[CheckpointManager] = None)

  def run(g0: LinkGraph, source: Long, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, source, cfg))

  private def runImpl(g: LinkGraph, source: Long, cfg: Config): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = g.numPartitions

    // State: DENSE (every vertex; unreached rows carry null distance/
    // predecessor) — (id, distance, predecessor, changed). The dense
    // layout keeps the superstep a LEFT join that preserves the
    // state's hash(id) partitioning, so the loop runs ONE exchange per
    // superstep (the candidate min-reduce); the previous reached-only
    // state needed a full_outer join (unknown output partitioning) and
    // an explicit V-sized repartition every superstep — 7 stages per
    // superstep instead of 2, and the loop is latency-bound (guide
    // §2.4; measured 85 stages / 34 MB total shuffle at sf0.1).
    // The chg column is checkpointed too, so a resumed run re-enters
    // with the exact change-frontier of the committed superstep.
    // Fingerprint = weighted edge set + state format + source (see
    // Bfs): refuses to resume a checkpoint of a different graph/source,
    // or one of the reached-only format, which the dense left join
    // would silently truncate to the reached vertices.
    val init = g.vertices.select(col(ID))
      .union(Seq(source).toDF(ID)) // a source outside the edge set
      .distinct()
      .repartition(p, col(ID))
      .select(col(ID),
        when(col(ID) === source, lit(0.0)).as("distance"),
        when(col(ID) === source, lit(source)).as("predecessor"),
        (col(ID) === source).as("chg"))

    val r = Superstep.run(g, Name, cfg.maxIter, cfg.checkpoint,
      cfg.checkpointEvery, extras(source))(
      init,
      step = st => {
        // Relax out-edges of improved vertices; keep the best (distance,
        // predecessor) candidate per destination — min over struct gives
        // the deterministic (smallest-distance, then smallest-pred) pick.
        val cand = g.edges
          .join(st.filter(col("chg"))
              .select(col(ID), col("distance")).hint("shuffle_hash"),
            g.edges(SRC) === col(ID))
          .select(col(DST),
            struct((col("distance") + col(WEIGHT)).as("d"),
              col(SRC).as("pred")).as("c"))
          .groupBy(DST)
          .agg(min("c").as("c"))
          .select(col(DST).as("cid"), col("c.d").as("nd"), col("c.pred").as("np"))

        val better = col("nd") <
          coalesce(st("distance"), lit(Double.MaxValue))
        st.join(cand.hint("shuffle_hash"), st(ID) === col("cid"), "left")
          .select(st(ID),
            when(better, col("nd")).otherwise(st("distance")).as("distance"),
            when(better, col("np")).otherwise(st("predecessor"))
              .as("predecessor"),
            coalesce(better, lit(false)).as("chg"))
      },
      check = (next, iter) => {
        val frontier = next.filter(col("chg")).count()
        (frontier == 0L, Map("frontier" -> frontier.toDouble,
          "iteration" -> iter.toDouble))
      })

    // Reached vertices only (the dense state's unreached rows carry
    // null distance) — same output contract as before.
    val out = Lineage.materialize(
      r.state.df.filter(col("distance").isNotNull)
        .select(col(ID), col("distance"), col("predecessor")))
    r.state.release()
    out.df
  }

  private val Name = "sssp"
  private def extras(source: Long) = Seq("sssp-dense", source.toString)

  private[graft] def fingerprint(
      cm: CheckpointManager, g: LinkGraph, source: Long): String =
    cm.graphFingerprint(g.edges, Name +: extras(source): _*)

  /**
   * Drop unreachable rows from a BFS/SSSP result — reference
   * filter_unreachable (`/root/reference/python/cugraph/cugraph/traversal/sssp.py:253-281`):
   * unreachable = distance at the dtype's max value (the reference's
   * sentinel; our own run() emits reached vertices only, so this
   * matters for results imported from sentinel-style producers).
   */
  def filterUnreachable(df: DataFrame, distCol: String = "distance"): DataFrame = {
    import org.apache.spark.sql.types._
    val sentinel = df.schema(distCol).dataType match {
      case DoubleType => lit(Double.MaxValue)
      case FloatType => lit(Float.MaxValue)
      case LongType => lit(Long.MaxValue)
      case IntegerType => lit(Int.MaxValue)
      case t => throw new IllegalArgumentException(
        s"unsupported distance type $t")
    }
    df.filter(col(distCol) =!= sentinel)
  }

  /**
   * Distance from `source` to every reachable vertex, or to one
   * `target` — reference shortest_path_length
   * (`/root/reference/python/cugraph/cugraph/traversal/sssp.py:299`).
   * Returns (id, distance); with a target, at most one row (empty =
   * unreachable, surfaced as a frame rather than the reference's
   * host-side ValueError so the plan stays lazy).
   */
  def shortestPathLength(
      g: LinkGraph,
      source: Long,
      target: Option[Long] = None,
      cfg: Config = Config()): DataFrame = {
    val d = run(g, source, cfg).select(col(ID), col("distance"))
    target.map(t => d.filter(col(ID) === t)).getOrElse(d)
  }
}
