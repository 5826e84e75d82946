package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/**
 * Session tuning scoped to the iterative (Pregel-style) algorithms.
 *
 * AQE stays ON for ad-hoc analytical queries (skew joins, coalescing),
 * but is switched OFF inside the superstep loops: an AdaptiveSparkPlan
 * reports UnknownPartitioning until executed, so caching or
 * LogicalRDD-wrapping an AQE plan LOSES the hash-partitioning metadata
 * and every subsequent co-partitioned join re-shuffles the edge table —
 * the exact cost the layout exists to avoid. The superstep plans are
 * fixed-shape with known sizes; there is nothing for AQE to adapt, and
 * skew is already handled by partial aggregation in the message reduce.
 */
object SparkTuning {

  def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /**
   * The one entry scope of the algorithms that read their input graph
   * more than once: AQE off ([[withoutAqe]]), then `g0` cached through
   * [[LinkGraph.cached]] unless the caller already persisted its edges
   * (a caller-managed cache is neither re-laid-out nor dropped), then
   * `f` on that graph. The copy cached here is released when `f`
   * returns or throws. Like the reference's non-owning `graph_view_t`,
   * `f` borrows the graph and never decides its lifetime; an uncached
   * upstream plan (e.g. corpus extraction) would otherwise re-run for
   * every read.
   */
  def withGraph[T](g0: LinkGraph)(f: LinkGraph => T): T =
    withoutAqe(g0.spark) {
      val owned = g0.edges.storageLevel == StorageLevel.NONE
      val g = if (owned) g0.cached() else g0
      try f(g)
      finally if (owned) g.unpersist()
    }

  /**
   * Run `f` with `spark.sql.shuffle.partitions` scoped to `n` —
   * scale-adaptive partitioning for an algorithm that has measured its
   * input and found it far smaller than the session layout (a 36-vertex
   * layout fixture on a 32-partition session spends its whole wall
   * clock scheduling empty tasks: every per-iteration aggregation is a
   * 32-task stage). Callers derive `n` from a row count, so the same
   * code keeps the full session parallelism on at-scale inputs. NOT
   * safe under driver-thread concurrency (the conf is session-global);
   * the callers are single-threaded algorithm loops.
   */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
