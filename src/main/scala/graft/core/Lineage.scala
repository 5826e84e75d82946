package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.SqlInternals
import org.apache.spark.storage.StorageLevel

/**
 * Lineage control for iterative algorithms.
 *
 * An iterative superstep whose new state references the old state more
 * than once (e.g. once through the message join and once for the delta
 * computation) grows an exponentially-sized logical plan TREE even when
 * every step is persisted — Catalyst plans are trees, not DAGs. The
 * reference never faces this (its iteration state is device arrays,
 * `pagerank_impl.cuh:205`); on Spark we cut the plan every superstep.
 *
 * [[Lineage.materialize]] computes the frame once, caches the rows, and
 * returns a new frame whose logical plan is a flat LogicalRDD that
 * PRESERVES the physical output partitioning and ordering of the input
 * (so co-partitioned superstep joins stay exchange-free), plus a handle
 * to release the cache. Same pattern as Spark's own
 * `Dataset.localCheckpoint`, but with explicit unpersist control.
 */
object Lineage {

  final case class Handle(df: DataFrame, private val rdd: RDD[InternalRow]) {
    def release(): Unit = { rdd.unpersist(blocking = false); () }
  }

  /** Compute + cache `df`; return a plan-truncated equivalent. With
   * `eager = false` the first downstream action (e.g. the superstep's
   * scalar agg) materializes the cache, saving one job per iteration. */
  def materialize(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      eager: Boolean = true): Handle = {
    val (out, rdd) = SqlInternals.truncate(df, level, eager)
    Handle(out, rdd)
  }
}
