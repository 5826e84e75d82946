package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * The one spot where we touch Spark-internal (private[sql]) API, hence
 * the package placement. Used only to cut logical-plan lineage in
 * iterative algorithms while preserving output partitioning — the same
 * mechanism `Dataset.localCheckpoint` uses internally, with explicit
 * cache control.
 */
object SqlInternals {

  /** Compute `df` eagerly into a cached InternalRow RDD and wrap it in a
   * fresh flat plan that keeps the original output partitioning. */
  def truncate(
      df: DataFrame,
      level: StorageLevel,
      eager: Boolean): (DataFrame, RDD[InternalRow]) = {
    val cds = df.asInstanceOf[ClassicDataset[Row]]
    // toRdd reuses mutable rows; copy before caching. localCheckpoint
    // cuts the RDD DEPENDENCY chain at first materialization — without
    // it, iteration N's tasks serialize a lineage N levels deep and
    // long runs die with StackOverflowError during task serialization
    // (truncating the logical plan alone does not truncate RDD lineage).
    val rdd = cds.queryExecution.toRdd.map(_.copy()).persist(level)
    rdd.localCheckpoint()
    val raw = LogicalRDD.fromDataset(rdd, cds, isStreaming = false)
    // SIMPLIFY the preserved partitioning: fromDataset snapshots the
    // physical plan's outputPartitioning verbatim, and a join output's
    // PartitioningCollection NESTS the partitioning of every input —
    // including previous LogicalRDDs' collections. Across an iterative
    // loop the partitioning expression tree grows multiplicatively and
    // Catalyst's planner walks it on every subsequent action: measured
    // as driver-side planning time ×3-4 PER ITERATION (3 s → 13 s →
    // 58 s in Leiden level 2) until the job effectively hangs. Keeping
    // only the flat attribute-level hash partitionings (deduped)
    // preserves everything a co-partitioned superstep join needs and
    // caps the tree at depth 2.
    def flatHashes(q: Partitioning): Seq[HashPartitioning] = q match {
      case pc: PartitioningCollection => pc.partitionings.flatMap(flatHashes)
      case h: HashPartitioning
          if h.expressions.forall(_.isInstanceOf[AttributeReference]) =>
        Seq(h)
      case _ => Seq.empty
    }
    val part = raw.outputPartitioning match {
      case p @ (_: PartitioningCollection | _: HashPartitioning) =>
        flatHashes(p).distinct match {
          case Seq() => UnknownPartitioning(p.numPartitions)
          case Seq(one) => one
          case many => PartitioningCollection(many.toIndexedSeq)
        }
      case other => other
    }
    val logical = LogicalRDD(
      raw.output, raw.rdd, part, Nil, raw.isStreaming)(cds.sparkSession)
    val out = ClassicDataset.ofRows(cds.sparkSession, logical)
    if (eager) rdd.count() // else: the caller's first action materializes
    (out, rdd)
  }

  /** `df`, which the caller has persisted, as a frame over its cached
   * relation: read twice in one plan, the two reads canonicalize alike
   * and the second read's exchange is reused. A plan over a
   * [[truncate]]d frame, read twice, is re-instanced at one read, and
   * the re-instanced partitioning attributes keep the two apart, so
   * each read computes it again. */
  def cachedRelation(df: DataFrame): DataFrame = {
    val cds = df.asInstanceOf[ClassicDataset[Row]]
    ClassicDataset.ofRows(cds.sparkSession, cds.queryExecution.withCachedData)
  }
}
