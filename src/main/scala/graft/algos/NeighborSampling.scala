package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Uniform neighbor sampling — the GNN mini-batch fan-out op (reference
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:1678`,
 * impl `/root/reference/cpp/src/sampling/uniform_neighbor_sampling_impl.hpp`):
 * from a seed vertex set, for each hop h take up to fanouts(h)
 * neighbors per frontier vertex without replacement; sampled
 * destinations form the next frontier (deduplicated, like the
 * reference's dedupe of hop frontiers).
 *
 * Determinism: the reference draws from device RNG; we pin the sample
 * to a counter-based hash ranking — per (hop, src), neighbors ordered
 * by md5(seed:hop:src:dst) — so the sample is uniform in distribution,
 * identical across partitionings/cluster sizes, and reproducible by
 * the SQL oracle.
 *
 * Physical plan per hop: frontier semi-join against the cached
 * src-partitioned edge table (co-partitioned, only the tiny frontier
 * shuffles), then the fanout-k smallest hash keys per src via
 * [[graft.functions.BoundedMinK]] — a bounded, map-side-combinable
 * aggregation whose buffer never exceeds fanout entries, so a
 * mega-hub frontier vertex costs O(fanout) per task instead of an
 * O(degree) single-task sort (the round-2 window-rank hazard).
 *
 * Returns (hop, src, dst) for every sampled edge.
 */
object NeighborSampling {

  def run(
      g0: LinkGraph,
      seeds: DataFrame,
      fanouts: Seq[Int],
      seed: Long = 42L): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, seeds, fanouts, seed))

  /** Adjacency-list output form — the reference's
   * `sample_neighbors_adjacency_list` (vs the edge-list form above;
   * `/root/reference/cpp/include/cugraph/algorithms.hpp:1620-1650`):
   * the same sample grouped per (hop, src) into a sorted neighbor
   * array. Arrays are bounded by that hop's fanout, so the collect
   * is skew-safe by construction. */
  def sampleAdjacency(
      g0: LinkGraph,
      seeds: DataFrame,
      fanouts: Seq[Int],
      seed: Long = 42L): DataFrame =
    adjacencyOf(run(g0, seeds, fanouts, seed))

  /** Regroup an edge-form sample (hop, src, dst) into the adjacency
   * form — split out so a caller holding a shared [[run]] frame can
   * derive both output forms from one sample. */
  def adjacencyOf(sample: DataFrame): DataFrame =
    sample
      .groupBy(col("hop"), col(SRC))
      .agg(sort_array(collect_list(col(DST))).as("nbrs"))

  private def runImpl(
      g: LinkGraph,
      seeds: DataFrame,
      fanouts: Seq[Int],
      seed: Long): DataFrame = {
    // Dedupe ONCE into the hop joins' src layout and materialize:
    // left lazy, every hop re-ran the E-sized distinct AND re-exchanged
    // its hash(src, dst) output to hash(src) inside the semi-join —
    // 2 E-shuffles per hop instead of 2 total (guide §2.4).
    val edgesH = Lineage.materialize(
      g.edges.select(SRC, DST).distinct()
        .repartition(g.numPartitions, col(SRC)),
      eager = false)
    val edges = edgesH.df

    var frontier = Lineage.materialize(
      seeds.select(col(seeds.columns.head).as(ID)).distinct(),
      eager = false)
    val scratch = scala.collection.mutable.ArrayBuffer[Lineage.Handle](
      edgesH, frontier)
    var out: Option[DataFrame] = None

    fanouts.zipWithIndex.foreach { case (fanout, h) =>
      val hop = h + 1
      val incident = edges.join(
        frontier.df.withColumnRenamed(ID, SRC).hint("shuffle_hash"),
        Seq(SRC), "left_semi")
      // Hash-ranked without-replacement sample: stable across engines
      // (hex md5 compares bytewise identically everywhere); dst breaks
      // the astronomically-unlikely hash tie. The fanout-smallest keys
      // are taken with the bounded min-k AGGREGATION (constant row
      // width, map-side combinable) — a per-src window rank would sort
      // a hub's entire adjacency in one task.
      val key = md5(concat_ws(":", lit(seed), lit(hop), col(SRC), col(DST)))
      val ranked = incident
        .select(col(SRC), key.as("k"), col(DST))
        .groupBy(SRC)
        .agg(graft.functions.BoundedMinK.smallestK(fanout)(
          col("k"), col(DST)).as("picks"))
        .select(lit(hop.toLong).as("hop"), col(SRC),
          explode(col("picks")).as(DST))
      val sampled = Lineage.materialize(ranked, eager = false)
      scratch += sampled
      out = Some(out.map(_.union(sampled.df)).getOrElse(sampled.df))
      val nextFrontier = Lineage.materialize(
        sampled.df.select(col(DST).as(ID)).distinct(), eager = false)
      scratch += nextFrontier
      frontier = nextFrontier
    }

    val result = Lineage.materialize(
      out.getOrElse(g.spark.emptyDataFrame
        .select(lit(0L).as("hop"), lit(0L).as(SRC), lit(0L).as(DST))))
    scratch.foreach(_.release())
    result.df
  }
}
