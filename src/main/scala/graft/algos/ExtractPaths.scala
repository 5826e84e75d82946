package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.core.LinkGraph.ID

/**
 * Path reconstruction from a traversal's predecessor tree — the
 * reference's `extract_bfs_paths`
 * (`/root/reference/cpp/include/cugraph/algorithms.hpp:1063`, impl
 * `cpp/src/traversal/extract_bfs_paths_impl.cuh`): given the
 * (id, distance, predecessor) frame a [[Bfs]]/[[Sssp]] run returns and
 * a set of destination vertices, emit each destination's root→dst
 * path.
 *
 * POINTER DOUBLING, not hop-per-superstep: round k squares a jump
 * table J_k (vertex → its 2^k-step ancestor, saturating at the root)
 * while the reach frame R_k (all ancestors of each destination at
 * hop distance < 2^k) absorbs J_k's image of itself:
 *
 *   R_{k+1} = R_k ∪ J_k(R_k)        — walker-frame join, small side
 *   J_{k+1} = J_k ∘ J_k             — one co-keyed |V| self-join
 *
 * so a depth-d tree completes in ceil(log2(d+1)) rounds instead of d
 * supersteps — O(log d) Spark jobs on a deep SSSP tree at scale where
 * the old one-hop walk paid one driver-latency-bound job per level.
 * (The reference's kernel chases pointers per-thread on device; the
 * log-round doubling is the superstep-latency analog.)
 *
 * Returns (destination, pos, vertex) rows, pos 0 = the root — the
 * exploded form keeps the result SQL-comparable and avoids arrays.
 * Destinations absent from `traversal` (unreached) produce no rows,
 * like the reference's invalid-vertex sentinels.
 */
object ExtractPaths {

  def fromPredecessors(
      traversal: DataFrame, // (id, distance, predecessor)
      destinations: DataFrame): DataFrame = {
    val pred = traversal.select(col(ID), col("distance"),
      col("predecessor"))
    val dests = destinations
      .select(col(destinations.columns.head).as("destination")).distinct()

    // R_0: each (reached) destination is its own hop-0 ancestor.
    var reach = Lineage.materialize(
      dests.join(pred, dests("destination") === pred(ID))
        .select(col("destination"), col(ID).as("vertex")),
      eager = false)
    val scratch = scala.collection.mutable.ArrayBuffer[Lineage.Handle](reach)

    // Deepest destination bounds the rounds: R_k covers hops < 2^k,
    // so ceil(log2(maxPos+1)) rounds reach the root.
    val maxPos = {
      val r = reach.df
        .join(pred.select(col(ID), col("distance")),
          reach.df("vertex") === col(ID))
        .agg(max(col("distance").cast("long"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val rounds =
      if (maxPos <= 0L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(maxPos)

    // J_0: one predecessor hop; the root maps to itself (saturation),
    // which keeps every composition total.
    var jump = Lineage.materialize(
      pred.select(col(ID).as("jv"),
        when(col("distance") > 0, col("predecessor"))
          .otherwise(col(ID)).as("anc")),
      eager = false)
    scratch += jump

    for (k <- 1 to rounds) {
      val grown = Lineage.materialize(
        reach.df
          .union(reach.df
            .join(jump.df.hint("shuffle_hash"),
              reach.df("vertex") === col("jv"))
            .select(col("destination"), col("anc").as("vertex")))
          .distinct(), // saturation re-emits the root; dedupe
        eager = false)
      scratch += grown
      reach = grown
      if (k < rounds) {
        val j2 = jump.df.select(col("jv").as("v2"), col("anc").as("a2"))
        val squared = Lineage.materialize(
          jump.df.join(j2.hint("shuffle_hash"), col("anc") === col("v2"))
            .select(col("jv"), col("a2").as("anc")),
          eager = false)
        scratch += squared
        jump = squared
      }
    }

    val out = Lineage.materialize(
      reach.df.join(pred.select(col(ID), col("distance")),
          reach.df("vertex") === col(ID))
        .select(col("destination"),
          col("distance").cast("long").as("pos"), col("vertex")))
    // A consistent predecessor tree reaches pos 0 for every
    // destination within the round bound; corrupt input (e.g. a
    // predecessor cycle in a hand-edited frame) fails loudly instead
    // of returning a truncated path.
    val unrooted = out.df.groupBy("destination").agg(min("pos").as("mn"))
      .filter(col("mn") > 0).count()
    require(unrooted == 0L,
      s"predecessor frame is not a rooted tree ($unrooted destinations " +
        s"never reached pos 0 after $rounds doubling rounds)")
    scratch.foreach(_.release())
    out.df
  }
}
