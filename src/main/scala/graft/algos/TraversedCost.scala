package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Traversed-cost retrieval — the reference's `get_traversed_cost`
 * (`/root/reference/python/cugraph/cugraph/utilities/path_retrieval.py:22`,
 * kernel `cpp/src/utilities/path_retrieval.cu`): given the
 * (id, distance, predecessor) frame a [[Bfs]]/[[Sssp]] run returns and
 * a weighted edge table, sum the edge weights along each vertex's
 * predecessor path back to the source. The value column is independent
 * of the traversal's own metric (a BFS hop tree costed with shipment
 * weights, say), which is what makes this more than re-reading
 * `distance`.
 *
 * WEIGHTED POINTER DOUBLING — the [[ExtractPaths]] jump table carrying
 * an accumulator: J_k maps each vertex to (2^k-step ancestor, summed
 * weight of those 2^k tree edges), the root saturating to itself at
 * weight 0 so composition is total and never double-counts:
 *
 *   J_{k+1}(v) = (J_k(a).anc, w + J_k(a).w)  where (a, w) = J_k(v)
 *
 * After ceil(log2(maxDepth+1)) rounds every reachable vertex's ancestor
 * is the source and its accumulator is the full path cost — O(log d)
 * co-keyed |V| self-joins instead of the reference kernel's per-thread
 * pointer chase (or d one-hop supersteps).
 *
 * Returns (id, cost) for every vertex in `traversal`; cost(source)=0.
 * Vertices the traversal never reached are absent from its frame and
 * so from the output (the reference pads them with FLT_MAX; our
 * traversals return reached-only frames).
 */
object TraversedCost {

  /**
   * @param traversal (id, distance, predecessor) from Bfs/Sssp
   * @param weightedEdges (src, dst, weight) — already symmetrized if the
   *                      traversal ran undirected (the reference
   *                      symmetrizes internally; our graphs are built
   *                      symmetrized upstream)
   */
  def run(traversal: DataFrame, weightedEdges: DataFrame): DataFrame = {
    val trav = traversal.select(col(ID), col("distance"), col("predecessor"))

    val maxDepth = {
      val r = trav.agg(max(col("distance").cast("long"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val rounds =
      if (maxDepth <= 0L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(maxDepth)

    // J_0: one predecessor hop, costed from the weighted edge table
    // (tree edges come from the same graph, so the join is total; a
    // missing edge would surface as a dropped vertex in the output —
    // loud, not silently wrong).
    val w = weightedEdges.select(col(SRC).as("ws"), col(DST).as("wd"),
      col(WEIGHT).cast("double").as("ww"))
    var jump = Lineage.materialize(
      trav.filter(col("distance") > 0)
        .join(w, col("predecessor") === col("ws") && col(ID) === col("wd"))
        .select(col(ID).as("jv"), col("predecessor").as("anc"),
          col("ww").as("acc"))
        .union(trav.filter(col("distance") === 0)
          .select(col(ID).as("jv"), col(ID).as("anc"),
            lit(0.0).as("acc"))),
      eager = false)
    val scratch = scala.collection.mutable.ArrayBuffer[Lineage.Handle](jump)

    for (_ <- 1 to rounds) {
      val j2 = jump.df.select(col("jv").as("v2"), col("anc").as("a2"),
        col("acc").as("c2"))
      val squared = Lineage.materialize(
        jump.df.join(j2.hint("shuffle_hash"), col("anc") === col("v2"))
          .select(col("jv"), col("a2").as("anc"),
            (col("acc") + col("c2")).as("acc")),
        eager = false)
      scratch += squared
      jump = squared
    }

    val out = Lineage.materialize(
      jump.df.select(col("jv").as(ID), col("acc").as("cost")))
    scratch.foreach(_.release())
    out.df
  }
}
