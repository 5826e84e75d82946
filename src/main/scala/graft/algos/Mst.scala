package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Minimum spanning forest — BORŮVKA rounds (reference
 * `minimum_spanning_tree`, `/root/reference/cpp/include/cugraph/algorithms.hpp:743`,
 * legacy impl `cpp/src/tree/legacy/mst.cu`, which runs the same
 * data-parallel Borůvka shape on device).
 *
 * Per round, over canonical undirected edges (src < dst):
 *   1. annotate each edge with its endpoints' component labels; keep
 *      CROSS-component edges;
 *   2. per component, pick the minimum cross edge by the UNIQUE key
 *      (weight, src, dst) — a struct-min aggregation, map-side
 *      combinable (ties are impossible under the lexicographic key, so
 *      the pick — and therefore the whole forest — is deterministic:
 *      it is exactly the unique MST of the perturbed total order,
 *      which any algorithm using the same key agrees on; the SQL
 *      oracle and the host Kruskal spec both do);
 *   3. add the distinct picked edges to the forest; merge components
 *      over the picked COMPONENT-pair graph (one pair per picked edge,
 *      nodes = current components — a frame that at least halves every
 *      round) to min-label closure, then relabel vertex components
 *      through the merge map.
 *
 * The merge (step 3) is SIZE-ADAPTIVE, like a broadcast-join
 * threshold: once the component-pair frame fits comfortably on the
 * driver (≤ [[Mst.Config.mergeCollectThreshold]] rows — components at
 * least halve per round, so all but the first rounds of even a
 * 10^10-vertex run qualify) it is collected into a min-representative
 * union-find and broadcast back, costing ZERO inner supersteps; above
 * the threshold it runs distributed HASH-TO-MIN POINTER JUMPING
 * (lbl'(v) = min(lbl(v), min nbr lbl, lbl(lbl(v))) — the label-chain
 * halving of the reference's in-kernel shortcutting, O(log diameter)
 * rounds). The previous full nested CC per round paid O(diameter)
 * driver-latency supersteps at EVERY size.
 *
 * Rounds are O(log V) (components at least halve). Each round is two
 * co-keyed label joins + one struct-min aggregation + the merge — no
 * windows, no arrays.
 *
 * Returns the forest's canonical edges (src, dst, weight).
 */
object Mst {

  final case class Config(
      maxIter: Int = 64,
      // Component-pair rows at or below this collect to a driver
      // union-find (16 B/row -> ~16 MB at the default); 0 forces the
      // distributed pointer-jump path (spec coverage).
      mergeCollectThreshold: Long = 1L << 20)

  /** Rounds taken by the most recent [[forest]] call (oracle sizing). */
  @volatile var lastRounds: Int = 0

  def forest(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withoutAqe(g0.spark)(runImpl(g0, cfg))

  /** MAXIMUM spanning forest — the reference's wrapper negates the
   * weights around the minimum call and negates them back
   * (`python/cugraph/cugraph/tree/minimum_spanning_tree.py:44-52`);
   * the (−w, src, dst) pick key keeps the forest unique. */
  def maximumForest(g0: LinkGraph, cfg: Config = Config()): DataFrame = {
    val neg = g0.copy(edges = g0.edges.select(
      col(SRC), col(DST), (-col(WEIGHT)).as(WEIGHT)))
    forest(neg, cfg)
      .select(col(SRC), col(DST), (-col(WEIGHT)).as(WEIGHT))
  }

  /** Driver union-find over collected component pairs, representative
   * = MINIMUM member (union attaches the larger root under the
   * smaller, so find() lands on the component min — the same labels
   * the distributed closure computes). */
  private def unionFindMin(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    nodes.iterator.map(n => (n, find(n))).toSeq
  }

  /** Distributed min-label closure over the (symmetric, cached)
   * component-pair frame by hash-to-min pointer jumping. Labels are
   * monotone non-increasing and always member ids, so the fixpoint's
   * stable common value per component is its minimum. Returns the
   * (c, m) labels plus the cache handle backing them — the caller
   * releases it once the labels are folded into comp. */
  private def minLabelMerge(
      ppSym: DataFrame, p: Int): (DataFrame, Lineage.Handle) = {
    var lab = Lineage.materialize(
      ppSym.select(col("x").as("c")).distinct()
        .select(col("c"), col("c").as("m"))
        .repartition(p, col("c")),
      eager = false)
    var changed = 1L
    var guard = 0
    while (changed > 0) {
      guard += 1
      require(guard <= 64,
        "minLabelMerge failed to converge in 64 pointer-jump rounds")
      val nbr = ppSym
        .join(lab.df.hint("shuffle_hash"), ppSym("y") === lab.df("c"))
        .select(ppSym("x"), col("m").as("nm"))
        .groupBy("x").agg(min("nm").as("nm"))
      val one = lab.df
        .join(nbr.hint("shuffle_hash"), lab.df("c") === nbr("x"), "left")
        .select(lab.df("c"), lab.df("m").as("old"),
          least(lab.df("m"), coalesce(col("nm"), lab.df("m"))).as("m1"))
      val ptr = lab.df.select(col("c").as("pc"), col("m").as("pm"))
      val next = Lineage.materialize(
        one.join(ptr.hint("shuffle_hash"), one("m1") === col("pc"), "left")
          .select(one("c"),
            least(col("m1"), coalesce(col("pm"), col("m1"))).as("m"),
            col("old")),
        eager = false)
      changed = next.df.filter(col("m") < col("old")).count()
      lab.release()
      lab = next
    }
    (lab.df.select(col("c"), col("m")), lab)
  }

  private def runImpl(g0: LinkGraph, cfg: Config): DataFrame = {
    val p = g0.numPartitions
    val spark = g0.spark
    import spark.implicits._

    val canon = Lineage.materialize(
      g0.edges.filter(col(SRC) =!= col(DST))
        .select(least(col(SRC), col(DST)).as(SRC),
          greatest(col(SRC), col(DST)).as(DST), col(WEIGHT))
        .groupBy(SRC, DST).agg(min(WEIGHT).as(WEIGHT))
        .repartition(p, col(SRC)),
      eager = false)

    // comp(v): component label, canonical = min member id.
    var comp = Lineage.materialize(
      canon.df.select(col(SRC).as(ID))
        .union(canon.df.select(col(DST).as(ID))).distinct()
        .select(col(ID), col(ID).as("comp"))
        .repartition(p, col(ID)),
      eager = false)

    // Picked edges accumulate as a lazy union over the per-round
    // cached pick frames; one materialization at the end instead of
    // one per round.
    val pickHandles = scala.collection.mutable.ArrayBuffer[Lineage.Handle]()
    var mstUnion: Option[DataFrame] = None
    var it = 0
    var nPairs = 1L

    // Component labels are V rows — broadcast them into the per-round
    // cross-edge annotation when V fits (guide §3.1): the dst-side
    // label join otherwise exchanges the whole canonical edge table
    // every Borůvka round. One count up front; past the bound the
    // co-partitioned shuffle joins below run unchanged.
    val nV = comp.df.count()
    val bcastComp = nV * 24L < (64L << 20)

    while (nPairs > 0 && it < cfg.maxIter) {
      it += 1
      val compS = comp.df.select(col(ID).as(SRC), col("comp").as("cs"))
      val compD = comp.df.select(col(ID).as(DST), col("comp").as("cd"))
      val cross = canon.df
        .join(if (bcastComp) broadcast(compS) else compS, Seq(SRC))
        .join(if (bcastComp) broadcast(compD) else compD, Seq(DST))
        .filter(col("cs") =!= col("cd"))
      val crossH = Lineage.materialize(cross, eager = false)
      // Per-component minimum cross edge by (weight, src, dst).
      val key = struct(col(WEIGHT).as("w"), col(SRC).as("s"),
        col(DST).as("d"))
      val picks = crossH.df
        .select(col("cs").as("c"), key.as("k"))
        .union(crossH.df.select(col("cd").as("c"), key.as("k")))
        .groupBy("c").agg(min("k").as("k"))
        .select(col("k.s").as(SRC), col("k.d").as(DST),
          col("k.w").as(WEIGHT))
        .distinct()
      // Lazy: the nPairs count below materializes picksH and ppH in
      // one job (the eager form paid a separate job per round).
      val picksH = Lineage.materialize(picks, eager = false)
      // Merge components over the picked COMPONENT pairs (one DIRECTED
      // row per picked edge; both merge paths tolerate duplicates, so
      // no distinct here). Empty pairs <=> no cross edges: terminate.
      val ppCs = comp.df.select(col(ID).as(SRC), col("comp").as("cs"))
      val ppCd = comp.df.select(col(ID).as(DST), col("comp").as("cd"))
      val ppH = Lineage.materialize(
        picksH.df
          .join(if (bcastComp) broadcast(ppCs) else ppCs, Seq(SRC))
          .join(if (bcastComp) broadcast(ppCd) else ppCd, Seq(DST))
          .select(col("cs").as("x"), col("cd").as("y")),
        eager = false)
      nPairs = ppH.df.count()
      if (nPairs > 0) {
        pickHandles += picksH
        mstUnion = Some(mstUnion.map(_.union(picksH.df)).getOrElse(picksH.df))
        val (merged, mergedH) =
          if (nPairs <= cfg.mergeCollectThreshold) {
            val pairs = ppH.df.collect().map(r => (r.getLong(0), r.getLong(1)))
            (broadcast(unionFindMin(pairs).toDF("comp", "newc")),
              None: Option[Lineage.Handle])
          } else {
            val ppSym = Lineage.materialize(
              ppH.df.union(ppH.df.select(col("y").as("x"), col("x").as("y")))
                .distinct()
                .repartition(p, col("y")),
              eager = false)
            val (lab, h) = minLabelMerge(ppSym.df, p)
            val out = Lineage.materialize(
              lab.select(col("c").as("comp"), col("m").as("newc")))
            h.release()
            ppSym.release()
            (out.df.hint("shuffle_hash"), Some(out))
          }
        // The collect-path merge map is a broadcast: the join keeps
        // comp's hash(id) partitioning, so no re-layout is needed. The
        // pointer-jump path's shuffled join does re-key — repartition
        // only there.
        val newCompPlan = comp.df.join(merged, Seq("comp"), "left")
          .select(col(ID),
            coalesce(col("newc"), col("comp")).as("comp"))
        val newComp = Lineage.materialize(
          if (nPairs <= cfg.mergeCollectThreshold) newCompPlan
          else newCompPlan.repartition(p, col(ID)))
        mergedH.foreach(_.release())
        comp.release()
        comp = newComp
      } else {
        picksH.release()
      }
      ppH.release()
      crossH.release()
    }
    lastRounds = it
    comp.release()
    canon.release()
    val out = mstUnion.map { u =>
      val o = Lineage.materialize(u.select(SRC, DST, WEIGHT))
      pickHandles.foreach(_.release())
      o.df
    }.getOrElse {
      spark.emptyDataset[(Long, Long, Double)].toDF(SRC, DST, WEIGHT)
    }
    out
  }
}
