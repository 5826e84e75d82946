package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, SRC, WEIGHT}

/**
 * Biased and node2vec random walks (reference
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:1438,1481`,
 * impl `/root/reference/cpp/src/sampling/random_walks_impl.cuh` —
 * biased_selector / node2vec_selector).
 *
 * Selection is CUMULATIVE-WEIGHT INVERSION, the same scheme the
 * reference's selectors use on the prefix-summed adjacency: order the
 * out-neighbors of the current vertex by the pinned total order
 * (hash-bucket, nbr), compute the running weight sum, draw u ∈ [0,1)
 * and take the first neighbor whose running sum exceeds u × total.
 * The draw is pinned to a splittable counter-based stream —
 * u = md5(seed:start:step) as a 32-bit int mod 10^6, scaled — so
 * walks are identical across partitionings AND reproducible by the
 * SQL oracle (compare `cum·10^6 > u·total`, no division).
 *
 * node2vec transition weights from prev p̂ to current v for candidate
 * n (reference node2vec_selector, random_walks_impl.cuh):
 *   1/p if n = p̂  (return),
 *   1   if n adjacent to p̂ (in-out distance 1),
 *   1/q otherwise — all times the edge weight when weighted.
 * Step 1 has no prev; setting prev = start makes every candidate
 * adjacency-weight 1, i.e. the uniform/biased first step the
 * reference takes.
 *
 * HUB-SAFE TWO-LEVEL INVERSION: a single per-walker window over the
 * raw candidates would sort the current vertex's FULL adjacency in
 * one task — a 10^8-degree hub in one window partition. Instead the
 * candidates are hashed into [[Node2Vec.NBuckets]] buckets
 * (bucket = md5(nbr) % B — splittable, oracle-reproducible), and:
 *
 *   level 1: per-bucket weight totals (a map-side-combinable
 *     aggregation), then a per-walker window over ≤ B bucket rows
 *     picks the first bucket whose END-cum crosses the draw — the
 *     bucket holding the globally-first passing candidate, since
 *     within-bucket cums are bounded by their bucket's end-cum;
 *   level 2: the candidate join is semi-restricted to the ONE picked
 *     bucket per walker (expected degree/B rows), and the within-
 *     bucket running sum, OFFSET by the preceding buckets' total,
 *     equals the global running sum exactly (weights at the oracle
 *     boundary are dyadic, so bucket-sum + offset re-association is
 *     exact) — the pick is identical to the single-window scheme
 *     under the same (bucket, nbr) order.
 *
 * Window partitions are therefore bounded by max(B, degree/B) rows
 * instead of degree — the same hazard class NeighborSampling's
 * bounded min-k aggregator eliminates (pinned by the plan-shape
 * spec: every window in the walk path rides a bucketed frame).
 *
 * Physical plan per step: candidates = frontier ⋈ edges on the
 * partition key (src), one adjacency-check join against the same
 * cached edge table, the bucket aggregation + bounded windows above —
 * only the walker frame shuffles per step, never the edges.
 *
 * Returns (start, step, vertex); step 0 is the start vertex.
 */
object Node2Vec {

  /** Candidate hash buckets for the two-level inversion; 2^16 bounds
   * both window levels by ~max(B, degree/B) rows (a 10^9-degree hub's
   * picked bucket holds ~15k candidates). Mirrored as a literal in
   * the SQL oracles' bucket expression. */
  val NBuckets = 65536L

  final case class Config(
      length: Int = 4,
      p: Double = 2.0,
      q: Double = 0.5,
      seed: Long = 42L,
      weighted: Boolean = false)

  /** node2vec second-order walks. */
  def run(g0: LinkGraph, starts: DataFrame, cfg: Config = Config()): DataFrame =
    walk(g0, starts, cfg.length, cfg.seed) { (cand, edges) =>
      // adjacency check: is the candidate a neighbor of prev?
      val adjPrev = edges.select(col(SRC).as("ap_src"), col(DST).as("ap_dst"))
        .withColumn("is_adj", lit(true))
      val bias = cand
        .join(adjPrev,
          cand("prev") === col("ap_src") && cand("nbr") === col("ap_dst"),
          "left")
        .select(cand("*"), coalesce(col("is_adj"), lit(false)).as("adj"))
      val base =
        when(col("nbr") === col("prev"), lit(1.0 / cfg.p))
          .when(col("adj"), lit(1.0))
          .otherwise(lit(1.0 / cfg.q))
      bias.withColumn("wt",
        if (cfg.weighted) base * col("ew") else base)
    }

  /** First-order biased walks: next ∝ edge weight. */
  def biased(
      g0: LinkGraph,
      starts: DataFrame,
      length: Int = 4,
      seed: Long = 42L): DataFrame =
    walk(g0, starts, length, seed) { (cand, _) =>
      cand.withColumn("wt", col("ew"))
    }

  /** Shared walk loop; `weigh` maps the candidate frame
   * (start, step, prev, vertex, nbr, ew) to one with a `wt` column. */
  private def walk(
      g0: LinkGraph,
      starts: DataFrame,
      length: Int,
      seed: Long)(
      weigh: (DataFrame, DataFrame) => DataFrame): DataFrame =
    graft.core.SparkTuning.withGraph(g0) { g =>
      val edges = g.edges.select(col(SRC), col(DST), col(WEIGHT).as("ew"))

      var cur = Lineage.materialize(
        starts.select(col(starts.columns.head).as("start"))
          .withColumn("step", lit(0L))
          .withColumn("prev", col("start"))
          .withColumn("vertex", col("start")),
        eager = false)
      val segments = scala.collection.mutable.ArrayBuffer[Lineage.Handle](cur)
      var out = cur.df.select("start", "step", "vertex")

      for (step <- 1 to length) {
        val cand = cur.df
          .join(edges.hint("shuffle_hash"), cur.df("vertex") === edges(SRC))
          .select(col("start"), col("prev"), col("vertex"),
            edges(DST).as("nbr"), col("ew"))
        val weighted = weigh(cand, edges)
        val next = Lineage.materialize(selectNext(weighted, step, seed))
        segments += next
        out = out.union(next.df.select("start", "step", "vertex"))
        cur = next
      }

      val result = Lineage.materialize(out)
      segments.foreach(_.release())
      result.df
    }

  /** Two-level bucketed cumulative inversion over one step's weighted
   * candidate frame (start, prev, vertex, nbr, ew, wt) → one
   * (start, step, prev, vertex) pick per surviving walker.
   * Package-visible so the plan-shape spec can pin the physical shape
   * (every window rides a bucketed frame) directly. */
  private[graft] def selectNext(
      weighted: DataFrame, step: Int, seed: Long): DataFrame = {
    val draw = pmod(conv(substring(
      md5(concat_ws(":", lit(seed), col("start"), lit(step))), 1, 8),
      16, 10).cast("long"), lit(1000000L))
    val bucket = pmod(conv(substring(
      md5(concat_ws("", col("nbr"))), 1, 8),
      16, 10).cast("long"), lit(NBuckets))
    val wb = weighted.withColumn("bkt", bucket)

    // Level 1: pick the bucket holding the globally-first candidate
    // whose running sum crosses the draw. Bucket totals are a
    // map-side-combinable aggregation; the window ranks <= NBuckets
    // rows per walker.
    val byWalker = Window.partitionBy("start")
    val bucketRun = byWalker.orderBy(col("bkt").asc)
    val bpick = wb
      .groupBy(col("start"), col("bkt")).agg(sum(col("wt")).as("bw"))
      .withColumn("bcum", sum(col("bw")).over(bucketRun))
      .withColumn("tot", sum(col("bw")).over(byWalker))
      .withColumn("maxbcum", max(col("bcum")).over(byWalker))
      .withColumn("r", draw)
      // Inversion without division: first bucket with an end-cum
      // satisfying bcum/tot > r/1e6. The LAST bucket (bcum ==
      // maxbcum) passes UNCONDITIONALLY — with non-dyadic weights
      // the running sum and the separate total can disagree in the
      // last ulp, and the strict compare alone could then reject
      // every bucket for a draw near 999999, silently killing the
      // walker. For exact (dyadic / integer) weights the fallback
      // never changes the pick (bcum = tot on the last bucket). The
      // SQL oracles mirror the fallback as `cum = tot` — identical
      // under the same dyadic-weight precondition.
      .filter(col("bcum") * lit(1000000.0) > col("r") * col("tot") ||
        col("bcum") === col("maxbcum"))
      .groupBy(col("start"))
      .agg(min(struct(col("bcum"), col("bkt"), col("bw"), col("tot"),
        col("r"))).as("bp"))
      .select(col("start").as("ps"), col("bp.bkt").as("pbkt"),
        (col("bp.bcum") - col("bp.bw")).as("off"),
        col("bp.tot").as("tot"), col("bp.r").as("r"))

    // Level 2: rank ONLY the picked bucket's candidates; the offset
    // makes the within-bucket running sum equal the global one.
    val inBucket = wb.join(bpick,
      wb("start") === col("ps") && wb("bkt") === col("pbkt"))
    val walkerBkt = Window.partitionBy(wb("start"), wb("bkt"))
    val runIn = walkerBkt.orderBy(col("nbr").asc)
    val scored = inBucket
      .withColumn("cum", col("off") + sum(col("wt")).over(runIn))
      .withColumn("maxcum", max(col("cum")).over(walkerBkt))
      .filter(col("cum") * lit(1000000.0) > col("r") * col("tot") ||
        col("cum") === col("maxcum"))
    scored.groupBy(wb("start"))
      .agg(min(struct(col("cum"), col("nbr"), col("vertex"))).as("pick"))
      .select(col("start"), lit(step.toLong).as("step"),
        col("pick.vertex").as("prev"), col("pick.nbr").as("vertex"))
  }
}
