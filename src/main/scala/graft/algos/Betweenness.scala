package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Betweenness centrality (sampled Brandes), reference semantics
 * (`/root/reference/cpp/src/centrality/betweenness_centrality.cu:33-66,
 * 216-366`, host oracle
 * `cpp/tests/centrality/legacy/betweenness_centrality_test.cu:58-170`):
 *
 *   - per source s: BFS computing dist and shortest-path counts σ;
 *     then dependency accumulation by DESCENDING depth:
 *       δ(v) = Σ over successors w (dist_w = dist_v + 1, edge v→w) of
 *              σ_v/σ_w · (1 + δ_w)
 *     and bc(w) += δ(w) for w ≠ s;
 *   - rescale (`betweenness_centrality.cu:368-455`): normalized →
 *     × 1/((n−1)(n−2)) and × n/k for k sampled sources; unnormalized
 *     undirected → × 1/2.
 *
 * EDGE betweenness ([[runEdges]], reference
 * `edge_betweenness_centrality_impl` `betweenness_centrality.cu:67-108`,
 * `accumulate_edges`): the same forward phase; the backward pass
 * credits each ARC (v → w, dist_w = dist_v + 1) its term
 * σ_v/σ_w · (1 + δ_w) directly. Normalized rescale is 1/(n(n−1))
 * (`rescale_edges_betweenness_centrality:392-403`) with NO n/k
 * source rescale — the reference comments that call out for edges
 * (`:90`); unnormalized undirected halves, as for vertices.
 *
 * Distributed shape: ALL sampled sources run simultaneously — state is
 * keyed (source, vertex), so the superstep count is 2×diameter total,
 * not per source. Forward: level-synchronous frontier expansion with
 * σ summed by (s, dst) (map-side combinable; the visited anti-join is
 * co-partitioned on (s, v)). Backward: one join per depth level from
 * the deepest layer down, δ computed TERM-WISE (σ_v/σ_w·(1+δ_w)
 * summed per (s, v)) so the SQL oracle reproduces the identical
 * float arithmetic.
 *
 * Sources: explicit list, or the k vertices with smallest
 * md5(seed:v) (deterministic sampling, the counter-RNG pattern).
 */
object Betweenness {

  final case class Config(
      normalized: Boolean = true,
      sources: Option[Seq[Long]] = None,
      k: Int = 8,
      seed: Long = 42L,
      maxDepth: Int = 10000)

  /** Forward-phase result shared by vertex and edge accumulation. */
  private final case class Forward(
      visited: Lineage.Handle, // (s, v, dist, sigma)
      depth: Long,
      kUsed: Long,
      n: Long,
      verts: Lineage.Handle)

  private def forwardPhase(g: LinkGraph, cfg: Config): Option[Forward] = {
    val p = g.numPartitions
    val spark = g.spark
    val edges = g.edges.select(SRC, DST)
    val verts = Lineage.materialize(
      g.vertices.repartition(p, col(ID)), eager = false)
    val n = verts.df.count()
    if (n == 0) { verts.release(); return None }

    val sources: DataFrame = cfg.sources match {
      case Some(list) =>
        import spark.implicits._
        list.toDF("s")
      case None =>
        // k smallest md5(seed:v): deterministic, partition-independent.
        verts.df
          .withColumn("__h", md5(concat_ws(":", lit(cfg.seed), col(ID))))
          .orderBy(col("__h"), col(ID)).limit(cfg.k)
          .select(col(ID).as("s"))
    }
    val kUsed = sources.count()

    // Every per-level frame is bounded by kUsed·n rows ((source,
    // vertex) keys): when that fits a broadcast (guide §3.1) the
    // frontier join runs on the cached edge table's own partitioning,
    // the visited anti-join broadcasts its build side, and the
    // per-level repartition disappears — the message reduce's partial
    // aggregation is the only exchange per level. Past the bound the
    // original shuffle plan runs unchanged.
    val bcast = kUsed * n * 48L < (64L << 20)

    var frontier = Lineage.materialize(
      sources.select(col("s"), col("s").as("v"), lit(0L).as("dist"),
        lit(1.0).as("sigma")).repartition(p, col("s"), col("v")),
      eager = false)
    var visited = Lineage.materialize(frontier.df)
    var depth = 0L
    var frontierSize = visited.df.count()

    while (frontierSize > 0 && depth < cfg.maxDepth) {
      depth += 1
      val expanded =
        if (bcast) edges.join(broadcast(frontier.df),
          frontier.df("v") === edges(SRC))
        else frontier.df.join(edges.hint("shuffle_hash"),
          frontier.df("v") === edges(SRC))
      val msgs = expanded
        .groupBy(col("s"), col(DST).as("v"))
        .agg(sum("sigma").as("sigma"))
      val seen = visited.df.select(col("s"), col("v"))
      val fresh = msgs
        .join(if (bcast) broadcast(seen) else seen, Seq("s", "v"), "left_anti")
        .select(col("s"), col("v"), lit(depth).as("dist"), col("sigma"))
      val newF = Lineage.materialize(
        if (bcast) fresh else fresh.repartition(p, col("s"), col("v")),
        eager = false)
      frontierSize = newF.df.count()
      if (frontierSize > 0) {
        val newVisited = Lineage.materialize(visited.df.union(newF.df))
        visited.release()
        visited = newVisited
      } else {
        depth -= 1 // last level had no new vertices
      }
      frontier.release()
      frontier = newF
    }
    frontier.release()
    Some(Forward(visited, depth, kUsed, n, verts))
  }

  /** Returns (id, bc). */
  def run(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): DataFrame = {
    val p = g.numPartitions
    val spark = g.spark
    val edges = g.edges.select(SRC, DST)

    val fw = forwardPhase(g, cfg) match {
      case None =>
        import spark.implicits._
        return Seq.empty[(Long, Double)].toDF(ID, "bc")
      case Some(f) => f
    }
    val Forward(visited, depth, kUsed, n, verts) = fw

    // ---- backward phase: δ accumulation from the deepest layer ----
    // Same k·n broadcast bound as the forward phase: under it, the
    // per-level frames broadcast into the reversed-edge join (which
    // then streams the CACHED edge table in place — no rev
    // repartition/persist at all) and the term reduce's partial
    // aggregation is the level's only exchange.
    val bcast = kUsed * n * 48L < (64L << 20)
    var level = Lineage.materialize(
      visited.df.filter(col("dist") === depth)
        .select(col("s"), col("v"), col("sigma"), lit(0.0).as("delta")))
    val acc = scala.collection.mutable.ArrayBuffer[Lineage.Handle]()
    acc += level

    // Reversed edges; above the broadcast bound, hash-partitioned on
    // the join key ONCE — each backward level joins on w, and an
    // unpartitioned rev would re-shuffle the full edge table per level.
    val revBase = edges.select(col(DST).as("w"), col(SRC).as("v"))
    val rev =
      if (bcast) revBase
      else revBase.repartition(p, col("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    var d = depth - 1
    while (d >= 0) {
      val vAtD = visited.df.filter(col("dist") === d)
        .select(col("s"), col("v"), col("sigma"))
      val lsel = level.df
        .select(col("s"), col("v").as("w"), col("sigma").as("sw"),
          col("delta").as("dw"))
      val vsel = vAtD.select(col("s"), col("v"), col("sigma").as("sv"))
      // term-wise: σ_v/σ_w · (1 + δ_w) per (s, v, w), then sum.
      val termRows =
        if (bcast) rev.join(broadcast(lsel), Seq("w"))
          .join(broadcast(vsel), Seq("s", "v"))
        else lsel.join(rev, Seq("w")).join(vsel, Seq("s", "v"))
      val terms = termRows
        .select(col("s"), col("v"),
          (col("sv") / col("sw") * (lit(1.0) + col("dw"))).as("t"))
        .groupBy(col("s"), col("v"))
        .agg(sum("t").as("delta"))
      val nextLevelPlan = vAtD
        .join(if (bcast) broadcast(terms) else terms, Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
      // Loop-shape evidence hook: the first backward level's plan.
      if (d == depth - 1 && sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
        nextLevelPlan.explain("formatted")
      }
      val nextLevel = Lineage.materialize(nextLevelPlan)
      acc += nextLevel
      level = nextLevel
      d -= 1
    }

    val allDeltas = acc.map(_.df.select(col("s"), col("v"), col("delta")))
      .reduce(_ union _)
    val factor: Double =
      if (cfg.normalized) {
        val base = if (n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0
        // rescale_by_total_sources_used (betweenness_centrality.cu:434):
        // × n/k for sampled sources.
        if (n > 2 && kUsed > 0) base * (n.toDouble / kUsed) else base
      } else {
        if (!g.directed) 0.5 else 1.0
      }

    val dAgg = allDeltas.filter(col("v") =!= col("s"))
      .groupBy(col("v")).agg(sum("delta").as("d0"))
      .withColumnRenamed("v", ID)
    val bc = Lineage.materialize(
      verts.df.join(
          if (bcast) broadcast(dAgg) else dAgg.hint("shuffle_hash"),
          Seq(ID), "left")
        .select(col(ID),
          (coalesce(col("d0"), lit(0.0)) * factor).as("bc")))

    acc.foreach(_.release())
    if (!bcast) rev.unpersist()
    visited.release()
    verts.release()
    bc.df
  }

  /** Edge betweenness: (src, dst, bc) for every ARC of the input edge
   * table (zero-filled), reference `edge_betweenness_centrality`. */
  def runEdges(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runEdgesImpl(_, cfg))

  private def runEdgesImpl(g: LinkGraph, cfg: Config): DataFrame = {
    val p = g.numPartitions
    val spark = g.spark
    val edges = g.edges.select(SRC, DST)

    val fw = forwardPhase(g, cfg) match {
      case None =>
        import spark.implicits._
        return Seq.empty[(Long, Long, Double)].toDF(SRC, DST, "bc")
      case Some(f) => f
    }
    val Forward(visited, depth, kUsed, n, verts) = fw

    // Same k·n broadcast bound as [[runImpl]]'s backward phase.
    val bcast = kUsed * n * 48L < (64L << 20)
    var level = Lineage.materialize(
      visited.df.filter(col("dist") === depth)
        .select(col("s"), col("v"), col("sigma"), lit(0.0).as("delta")))
    val acc = scala.collection.mutable.ArrayBuffer[Lineage.Handle](level)
    val edgeAcc = scala.collection.mutable.ArrayBuffer[Lineage.Handle]()

    val revBase = edges.select(col(DST).as("w"), col(SRC).as("v"))
    val rev =
      if (bcast) revBase
      else revBase.repartition(p, col("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    var d = depth - 1
    while (d >= 0) {
      val vAtD = visited.df.filter(col("dist") === d)
        .select(col("s"), col("v"), col("sigma"))
      val lsel = level.df
        .select(col("s"), col("v").as("w"), col("sigma").as("sw"),
          col("delta").as("dw"))
      val vsel = vAtD.select(col("s"), col("v"), col("sigma").as("sv"))
      // Per-(s, arc) term — the edge credit itself.
      val arcTerms = Lineage.materialize(
        (if (bcast) rev.join(broadcast(lsel), Seq("w"))
            .join(broadcast(vsel), Seq("s", "v"))
          else lsel.join(rev, Seq("w")).join(vsel, Seq("s", "v")))
          .select(col("s"), col("v"), col("w"),
            (col("sv") / col("sw") * (lit(1.0) + col("dw"))).as("t")))
      edgeAcc += arcTerms
      val terms = arcTerms.df
        .groupBy(col("s"), col("v"))
        .agg(sum("t").as("delta"))
      val nextLevel = Lineage.materialize(
        vAtD.join(if (bcast) broadcast(terms) else terms,
            Seq("s", "v"), "left")
          .select(col("s"), col("v"), col("sigma"),
            coalesce(col("delta"), lit(0.0)).as("delta")))
      acc += nextLevel
      level = nextLevel
      d -= 1
    }

    // Reference edge rescale: normalized → 1/(n(n−1)), NO n/k
    // (betweenness_centrality.cu:90 comments the source rescale out);
    // unnormalized undirected → × 1/2.
    val factor: Double =
      if (cfg.normalized) {
        if (n > 1) 1.0 / (n.toDouble * (n - 1.0)) else 1.0
      } else {
        if (!g.directed) 0.5 else 1.0
      }

    val credits = edgeAcc.map(_.df.select(col("v"), col("w"), col("t")))
      .reduceOption(_ union _)
    val summed = credits.map(
      _.groupBy(col("v").as(SRC), col("w").as(DST))
        .agg(sum("t").as("t0")))
    val out = Lineage.materialize(
      summed match {
        case Some(sdf) =>
          edges.distinct().join(sdf.hint("shuffle_hash"),
              Seq(SRC, DST), "left")
            .select(col(SRC), col(DST),
              (coalesce(col("t0"), lit(0.0)) * factor).as("bc"))
        case None =>
          edges.distinct()
            .select(col(SRC), col(DST), lit(0.0).as("bc"))
      })

    acc.foreach(_.release())
    edgeAcc.foreach(_.release())
    if (!bcast) rev.unpersist()
    visited.release()
    verts.release()
    out.df
  }
}
