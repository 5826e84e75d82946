package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph, SparkTuning}
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
 * not per source. Forward: [[Bfs.levels]], the tagged frontier that
 * `Bfs.multiSource` runs too, with σ as the message, summed by
 * (source, dst) (map-side combinable; the visited anti-join is
 * co-partitioned on (source, v)). Backward: one walk for [[run]] and
 * [[runEdges]], one join per depth level from the deepest layer down,
 * each arc's term σ_v/σ_w·(1+δ_w) kept and summed per (s, v) into the
 * next level (TERM-WISE, so the SQL oracle reproduces the identical
 * float arithmetic); [[run]] reads the levels' δ, [[runEdges]] the
 * arc terms.
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

  /** The backward walk both accumulations read. Each level's job
   * fills the cache of its arc terms, which [[runEdges]] reads again
   * (measured at sf0.1: recomputing them there is slower than keeping
   * them, and keeping them does not slow [[run]]). `bcast`: its k·n-row
   * frames fit the broadcast bound. */
  private final case class Walk(
      levels: Seq[Lineage.Handle], // (s, v, sigma, delta), deepest first
      arcTerms: Seq[Lineage.Handle], // (s, v, w, t), t = σ_v/σ_w·(1 + δ_w)
      forward: Lineage.Handle, // (source, id, distance, m = σ)
      verts: Lineage.Handle,
      kUsed: Long,
      n: Long,
      bcast: Boolean) {
    def release(): Unit =
      (levels ++ arcTerms :+ forward :+ verts).foreach(_.release())
  }

  private def walk(g: LinkGraph, cfg: Config, bcastBytes: Long): Option[Walk] = {
    val spark = g.spark
    val verts = Lineage.materialize(
      g.vertices.repartition(g.numPartitions, col(ID)), eager = false)
    val n = verts.df.count()
    if (n == 0) { verts.release(); return None }

    val sources: DataFrame = cfg.sources match {
      case Some(list) =>
        import spark.implicits._
        list.toDF("source")
      case None =>
        // k smallest md5(seed:v): deterministic, partition-independent.
        verts.df
          .withColumn("__h", md5(concat_ws(":", lit(cfg.seed), col(ID))))
          .orderBy(col("__h"), col(ID)).limit(cfg.k)
          .select(col(ID).as("source"))
    }
    val kUsed = sources.count()

    // Forward: σ per (s, v), one level per superstep. The last superstep
    // of a converged run found no new vertex.
    val fw = Bfs.levels(g, "betweenness", cfg.maxDepth, sources,
      init = lit(1.0), msg = col("m"), reduce = sum)
    val depth = if (fw.converged) fw.iterations - 1 else fw.iterations
    val visited = fw.state.df.select(col("source").as("s"), col(ID).as("v"),
      col("distance").as("dist"), col("m").as("sigma"))

    // Every per-level frame is bounded by kUsed·n rows ((source,
    // vertex) keys): when that fits a broadcast (guide §3.1) the
    // per-level frames broadcast into the arc join (see [[arcs]]) and
    // the term reduce's partial aggregation is the level's only
    // exchange. Past the bound every join shuffles.
    val bcast = kUsed * n * 48L < bcastBytes
    val rev = arcs(g, bcast)
    val levels = scala.collection.mutable.ArrayBuffer(Lineage.materialize(
      visited.filter(col("dist") === depth)
        .select(col("s"), col("v"), col("sigma"), lit(0.0).as("delta"))))
    val arcTerms = scala.collection.mutable.ArrayBuffer[Lineage.Handle]()
    for (d <- depth - 1 to 0 by -1) {
      val vAtD = visited.filter(col("dist") === d)
        .select(col("s"), col("v"), col("sigma"))
      val lsel = levels.last.df
        .select(col("s"), col("v").as("w"), col("sigma").as("sw"),
          col("delta").as("dw"))
      val vsel = vAtD.select(col("s"), col("v"), col("sigma").as("sv"))
      val t = Lineage.materialize(
        (if (bcast) rev.join(broadcast(lsel), Seq("w"))
            .join(broadcast(vsel), Seq("s", "v"))
          else lsel.join(rev, Seq("w")).join(vsel, Seq("s", "v")))
          .select(col("s"), col("v"), col("w"),
            (col("sv") / col("sw") * (lit(1.0) + col("dw"))).as("t")),
        eager = false)
      arcTerms += t
      val terms = t.df.groupBy(col("s"), col("v")).agg(sum("t").as("delta"))
      levels += Lineage.materialize(vAtD
        .join(if (bcast) broadcast(terms) else terms, Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta")))
    }
    Some(Walk(levels.toSeq, arcTerms.toSeq, fw.state, verts, kUsed, n, bcast))
  }

  /** The backward join's arcs, (w, v) for every edge v → w, keyed by
   * the head w that each level joins on. Under the broadcast bound the
   * levels broadcast, so the cached forward table streams past them in
   * place; past it the graph's by-dst layout is already partitioned on
   * w, and no level re-shuffles the edge table. */
  private def arcs(g: LinkGraph, bcast: Boolean): DataFrame =
    if (bcast) g.edges.select(col(DST).as("w"), col(SRC).as("v"))
    else g.transposed.select(col(SRC).as("w"), col(DST).as("v"))

  /** Returns (id, bc). */
  def run(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    SparkTuning.withGraph(g0)(runImpl(_, cfg))

  /** `bcastBytes`: the walk's frames are broadcast while k·n times 48
   * bytes comes to less than this; tests pass 0 to run the shuffled
   * plan. */
  private[graft] def runImpl(g: LinkGraph, cfg: Config,
      bcastBytes: Long = SparkTuning.BroadcastBytes): DataFrame = {
    val spark = g.spark
    val w = walk(g, cfg, bcastBytes) match {
      case Some(w) => w
      case None =>
        import spark.implicits._
        return Seq.empty[(Long, Double)].toDF(ID, "bc")
    }
    val n = w.n
    val factor: Double =
      if (cfg.normalized) {
        val base = if (n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0
        // rescale_by_total_sources_used (betweenness_centrality.cu:434):
        // × n/k for sampled sources.
        if (n > 2 && w.kUsed > 0) base * (n.toDouble / w.kUsed) else base
      } else {
        if (!g.directed) 0.5 else 1.0
      }

    val dAgg = w.levels.map(_.df.select(col("s"), col("v"), col("delta")))
      .reduce(_ union _)
      .filter(col("v") =!= col("s"))
      .groupBy(col("v")).agg(sum("delta").as("d0"))
      .withColumnRenamed("v", ID)
    val bc = Lineage.materialize(
      w.verts.df.join(
          if (w.bcast) broadcast(dAgg) else dAgg.hint("shuffle_hash"),
          Seq(ID), "left")
        .select(col(ID),
          (coalesce(col("d0"), lit(0.0)) * factor).as("bc")))

    w.release()
    bc.df
  }

  /** Edge betweenness: (src, dst, bc) for every ARC of the input edge
   * table (zero-filled), reference `edge_betweenness_centrality`. */
  def runEdges(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    SparkTuning.withGraph(g0)(runEdgesImpl(_, cfg))

  private[graft] def runEdgesImpl(g: LinkGraph, cfg: Config,
      bcastBytes: Long = SparkTuning.BroadcastBytes): DataFrame = {
    val spark = g.spark
    val edges = g.edges.select(SRC, DST)
    val w = walk(g, cfg, bcastBytes) match {
      case Some(w) => w
      case None =>
        import spark.implicits._
        return Seq.empty[(Long, Long, Double)].toDF(SRC, DST, "bc")
    }

    // Reference edge rescale: normalized → 1/(n(n−1)), NO n/k
    // (betweenness_centrality.cu:90 comments the source rescale out);
    // unnormalized undirected → × 1/2.
    val n = w.n
    val factor: Double =
      if (cfg.normalized) {
        if (n > 1) 1.0 / (n.toDouble * (n - 1.0)) else 1.0
      } else {
        if (!g.directed) 0.5 else 1.0
      }

    val summed = w.arcTerms.map(_.df.select(col("v"), col("w"), col("t")))
      .reduceOption(_ union _)
      .map(_.groupBy(col("v").as(SRC), col("w").as(DST)).agg(sum("t").as("t0")))
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

    w.release()
    out.df
  }
}
