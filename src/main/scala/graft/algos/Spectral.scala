package graft.algos

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph, SparkTuning, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Spectral cuts (the reference's spectral*Clustering and
 * spectralModularityMaximization,
 * `cpp/include/cugraph/algorithms.hpp:818-875`, legacy impl
 * `cpp/src/community/legacy/spectral_clustering.cu`), split by the sign
 * of one eigenvector. The reference runs a Lanczos eigensolver; the
 * Spark-native equivalent is ONE deflated power iteration, run under
 * two spectral shifts (σ = 2·max weighted degree):
 *
 *   x'   = (y − mean(y)) / ‖y − mean(y)‖₂   — deflates the constant
 *                                            eigenvector
 *
 *   - [[fiedlerCut]], the balanced cut: y on σI − L for the Laplacian
 *     L = D − W (σ ≥ λmax by Gershgorin),
 *       y(v) = (σ − d(v))·x(v) + Σ_u w(v,u)·x(u),
 *     which converges to the eigenvector of σ − λ₂: the FIEDLER vector;
 *   - [[modularityCut]]: y on σI + B for the modularity matrix
 *     B = W − k·kᵀ/2m (Newman 2006; σ ≥ ‖B‖, as ‖W‖ ≤ max d and
 *     Σd²/2m ≤ max d),
 *       y(v) = σ·x(v) + Σ_u w(v,u)·x(u) − d(v)·(S/W),  S = Σ_u d(u)·x(u),
 *     B's leading non-trivial eigenvector (the constant vector is a
 *     B-eigenvector with eigenvalue 0, and the centering removes it).
 *
 * The iteration runs on disjoint PARTS of the graph at once, each its
 * own eigenproblem: edges inside a part only, and per-part σ, W, S,
 * mean and norm. The k = 2 cuts are the one-part case; the k-way cuts
 * run one iteration per recursion level ([[balancedCut]]). The loop is
 * [[graft.core.Superstep]]: the state (id, part, d, y) is the
 * materialized y; x is a lazy projection of it from the carried means
 * and norms, and Σ_u w(v,u)·x(u) is [[Superstep.messages]] joined back
 * by [[Superstep.receive]] (a vertex is in one part, so the reduce by
 * dst needs no part key). The scalars enter the step as map literals
 * keyed by part. Per iteration: one job for the Fiedler cut (the
 * mean/norm pass, which also fills y's cache), two for the modularity
 * cut (S on the current x first: computing it algebraically from the y
 * stats would change the float path the SQL oracle mirrors).
 *
 * Determinism: x₀(v) = md5-hash(seed:v) mapped to [−0.5, 0.5) — a
 * splittable counter init, identical on any partitioning and
 * reproducible in SQL. Fixed `iterations` (no convergence test) keeps
 * the computation bit-comparable against the recursive-CTE oracle up
 * to last-ulp float noise, absorbed by micro rounding.
 *
 * Expects an undirected (symmetrized, deduped) graph. An empty edge
 * table gives an empty result.
 */
object Spectral {

  final case class Config(iterations: Int = 20, seed: Long = 42L)

  private val PART = "part"
  private val K = "k"

  /** y's expression in x, d and the message sum m, given the current
   * vector (id, part, d, x) and each part's σ and W. */
  private type Shift =
    (DataFrame, Map[Long, Double], Map[Long, Double]) => (Column, Column, Column) => Column

  private val fiedler: Shift =
    (_, sigma, _) => (x, d, m) => (byPart(sigma) - d) * x + m

  private val modularity: Shift = (xs, sigma, totalW) => {
    // S = k·x per part on the current vector: reads the cached y underneath.
    val sOverW = perPart(xs, sum(col("d") * col("x")))
      .map(r => r.getLong(0) -> r.getDouble(1) / totalW(r.getLong(0))).toMap
    (x, d, m) => byPart(sigma) * x - d * byPart(sOverW) + m
  }

  /** A per-part scalar at the row's part. */
  private def byPart(v: Map[Long, Double]): Column = element_at(typedLit(v), col(PART))

  /** `aggs` per part of `df`, collected: the few parts' rows meet in
   * one reducer task, as a global aggregate's do. */
  private def perPart(df: DataFrame, aggs: Column*): Array[Row] =
    df.groupBy(PART).agg(aggs.head, aggs.tail: _*).coalesce(1).collect()

  /** Fiedler-vector bipartition: (id, fiedler_micro, cluster ∈ {0, 1}). */
  def fiedlerCut(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    SparkTuning.withGraph(g0)(g =>
      powerCut(g, g.edges.withColumn(PART, lit(0L)), cfg, "fiedler_micro", fiedler).df)

  /** Modularity bipartition: (id, mod_micro, cluster ∈ {0, 1}). */
  def modularityCut(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    SparkTuning.withGraph(g0)(g =>
      powerCut(g, g.edges.withColumn(PART, lit(0L)), cfg, "mod_micro", modularity).df)

  /**
   * The deflated power iteration under one shift, on every part of
   * `edges` (src, dst, weight, part; both ends in the part, hash-
   * partitioned by src) at once. Returns the cached
   * (id, `micro`, cluster): round(x·1e6) and the sign of x, for every
   * vertex with an edge in its part.
   */
  private def powerCut(
      g: LinkGraph, edges: DataFrame, cfg: Config, micro: String, shift: Shift)
      : Lineage.Handle = {
    // Weighted degrees; undirected input => every vertex appears as src.
    val deg = Lineage.materialize(
      edges.groupBy(col(SRC).as(ID), col(PART)).agg(sum(WEIGHT).as("d"))
        .repartition(g.numPartitions, col(ID)),
      eager = false)
    val dstats = perPart(deg.df, max("d"), sum("d"))
    val sigma = dstats.map(r => r.getLong(0) -> 2.0 * r.getDouble(1)).toMap
    val totalW = dstats.map(r => r.getLong(0) -> r.getDouble(2)).toMap // = 2m

    // y₀ = x₀: md5 counter hash -> [-0.5, 0.5); mu = 0 and norm = 1
    // project it to itself.
    val h01 = pmod(conv(substring(
      md5(concat_ws(":", lit(cfg.seed), col(ID))), 1, 8), 16, 10)
      .cast("long"), lit(1000000L)) / 1000000.0
    var mu = sigma.map(_._1 -> 0.0)
    var norm = sigma.map(_._1 -> 1.0)
    def vector(y: DataFrame): DataFrame =
      y.select(col(ID), col(PART), col("d"),
        ((col("y") - byPart(mu)) / byPart(norm)).as("x"))

    val r = Superstep.run(g, "spectral", cfg.iterations)(
      deg.df.select(col(ID), col(PART), col("d"), (h01 - 0.5).as("y")),
      step = (y, _) => {
        val xs = vector(y)
        val yOf = shift(xs, sigma, totalW)
        val msgs = Superstep.messages(edges, xs.select(col(ID), col("x")),
          col(WEIGHT) * col("x"), sum)
        Superstep.receive(xs, msgs)
          .select(xs(ID), xs(PART), xs("d"),
            yOf(xs("x"), xs("d"), coalesce(col("m"), lit(0.0))).as("y"))
      },
      check = (y, _) => {
        // One scalar pass: each part's mu and centered norm via
        // ||y - mu||^2 = sum(y^2) - n*mu^2 (the oracle mirrors this
        // exact algebraic form, so both engines share the same float
        // path up to sum-order noise absorbed by micro rounding).
        val stats = perPart(y, avg("y"), count(lit(1)), sum(col("y") * col("y")))
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
        mu = stats.map(s => s._1 -> s._2).toMap
        norm = stats.map { case (part, m, n, sq) => part -> math.sqrt(sq - n * m * m) }.toMap
        (false, Map.empty)
      })

    val out = Lineage.materialize(
      vector(r.state.df).select(col(ID),
        round(col("x") * 1e6, 0).cast("long").as(micro),
        when(col("x") > 0, 1L).otherwise(0L).as("cluster")))
    r.state.release()
    deg.release()
    out
  }

  /** k-way modularity maximization by recursive bisection on
   * [[modularityCut]], in [[balancedCut]]'s level loop (the reference's
   * n_clusters > 2 path runs k eigenpairs + kmeans on device; recursive
   * sign splits are the superstep-shaped analog).
   * Returns (id, cluster ∈ [0, k)). */
  def modularityMaximization(
      g0: LinkGraph, k: Int, cfg: Config = Config()): DataFrame =
    recursiveCut(g0, k, cfg, modularity, None)

  /**
   * k-way balanced cut by RECURSIVE FIEDLER BISECTION (reference
   * `spectralBalancedCutClustering` for arbitrary n_clusters,
   * `cpp/include/cugraph/algorithms.hpp:818-849`; the legacy
   * `spectral_clustering.cu` splits the same way). Each vertex carries
   * the label range [base, base + k) it is still to be cut into, its
   * part keyed by base; all start in (0, k). Each recursion LEVEL is one
   * power iteration over the edges inside the parts with k ≥ 2: side 0
   * (x ≤ 0) of (base, k) becomes (base, ⌊k/2⌋), side 1 becomes
   * (base + ⌊k/2⌋, k − ⌊k/2⌋). A vertex the cut misses (no edge inside
   * its part) joins side 0, so a part with no internal edges stays at
   * its base. Any k takes ⌈log₂ k⌉ levels. Deterministic: every part
   * reuses the same seeded counter init on its own vertex set.
   *
   * `rootCut`: an optional precomputed top-level Fiedler bipartition of
   * `g0` under the same `cfg` (e.g. the frame a sibling fiedlerCut query
   * already published); it replaces the first level's cut, which is the
   * one-part cut of the whole graph.
   *
   * Returns (id, cluster) with cluster ∈ [0, k).
   */
  def balancedCut(
      g0: LinkGraph,
      k: Int,
      cfg: Config = Config(),
      rootCut: Option[DataFrame] = None): DataFrame =
    recursiveCut(g0, k, cfg, fiedler, rootCut)

  private def recursiveCut(
      g0: LinkGraph, k: Int, cfg: Config, shift: Shift, rootCut: Option[DataFrame])
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    SparkTuning.withGraph(g0) { g =>
      val p = g.numPartitions
      var ranges = Lineage.materialize(g.vertices.repartition(p, col(ID))
        .select(col(ID), lit(0L).as(PART), lit(k.toLong).as(K)), eager = false)
      // ⌈log₂ k⌉ levels: every part's k halves, rounding up, per level.
      for (level <- 0 until 32 - Integer.numberOfLeadingZeros(k - 1)) {
        val cut = if (level == 0 && rootCut.isDefined) None else {
          val active = ranges.df.filter(col(K) > 1)
          val edges = Lineage.materialize(LinkGraph.partitioned(g.edges
              .join(active.select(col(ID).as(SRC), col(PART)), Seq(SRC))
              .join(active.select(col(ID).as(DST), col(PART)), Seq(DST, PART))
              .select(SRC, DST, WEIGHT, PART), p),
            eager = false)
          try Some(powerCut(g, edges.df, cfg, "micro", shift)) finally edges.release()
        }
        val sides = cut.fold(rootCut.get)(_.df).select(col(ID), col("cluster"))
        val high = col("cluster") === 1L // null where the cut missed the vertex
        val half = floor(col(K) / 2)
        val next = Lineage.materialize(ranges.df.join(sides, Seq(ID), "left")
          .select(col(ID),
            when(high, col(PART) + half).otherwise(col(PART)).as(PART),
            when(high, col(K) - half).otherwise(greatest(half, lit(1L))).as(K)))
        ranges.release()
        cut.foreach(_.release())
        ranges = next
      }
      ranges.df.select(col(ID), col(PART).as("cluster"))
    }
  }

  /** Clustering quality metrics, the reference's analyzeClustering_*
   * family (`algorithms.hpp:849-919`): modularity, edge cut (total
   * weight of inter-cluster edges, each undirected edge once), and
   * ratio cut (Σ_c cut(c)/|c|). One labeled-edge pass each over the
   * symmetric edge table. `labels`: (id, cluster). */
  final case class ClusteringMetrics(
      modularity: Double, edgeCut: Double, ratioCut: Double)

  def analyzeClustering(g: LinkGraph, labels: DataFrame): ClusteringMetrics = {
    val lab = labels.select(col(ID), col("cluster"))
    val annotated = g.edges
      .join(lab.select(col(ID).as(SRC), col("cluster").as("ls")), Seq(SRC))
      .join(lab.select(col(ID).as(DST), col("cluster").as("ld")), Seq(DST))
    // Symmetric table stores each undirected edge twice -> halve.
    val cutRow = annotated.filter(col("ls") =!= col("ld"))
      .agg(sum(WEIGHT)).head()
    val edgeCut = (if (cutRow.isNullAt(0)) 0.0 else cutRow.getDouble(0)) / 2.0
    // ratio cut: per-cluster outgoing cut weight (symmetric table
    // counts each inter-edge once per direction = once per side).
    val perCluster = annotated
      .groupBy(col("ls").as("cluster"))
      .agg(sum(when(col("ls") =!= col("ld"), col(WEIGHT))
        .otherwise(lit(0.0))).as("cut"))
    val sizes = lab.groupBy("cluster").agg(count(lit(1)).as("n"))
    val ratioRow = sizes.join(perCluster, Seq("cluster"), "left")
      .agg(sum(coalesce(col("cut"), lit(0.0)) / col("n"))).head()
    val ratioCut = if (ratioRow.isNullAt(0)) 0.0 else ratioRow.getDouble(0)
    val vw = g.outWeightSums.select(col(ID), col("out_weight").as("kk"))
    val totalW = g.edges.agg(sum(WEIGHT)).head().getDouble(0)
    val q = Louvain.modularity(
      g.edges, lab.select(col(ID), col("cluster").as("lbl")), vw, totalW, 1.0)
    ClusteringMetrics(q, edgeCut, ratioCut)
  }
}
