package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * Spectral balanced-cut bipartition (reference
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:818-849`
 * spectral*Clustering, legacy impl
 * `cpp/src/community/legacy/spectral_clustering.cu`): the k = 2
 * instance — split by the sign of the FIEDLER VECTOR (second-smallest
 * eigenvector of the graph Laplacian L = D − W), the canonical
 * spectral cut. The reference runs a Lanczos eigensolver; the
 * Spark-native equivalent is DEFLATED POWER ITERATION on the spectral
 * shift σI − L (σ = 2·max weighted degree ≥ λmax by Gershgorin):
 *
 *   y(v) = (σ − d(v))·x(v) + Σ_u w(v,u)·x(u)   — one superstep join
 *   x'   = (y − mean(y)) / ‖y − mean(y)‖₂      — deflates the trivial
 *                                                constant eigenvector
 *
 * which converges to the eigenvector of σ − λ₂, i.e. the Fiedler
 * vector. Each iteration is the PageRank superstep shape: one
 * co-partitioned state⋈edges join, one message reduce (the only
 * E-sized shuffle, map-side combined) plus two scalar aggregates.
 *
 * Determinism: x₀(v) = md5-hash(seed:v) mapped to [−0.5, 0.5) — a
 * splittable counter init, identical on any partitioning and
 * reproducible in SQL. Fixed `iterations` (no convergence test) keeps
 * the computation bit-comparable against the recursive-CTE oracle up
 * to last-ulp float noise, absorbed by micro rounding.
 *
 * Expects an undirected (symmetrized, deduped) graph.
 * Returns (id, fiedler_micro, cluster ∈ {0, 1}).
 */
object Spectral {

  final case class Config(iterations: Int = 20, seed: Long = 42L)

  def fiedlerCut(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): DataFrame = {
    val p = g.numPartitions
    val edges = g.edges

    // Weighted degrees; undirected input => every vertex appears as src.
    val deg = Lineage.materialize(
      edges.groupBy(col(SRC).as(ID)).agg(sum(WEIGHT).as("d"))
        .repartition(p, col(ID)),
      eager = false)
    val sigma = 2.0 * deg.df.agg(max("d")).head().getDouble(0)

    // x0: md5 counter hash -> [-0.5, 0.5)
    val h01 = pmod(conv(substring(
      md5(concat_ws(":", lit(cfg.seed), col(ID))), 1, 8), 16, 10)
      .cast("long"), lit(1000000L)) / 1000000.0
    // ONE action per iteration: only the y frame is ever materialized
    // (by its own stats pass); x stays a LAZY centered/normalized
    // projection over the cached y — constant plan depth, partitioning
    // preserved, and the explicit next.count() job the old loop paid
    // per iteration disappears (2 → 1 jobs/iter, the dominant cost of
    // the halved subproblems in the k-way recursion).
    var x: DataFrame = deg.df.select(col(ID), col("d"), (h01 - 0.5).as("x"))
    var yPrev: Option[Lineage.Handle] = None

    for (_ <- 1 to cfg.iterations) {
      val msgs = edges
        .join(x.select(col(ID), col("x")).hint("shuffle_hash"),
          edges(SRC) === col(ID))
        .select(col(DST), (col(WEIGHT) * col("x")).as("m"))
        .groupBy(DST).agg(sum("m").as("m"))
      val xq = x.as("xq")
      val y = xq.join(msgs.hint("shuffle_hash"),
          col(s"xq.$ID") === msgs(DST), "left")
        .select(col(s"xq.$ID").as(ID), col(s"xq.d").as("d"),
          ((lit(sigma) - col(s"xq.d")) * col(s"xq.x")
            + coalesce(col("m"), lit(0.0))).as("y"))
      val yH = Lineage.materialize(y, eager = false)
      // One scalar pass: mu and the centered norm via
      // ||y - mu||^2 = sum(y^2) - n*mu^2 (the oracle mirrors this
      // exact algebraic form, so both engines share the same float
      // path up to sum-order noise absorbed by micro rounding). This
      // agg is ALSO the job that materializes yH.
      val stats = yH.df
        .agg(avg("y"), count(lit(1)), sum(col("y") * col("y"))).head()
      val mu = stats.getDouble(0)
      val norm = math.sqrt(stats.getDouble(2) - stats.getLong(1) * mu * mu)
      x = yH.df.select(col(ID), col("d"), ((col("y") - mu) / norm).as("x"))
      yPrev.foreach(_.release())
      yPrev = Some(yH)
    }

    val out = Lineage.materialize(
      x.select(col(ID),
        round(col("x") * 1e6, 0).cast("long").as("fiedler_micro"),
        when(col("x") > 0, 1L).otherwise(0L).as("cluster")))
    yPrev.foreach(_.release())
    deg.release()
    out.df
  }

  /**
   * Spectral MODULARITY MAXIMIZATION bipartition (reference
   * `spectralModularityMaximization`,
   * `/root/reference/cpp/include/cugraph/algorithms.hpp:849-875`,
   * legacy impl `cpp/src/community/legacy/spectral_clustering.cu`):
   * split by the sign of the LEADING eigenvector of the modularity
   * matrix B = W − k·kᵀ/2m (Newman 2006), instead of the Laplacian's
   * Fiedler vector. Same deflated power iteration machinery as
   * [[fiedlerCut]], shifted to σI + B (σ = 2·max weighted degree ≥
   * ‖B‖: ‖W‖ ≤ max d and ‖k·kᵀ‖/2m = Σd²/2m ≤ max d):
   *
   *   y(v) = σ·x(v) + Σ_u w(v,u)·x(u) − d(v)·(S/W),  S = Σ_u d(u)·x(u)
   *   x'   = (y − mean(y)) / ‖y − mean(y)‖₂
   *
   * — one superstep join + message reduce plus TWO scalar passes (S
   * on the current vector, then mean/norm on y); the centering
   * deflates the constant vector (a B-eigenvector with eigenvalue 0),
   * so the iteration converges to B's leading non-trivial eigenvector.
   * Same determinism/oracle-parity contract as [[fiedlerCut]].
   *
   * Returns (id, mod_micro, cluster ∈ {0, 1}).
   */
  def modularityCut(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runModImpl(_, cfg))

  private def runModImpl(g: LinkGraph, cfg: Config): DataFrame = {
    val p = g.numPartitions
    val edges = g.edges

    val deg = Lineage.materialize(
      edges.groupBy(col(SRC).as(ID)).agg(sum(WEIGHT).as("d"))
        .repartition(p, col(ID)),
      eager = false)
    val dstats = deg.df.agg(max("d"), sum("d")).head()
    val sigma = 2.0 * dstats.getDouble(0)
    val totalW = dstats.getDouble(1) // = 2m on the symmetric table

    val h01 = pmod(conv(substring(
      md5(concat_ws(":", lit(cfg.seed), col(ID))), 1, 8), 16, 10)
      .cast("long"), lit(1000000L)) / 1000000.0
    // Same lazy-x scheme as [[fiedlerCut]]: only y materializes (via
    // the stats pass); x is a projection over the cached y. The S
    // pass stays a separate scalar agg on x — computing it
    // algebraically from the y stats would change the float path the
    // SQL oracle mirrors. 2 jobs/iter (was 3).
    var x: DataFrame = deg.df.select(col(ID), col("d"), (h01 - 0.5).as("x"))
    var yPrev: Option[Lineage.Handle] = None

    for (_ <- 1 to cfg.iterations) {
      // S = k·x on the CURRENT vector (one scalar pass; reads the
      // cached y underneath the projection).
      val s = x.agg(sum(col("d") * col("x"))).head().getDouble(0)
      val msgs = edges
        .join(x.select(col(ID), col("x")).hint("shuffle_hash"),
          edges(SRC) === col(ID))
        .select(col(DST), (col(WEIGHT) * col("x")).as("m"))
        .groupBy(DST).agg(sum("m").as("m"))
      val xq = x.as("xq")
      val y = xq.join(msgs.hint("shuffle_hash"),
          col(s"xq.$ID") === msgs(DST), "left")
        .select(col(s"xq.$ID").as(ID), col(s"xq.d").as("d"),
          (lit(sigma) * col(s"xq.x") - col(s"xq.d") * lit(s / totalW)
            + coalesce(col("m"), lit(0.0))).as("y"))
      val yH = Lineage.materialize(y, eager = false)
      val stats = yH.df
        .agg(avg("y"), count(lit(1)), sum(col("y") * col("y"))).head()
      val mu = stats.getDouble(0)
      val norm = math.sqrt(stats.getDouble(2) - stats.getLong(1) * mu * mu)
      x = yH.df.select(col(ID), col("d"), ((col("y") - mu) / norm).as("x"))
      yPrev.foreach(_.release())
      yPrev = Some(yH)
    }

    val out = Lineage.materialize(
      x.select(col(ID),
        round(col("x") * 1e6, 0).cast("long").as("mod_micro"),
        when(col("x") > 0, 1L).otherwise(0L).as("cluster")))
    yPrev.foreach(_.release())
    deg.release()
    out.df
  }

  /** k-way modularity maximization by recursive bisection on
   * [[modularityCut]] — the same range-assignment recursion
   * [[balancedCut]] uses (the reference's n_clusters > 2 path runs
   * k eigenpairs + kmeans on device; recursive sign splits are the
   * superstep-shaped analog). Returns (id, cluster ∈ [0, k)). */
  def modularityMaximization(
      g0: LinkGraph, k: Int, cfg: Config = Config()): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.core.SparkTuning.withGraph(g0) { g =>
      val pinned = scala.collection.mutable.ArrayBuffer[LinkGraph]()
      val out = Lineage.materialize(
        clusterRec(g, g.vertices, k, 0L, cfg, pinned,
          (sg, c) => modularityCut(sg, c)))
      pinned.foreach(_.unpersist())
      out.df
    }
  }

  /**
   * k-way balanced cut by RECURSIVE FIEDLER BISECTION (reference
   * `spectralBalancedCutClustering` for arbitrary n_clusters,
   * `/root/reference/cpp/include/cugraph/algorithms.hpp:818-849`;
   * the reference recurses its eigensolver the same way the legacy
   * `spectral_clustering.cu` splits): split by [[fiedlerCut]], assign
   * the x<=0 side the label range [base, base+k/2) and the x>0 side
   * [base+k/2, base+k), recurse on the induced subgraphs until each
   * range is a single label. Deterministic: every level reuses the
   * same seeded counter init on its (smaller) vertex set.
   *
   * Returns (id, cluster) with cluster ∈ [0, k).
   */
  /** `rootCut`: an optional precomputed top-level Fiedler bipartition
   * of `g0` under the same `cfg` (e.g. the frame a sibling fiedlerCut
   * query already published). The recursion's FIRST cut call is
   * always the root graph, so substituting it is exact — the induced
   * halves still run their own power iterations. */
  def balancedCut(
      g0: LinkGraph,
      k: Int,
      cfg: Config = Config(),
      rootCut: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.core.SparkTuning.withGraph(g0) { g =>
      // The recursion caches each induced subgraph; all of them must
      // stay pinned until the FINAL frame materializes (the per-level
      // labels are lazy views over them), then be dropped together.
      val pinned = scala.collection.mutable.ArrayBuffer[LinkGraph]()
      val rootPending = new java.util.concurrent.atomic.AtomicBoolean(
        rootCut.isDefined)
      val out = Lineage.materialize(
        clusterRec(g, g.vertices, k, 0L, cfg, pinned,
          (sg, c) =>
            if (rootPending.compareAndSet(true, false)) rootCut.get
            else fiedlerCut(sg, c)))
      pinned.foreach(_.unpersist())
      out.df
    }
  }

  private def clusterRec(
      g: LinkGraph,
      verts: DataFrame,
      k: Int,
      base: Long,
      cfg: Config,
      pinned: scala.collection.mutable.ArrayBuffer[LinkGraph],
      cutFn: (LinkGraph, Config) => DataFrame): DataFrame = {
    if (k == 1 || g.edges.isEmpty)
      return verts.select(col(ID), lit(base).as("cluster"))
    val cut = cutFn(g, cfg)
    // Vertices absent from the cut (isolated within this subgraph)
    // deterministically join the low side.
    val sides = verts
      .join(cut.select(col(ID), col("cluster").as("side")), Seq(ID), "left")
      .select(col(ID), coalesce(col("side"), lit(0L)).as("side"))
    val kLow = k / 2
    val kHigh = k - kLow
    val lowVerts = sides.filter(col("side") === 0L).select(ID)
    val highVerts = sides.filter(col("side") === 1L).select(ID)
    def sub(vs: DataFrame): LinkGraph = {
      val s = LinkGraph(
        LinkGraph.partitioned(g.inducedSubgraph(vs).edges, g.numPartitions),
        directed = false, g.numPartitions).cached()
      pinned.synchronized { pinned += s }
      s
    }
    // The two sides are independent power iterations over disjoint
    // induced subgraphs — run them CONCURRENTLY (each is superstep-
    // latency-bound; a cached pool bounds threads by the ≤ k leaves,
    // and the enclosing withGraph scope makes the nested ones
    // restore-safe). Deterministic: each side is a pure function of
    // its own vertex set and seed.
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futLow = scala.concurrent.Future(
        clusterRec(sub(lowVerts), lowVerts, kLow, base, cfg, pinned, cutFn))
      val futHigh = scala.concurrent.Future(
        clusterRec(sub(highVerts), highVerts, kHigh, base + kLow,
          cfg, pinned, cutFn))
      val low = scala.concurrent.Await.result(futLow,
        scala.concurrent.duration.Duration.Inf)
      val high = scala.concurrent.Await.result(futHigh,
        scala.concurrent.duration.Duration.Inf)
      low.union(high)
    } finally pool.shutdown()
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
