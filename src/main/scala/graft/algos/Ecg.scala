package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * ECG — ensemble clustering for graphs (reference
 * `/root/reference/cpp/src/community/legacy/ecg.cu`, API
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:716`):
 *
 *   1. run `ensembleSize` one-level Louvain passes, each over a
 *      RANDOMIZED view of the graph — the reference permutes the
 *      sequential visiting order; our synchronous Louvain has no
 *      visit order, so the equivalent randomization is a seeded
 *      BIJECTIVE RELABELING of the vertex ids (labels drive every
 *      tie-break and the up/down move gate, so each relabeling
 *      explores a different local-max basin). The relabeling is the
 *      usual splittable counter hash — md5(seed:run:id), 60 bits —
 *      identical across partitionings and reproducible in SQL.
 *   2. per edge, count co-memberships across the ensemble (votes);
 *      re-weight: w' = minWeight + (1 − minWeight)·votes/k
 *      (reference ecg.cu update_functor).
 *   3. final full Louvain on the re-weighted graph.
 *
 * Each ensemble member costs one Louvain level on a relabeled edge
 * table (two hash joins to relabel; the relabeled graph inherits the
 * src-hash partitioning). The vote count is one E-sized join pass.
 *
 * Expects an undirected (symmetrized, deduped) graph.
 */
object Ecg {

  final case class Config(
      ensembleSize: Int = 3,
      minWeight: Double = 0.05,
      // Fixed inner iterations per ensemble member (> 0 — keeps every
      // member SQL-reproducible; the reference's one-level louvain
      // equivalent).
      innerIter: Int = 3,
      seed: Long = 42L,
      finalLouvain: Louvain.Config = Louvain.Config())

  final case class Result(
      labels: DataFrame, // columns: id, community
      // canonical src < dst: votes (0..k), ecg weight
      edgeVotes: DataFrame, // columns: src, dst, votes, ecg_weight
      modularity: Double)

  /** The run-r relabeling hash of column `c`. */
  private def perm(seed: Long, r: Int)(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat_ws(":", lit(seed), lit(r), c)), 1, 15),
      16, 10).cast("long")

  /** Full ECG: ensemble votes + final Louvain on the re-weighted graph. */
  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    val p = g.numPartitions

    val votes = runVotesImpl(g, cfg)

    // Final Louvain over the re-weighted (symmetrized) graph.
    val rew = votes.select(col(SRC), col(DST),
      col("ecg_weight").as(WEIGHT))
    val sym = rew.union(rew.select(col(DST).as(SRC), col(SRC).as(DST),
      col(WEIGHT)))
    val fin = Louvain.run(
      LinkGraph(LinkGraph.partitioned(sym, p), directed = false, p).cached(),
      cfg.finalLouvain)

    Result(fin.labels, votes.select(SRC, DST, "votes", "ecg_weight"),
      fin.modularity)
  }

  /** Ensemble phase only: per-canonical-edge co-membership votes and
   * ECG weights (src, dst, weight, votes, ecg_weight). */
  def runVotes(g0: LinkGraph, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runVotesImpl(_, cfg))

  private def runVotesImpl(g: LinkGraph, cfg: Config): DataFrame = {
    val p = g.numPartitions
    val edges = g.edges

    // Ensemble memberships, one (id, community) frame per run. The k
    // members are INDEPENDENT (separate relabelings, separate caches,
    // no shared state — each is a pure function of its seed), so they
    // run CONCURRENTLY from k driver threads: every member is
    // superstep-latency-bound (small stages + driver round trips), and
    // overlapping them fills the idle executor slots a single member
    // leaves — same result rows, ~2x less wall-clock at sf0.1. One
    // OUTER withoutAqe scope covers all members, so the members' own
    // nested scopes observe (and restore) "false" — a member finishing
    // first cannot re-enable AQE under a still-running sibling.
    val members = graft.core.SparkTuning.withoutAqe(g.spark) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        cfg.ensembleSize)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futs = (1 to cfg.ensembleSize).map { r =>
          scala.concurrent.Future {
            val h = perm(cfg.seed, r) _
            val pEdges = edges.select(
              h(col(SRC)).as(SRC), h(col(DST)).as(DST), col(WEIGHT))
            val pg = LinkGraph(pEdges, directed = false, p).cached()
            val lab = Louvain.run(pg,
              Louvain.Config(maxLevels = 1, fixedInnerIter = cfg.innerIter))
            // map back: pid -> id via the same hash on the original
            // vertices (EAGER, so pg can be dropped right after)
            val back = Lineage.materialize(
              edges.select(col(SRC).as(ID)).distinct()
                .select(col(ID), h(col(ID)).as("pid"))
                .join(lab.labels.select(col(ID).as("pid"), col("community")),
                  Seq("pid"))
                .select(col(ID), col("community").as(s"c$r"))
                .repartition(p, col(ID)))
            pg.unpersist()
            back
          }
        }
        futs.map(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }

    // Votes per canonical edge. Fold the per-run membership frames
    // into ONE wide (id, c1..ck) table first — they are all id-hash
    // partitioned, so the k-way join is exchange-free — and then join
    // the edge frame twice (src, dst) instead of 2k times (the 2k-join
    // chain re-shuffled the edge frame per member).
    val canon = edges.filter(col(SRC) < col(DST))
      .select(col(SRC), col(DST), col(WEIGHT))
    val memberAll = members.map(_.df).reduce(_.join(_, Seq(ID)))
    val srcCols = (1 to cfg.ensembleSize)
      .map(r => col(s"c$r").as(s"cs$r"))
    val dstCols = (1 to cfg.ensembleSize)
      .map(r => col(s"c$r").as(s"cd$r"))
    val joined = canon
      .join(memberAll.select(col(ID).as(SRC) +: srcCols: _*), Seq(SRC))
      .join(memberAll.select(col(ID).as(DST) +: dstCols: _*), Seq(DST))
    val voteExpr = (1 to cfg.ensembleSize)
      .map(r => when(col(s"cs$r") === col(s"cd$r"), 1L).otherwise(0L))
      .reduce(_ + _)
    val votes = Lineage.materialize(
      joined.select(col(SRC), col(DST), col(WEIGHT),
        voteExpr.as("votes"))
        .withColumn("ecg_weight",
          lit(cfg.minWeight) + lit(1.0 - cfg.minWeight)
            * col("votes") / cfg.ensembleSize))
    members.foreach(_.release())

    votes.df
  }
}
