package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.checkpoint.CheckpointManager
import graft.core.{Lineage, LinkGraph, Superstep}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}

/**
 * PageRank with the reference's exact semantics
 * (`/root/reference/cpp/src/link_analysis/pagerank_impl.cuh:48-293`,
 * host oracle `/root/reference/cpp/tests/link_analysis/pagerank_test.cpp:43-130`):
 *
 *   - init pr = 1/V (uniform);
 *   - each iteration, from the OLD state:
 *       dangling_sum = sum of pr(v) over vertices with out-weight-sum 0
 *       pr'(v) = alpha * SUM over incoming edges u->v of pr(u) * w(u,v)/outw(u)
 *                + (dangling_sum * alpha + (1 - alpha)) / V
 *   - stop when L1(pr' - pr) < tol (checked after the update);
 *     give up (converged = false) at maxIter.
 *
 * Physical design (the part that must survive 100 TB):
 *   - Edge weights are pre-normalized once (w/outw(src)) and the edge
 *     table is hash-partitioned by src and cached — the per-iteration
 *     state join is then co-partitioned and ONLY the message reduce
 *     shuffles (~V rows of messages, never the edge table).
 *   - The message reduce is groupBy(dst).sum — Spark's partial (map-side)
 *     aggregation collapses hub fan-in before the shuffle, the same skew
 *     countermeasure as the reference's per-degree-segment kernels
 *     (`graph_view.hpp:258-262`); an algebraic reduce needs no extra
 *     hub salting.
 *   - Dangling mass is folded into one scalar per iteration
 *     (`pagerank_impl.cuh:218-246`), never V messages.
 *   - L1 diff and the next dangling-sum come from ONE agg over the
 *     freshly cached state: one shuffle job + one scalar job per iter.
 *   - The loop is [[graft.core.Superstep]]: lineage is truncated EVERY
 *     superstep, and committed to the resumable checkpoint every
 *     `checkpointEvery` supersteps when a [[CheckpointManager]] is given.
 */
object PageRank {

  final case class Config(
      alpha: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      checkpointEvery: Int = 10,
      checkpoint: Option[CheckpointManager] = None,
      // Personalized PageRank: (id, value) rows; the teleport/dangling
      // mass is redistributed proportionally to value/sum(value) over
      // the listed vertices instead of uniformly (reference
      // `pagerank_impl.cuh:229-246`, oracle `pagerank_test.cpp:110-121`).
      personalization: Option[DataFrame] = None,
      // Initial guess (id, value), normalized by its sum (reference
      // `pagerank_impl.cuh:166-183`); vertices absent from the guess
      // start at 0.
      initialGuess: Option[DataFrame] = None)

  final case class Result(
      ranks: DataFrame, // columns: id, pagerank
      iterations: Int,
      converged: Boolean,
      l1: Double)

  private val PR = "pr"
  private val OLD = "old_pr"
  private val DANG = "dangling"
  private val PW = "pw" // per-vertex teleport weight (1/V when uniform)

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    val p = g.numPartitions

    // One-pass out-weight table (id, out_weight) for EVERY vertex; its
    // count is V — no separate distinct-vertices pass. Hash-partitioned
    // by id: the state layout, and (via the renamed src join below)
    // co-partitioned with the cached edge table.
    val ows = Lineage.materialize(
      g.outWeightSums.repartition(p, col(ID)), eager = false)
    val v = ows.df.count()

    // Pre-normalized edges: (src, dst, nw = w / outw(src)); any vertex
    // appearing as src has outw > 0. The join is co-partitioned on src,
    // and its output KEEPS that partitioning — no explicit repartition,
    // so building normEdges shuffles nothing beyond the ows aggregate.
    val normEdges = g.edges
      .join(ows.df.withColumnRenamed(ID, SRC).hint("shuffle_hash"), Seq(SRC))
      .select(col(SRC), col(DST), (col(WEIGHT) / col("out_weight")).as("nw"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Per-vertex teleport weight: uniform 1/V, or value/sum over the
    // personalization vertices (0 elsewhere).
    val pwCol: DataFrame => DataFrame = cfg.personalization match {
      case None =>
        df => df.withColumn(PW, lit(1.0 / v))
      case Some(pers) =>
        val pSum = pers.agg(sum(col("value"))).head().getDouble(0)
        require(pSum > 0.0, "personalization values must sum > 0")
        val pn = pers.select(col(ID).as("__pid"),
          (col("value").cast("double") / pSum).as(PW))
        df => df.join(pn.hint("shuffle_hash"), df(ID) === col("__pid"), "left")
          .drop("__pid")
          .withColumn(PW, coalesce(col(PW), lit(0.0)))
    }

    // Initial scores: uniform 1/V, or the sum-normalized user guess.
    val prInit: DataFrame => DataFrame = cfg.initialGuess match {
      case None =>
        df => df.withColumn(PR, lit(1.0 / v))
      case Some(guess) =>
        val gSum = guess.agg(sum(col("value"))).head().getDouble(0)
        require(gSum > 0.0, "initial guess must sum > 0")
        val gn = guess.select(col(ID).as("__gid"),
          (col("value").cast("double") / gSum).as(PR))
        df => df.join(gn.hint("shuffle_hash"), df(ID) === col("__gid"), "left")
          .drop("__gid")
          .withColumn(PR, coalesce(col(PR), lit(0.0)))
    }

    // State: (id, pr, old_pr, dangling, pw) derives from ows in place.
    val init = prInit(pwCol(ows.df))
      .select(col(ID), col(PR), lit(0.0).as(OLD),
        (col("out_weight") === 0.0).as(DANG), col(PW))

    // Dangling sum of the current state: of the init (or resumed) state
    // on the first superstep, then of each next state from its check.
    var danglingSum: Option[Double] = None
    var l1 = Double.MaxValue
    val r = Superstep.run(g, "pagerank", cfg.maxIter, cfg.checkpoint,
      cfg.checkpointEvery, Seq(cfg.alpha.toString,
        cfg.personalization.isDefined.toString))(
      init,
      step = state => {
        // Redistributed mass this superstep; multiplied by the per-vertex
        // teleport weight (uniform 1/V or personalized).
        val mass = danglingSum.getOrElse(scalars(state)(0)) * cfg.alpha +
          (1.0 - cfg.alpha)

        // shuffle_hash hints: without them Catalyst picks sort-merge and
        // re-SORTS the (cached, unsorted) edge table every superstep —
        // bandwidth-bound and the dominant iteration cost. Hash-building
        // the per-partition slice of the small state side streams the
        // edges unsorted; unlike a broadcast this stays valid when V is
        // huge, because the build is per co-partition, not per task.
        val msgs = normEdges
          .join(state.select(col(ID), col(PR)).hint("shuffle_hash"),
            normEdges(SRC) === col(ID))
          .select(col(DST), (col(PR) * col("nw")).as("m"))
          .groupBy(DST)
          .agg(sum("m").as("m"))

        state
          .join(msgs.hint("shuffle_hash"), state(ID) === msgs(DST), "left")
          .select(
            state(ID),
            (lit(cfg.alpha) * coalesce(col("m"), lit(0.0))
              + lit(mass) * state(PW)).as(PR),
            state(PR).as(OLD),
            state(DANG),
            state(PW))
      },
      check = (next, _) => {
        val Array(dSum, l1Now) = scalars(next)
        danglingSum = Some(dSum)
        l1 = l1Now
        (l1 < cfg.tol, Map("l1_diff" -> l1, "dangling_sum" -> dSum,
          "messages" -> v.toDouble))
      })

    normEdges.unpersist()
    ows.release()
    val ranks = r.state.df.select(col(ID), col(PR).as("pagerank"))
    Result(ranks, r.iterations, r.converged, l1)
  }

  /** One pass over cached state: (dangling sum of pr, L1 vs old_pr). */
  private def scalars(state: DataFrame): Array[Double] = {
    val r = state.agg(
      sum(when(col(DANG), col(PR)).otherwise(0.0)),
      sum(abs(col(PR) - col(OLD)))).head()
    Array(if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }
}
