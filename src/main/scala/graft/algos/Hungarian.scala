package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Lineage

/**
 * Minimum-cost bipartite assignment ("Hungarian" in the reference API:
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:510-543`, python
 * `linear_assignment/lap.py:18` — returns the total cost plus a
 * (vertex, assignment) frame mapping each worker to its job).
 *
 * The reference solves the dense LAP on-device (Date–Nagi). A dense
 * O(n^3) sweep is the wrong shape for Spark, so this is the classic
 * DISTRIBUTED assignment algorithm instead: Bertsekas' auction with
 * epsilon-scaling (Bertsekas 1988, "The auction algorithm: a
 * distributed relaxation method for the assignment problem"). Each
 * Jacobi round is:
 *
 *   1. every unassigned worker values its incident jobs at
 *      benefit - price and picks best/second-best (two map-side
 *      combinable groupBys on the worker key — no windows, so a
 *      worker incident to 10^8 jobs never sorts them in one task);
 *   2. each job awards itself to the highest bidder (one groupBy on
 *      the job key) and raises its price to the winning bid;
 *   3. displaced workers re-enter the unassigned pool.
 *
 * Costs are scaled to integer micro-units and multiplied by (n+1) so
 * the final epsilon = 1 phase satisfies eps < 1/n in original units,
 * which guarantees an OPTIMAL assignment for integer benefits
 * (Bertsekas' epsilon-optimality bound). All tie-breaks are pinned
 * (highest value then lowest job; highest bid then lowest worker), so
 * the Jacobi evolution — and therefore the returned assignment — is
 * deterministic and identical between the distributed path and the
 * collected local path ([[localThreshold]]), which run the same
 * synchronous rounds.
 *
 * Requires that a perfect matching of all workers exists (the
 * reference's contract: every worker is assigned exactly one job);
 * exhausting `maxRounds` throws rather than returning a partial
 * matching, mirroring Scc's strict truncation guard.
 */
object Hungarian {

  /** `assignments` has columns (vertex, assignment) like the reference
   * return frame; `totalCost` sums the original double costs of the
   * chosen edges. */
  final case class Result(
      assignments: DataFrame, totalCost: Double, rounds: Int)

  private val W = "vertex"
  private val J = "assignment"

  /** Dense-matrix entry point — the reference's `dense_hungarian`
   * (`/root/reference/python/cugraph/cugraph/linear_assignment/lap.py:98-150`:
   * a flat row-major cost matrix of num_rows × num_cols). Input here is
   * one row per worker with its full cost row as an array (the same
   * shape [[graft.core.LinkGraph.fromDenseAdjacency]] consumes); the
   * posexplode to (worker, job, cost) is partition-local, then the
   * standard sparse auction runs. */
  def assignDense(dense: DataFrame, idCol: String, rowCol: String): Result = {
    val costs = dense.select(col(idCol).cast("long").as(W),
        posexplode(col(rowCol)).as(Seq("j", "cost")))
      .select(col(W), col("j").cast("long").as(J),
        col("cost").cast("double").as("cost"))
    assign(costs)
  }

  /**
   * Solve min-cost assignment over `costs` (worker, job, cost) — every
   * distinct worker gets exactly one distinct job. Parallel (worker,
   * job) duplicates collapse to their cheapest edge first.
   *
   * Instances whose deduped edge count is at most `localThreshold`
   * collect to the driver and run the same synchronous auction in
   * arrays (identical rounds, identical tie-breaks, identical result)
   * — the size-adaptive pattern Mst's merge step uses: at gate scale
   * the driver loop saves ~2 Spark actions per round, while a huge
   * instance stays fully distributed.
   */
  def assign(
      costs: DataFrame,
      maxRounds: Int = 100000,
      localThreshold: Long = 1L << 20): Result = {
    val spark = costs.sparkSession
    val cols = costs.columns
    require(cols.length >= 3, s"costs needs (worker, job, cost), got ${cols.mkString(",")}")
    val deduped = costs
      .groupBy(col(cols(0)).cast("long").as(W), col(cols(1)).cast("long").as(J))
      .agg(min(col(cols(2)).cast("double")).as("cost"))

    // The plain forward auction is only epsilon-optimal for SQUARE
    // instances (every job assigned); with more jobs than workers it
    // can terminate eps-CS yet far from optimal (Bertsekas 1992 treats
    // the asymmetric case separately). Pad to square with dummy
    // workers holding zero-cost edges to every job — the padded
    // symmetric optimum restricted to real workers IS the asymmetric
    // optimum. Dummy ids sit below every real id so they filter out
    // of the result frame.
    val agg0 = deduped.agg(
      countDistinct(col(W)), countDistinct(col(J)),
      min(col(W)), count(lit(1)),
      min(round(col("cost") * 1e6).cast("long"))).head()
    val (n0, m0, minW, edges0) =
      (agg0.getLong(0), agg0.getLong(1), agg0.getLong(2), agg0.getLong(3))
    require(edges0 > 0, "empty cost table")
    require(n0 <= m0, s"more workers ($n0) than jobs ($m0): no perfect matching")
    val minMicro = agg0.getLong(4)

    // m >> n: restrict each worker to its n CHEAPEST incident jobs
    // first (at the auction's own micro-cost resolution, ties to the
    // lower job id). This is EXACT: if an optimum assigns worker A a
    // job outside A's n cheapest, at most n−1 other workers occupy
    // A's kept set, so some kept job j' is free with cost(A,j') <=
    // cost(A,j) — swapping preserves optimality; and Hall's condition
    // survives (a worker set S, |S| <= n, either contains a worker
    // keeping min(deg, n) >= |S| jobs, or every member kept ALL its
    // edges). The job universe then shrinks to <= n² rows, making the
    // square padding independent of m — the round-5 documented
    // (m−n)·m dummy blow-up. BoundedMinK keeps the prune itself
    // skew-safe (O(n) buffer, map-side combinable); engaged when it
    // pays (m > 2n) and the buffer is bounded (n <= 4096) — huge-n
    // rectangular instances keep the padded path.
    val prunedOpt =
      if (n0 < m0 && m0 > 2 * n0 && n0 <= 4096) {
        val keep = deduped
          .select(col(W), col(J), format_string("%020d",
            round(col("cost") * 1e6).cast("long") - lit(minMicro)).as("k"))
          .groupBy(W)
          .agg(graft.functions.BoundedMinK.smallestK(n0.toInt)(
            col("k"), col(J)).as("picks"))
          .select(col(W), explode(col("picks")).as(J))
        Some(deduped.join(keep, Seq(W, J), "left_semi").cache())
      } else None
    val work = prunedOpt.getOrElse(deduped)
    // The pruned table's own job universe and rows, in one job.
    val (m, workEdges) = prunedOpt.map { t =>
      val r = t.agg(countDistinct(col(J)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }.getOrElse((m0, edges0))

    val dummyBase = math.min(minW, 0L) - 1
    val padded =
      if (n0 == m) work
      else work.select(J).distinct()
        .crossJoin(spark.range(m - n0).select((lit(dummyBase) - col("id")).as(W)))
        .select(col(W), col(J), lit(0.0).as("cost"))
        .unionByName(work)
    val paddedEdges = workEdges + (m - n0) * m
    // Both paths return a materialized frame (driver rows, or a counted
    // cache), so the prune is read for the last time once they return.
    try {
      if (paddedEdges <= localThreshold)
        assignLocal(spark, padded, maxRounds, dummyBase)
      else assignDistributed(spark, padded, maxRounds, dummyBase)
    } finally prunedOpt.foreach(_.unpersist())
  }

  /** Integer micro-benefit: b = -round(cost*1e6) * (n+1). The final
   * eps=1 phase is then eps-optimal with eps < 1/n original units. */
  private def scaledBenefit(costMicro: Long, n: Long): Long =
    -costMicro * (n + 1)

  // ---------------------------------------------------------------- //
  // Local path: same synchronous Jacobi rounds in driver arrays.
  // ---------------------------------------------------------------- //

  private def assignLocal(
      spark: SparkSession, deduped: DataFrame, maxRounds: Int,
      dummyBase: Long): Result = {
    val rows = deduped.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val workers = rows.map(_._1).distinct.sorted
    val jobs = rows.map(_._2).distinct.sorted
    val n = workers.length.toLong
    val widx = workers.zipWithIndex.toMap
    val jidx = jobs.zipWithIndex.toMap

    // Adjacency: per worker, (jobIdx, benefit, originalCost) sorted by
    // job id ascending so argmax tie-breaks match the distributed
    // struct-max (highest value, then lowest job).
    val adj = Array.fill(workers.length)(
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)])
    rows.foreach { case (w, j, c) =>
      adj(widx(w)) += ((jidx(j), scaledBenefit(math.round(c * 1e6), n), c))
    }
    adj.foreach(buf => { val s = buf.sortBy(_._1); buf.clear(); buf ++= s })

    val maxAbsB = adj.iterator.flatMap(_.iterator.map(e => math.abs(e._2)))
      .foldLeft(1L)(math.max)
    val negInf = -4 * (maxAbsB + 1)
    val price = Array.fill[Long](jobs.length)(0L)
    val jobOwner = Array.fill[Int](jobs.length)(-1)
    val workerJob = Array.fill[Int](workers.length)(-1)
    var rounds = 0
    var eps = math.max(1L, maxAbsB / 2)
    var phaseDone = false
    while (!phaseDone) {
      // Phase start: clear the assignment, keep prices (eps-scaling).
      java.util.Arrays.fill(jobOwner, -1)
      java.util.Arrays.fill(workerJob, -1)
      var unassigned = workers.indices.toArray
      while (unassigned.nonEmpty) {
        rounds += 1
        require(rounds <= maxRounds,
          s"auction exhausted maxRounds=$maxRounds with ${unassigned.length} " +
            "workers unassigned — no perfect matching, or raise maxRounds")
        // Bid: per unassigned worker, best and second-best value.
        val bids = unassigned.map { wi =>
          var v1 = Long.MinValue; var j1 = -1; var b1 = 0L; var v2 = negInf
          adj(wi).foreach { case (ji, b, _) =>
            val v = b - price(ji)
            if (v > v1) { v2 = math.max(v2, v1); v1 = v; j1 = ji; b1 = b }
            else v2 = math.max(v2, v)
          }
          require(j1 >= 0, s"worker ${workers(wi)} has no incident jobs")
          (j1, b1 - v2 + eps, wi) // (job, bid price, worker)
        }
        // Award: per job, highest bid wins; ties to the lowest worker.
        val byJob = bids.groupBy(_._1)
        val displaced = scala.collection.mutable.ArrayBuffer.empty[Int]
        val stillOut = scala.collection.mutable.ArrayBuffer.empty[Int]
        byJob.foreach { case (ji, js) =>
          val (_, bid, wi) = js.maxBy { case (_, p, w) => (p, -w) }
          price(ji) = bid
          val prev = jobOwner(ji)
          if (prev >= 0) { workerJob(prev) = -1; displaced += prev }
          jobOwner(ji) = wi
          workerJob(wi) = ji
          js.foreach { case (_, _, w) => if (w != wi) stillOut += w }
        }
        unassigned = (displaced ++ stillOut).distinct.sorted.toArray
      }
      if (eps == 1L) phaseDone = true else eps = math.max(1L, eps / 4)
    }

    val chosen = workers.indices
      .filter(wi => workers(wi) > dummyBase)
      .map { wi =>
        val ji = workerJob(wi)
        val c = adj(wi).find(_._1 == ji).get._3
        (workers(wi), jobs(ji), c)
      }
    val total = chosen.map(_._3).sum
    import spark.implicits._
    Result(
      chosen.map(t => (t._1, t._2)).toDF(W, J),
      total, rounds)
  }

  // ---------------------------------------------------------------- //
  // Distributed path: the same rounds as DataFrame supersteps.
  // ---------------------------------------------------------------- //

  private def assignDistributed(
      spark: SparkSession, deduped: DataFrame, maxRounds: Int,
      dummyBase: Long): Result = {
    val nParts = spark.sessionState.conf.numShufflePartitions
    val n = deduped.select(W).distinct().count()

    val edges = Lineage.materialize(
      deduped.withColumn("b",
          -(round(col("cost") * 1e6).cast("long")) * lit(n + 1))
        .repartition(nParts, col(W)))
    val maxAbsB = edges.df.agg(max(abs(col("b")))).head().getLong(0) max 1L
    val negInf = -4 * (maxAbsB + 1)

    // prices (job, price) and asg (vertex, assignment) evolve per round.
    var prices = Lineage.materialize(
      deduped.select(col(J)).distinct().withColumn("price", lit(0L)))
    var asg = Lineage.materialize(
      spark.range(0).select(col("id").as(W), col("id").as(J)))
    var rounds = 0
    var eps = math.max(1L, maxAbsB / 2)
    var phaseDone = false
    while (!phaseDone) {
      // Phase start: clear assignment, keep prices.
      asg.release()
      asg = Lineage.materialize(spark.range(0).select(col("id").as(W), col("id").as(J)))
      var nUnassigned = n
      while (nUnassigned > 0) {
        rounds += 1
        require(rounds <= maxRounds,
          s"auction exhausted maxRounds=$maxRounds with $nUnassigned " +
            "workers unassigned — no perfect matching, or raise maxRounds")
        val cand = edges.df
          .join(asg.df.select(W), Seq(W), "left_anti")
          .join(broadcastIfSmall(prices.df, n), Seq(J))
          .withColumn("value", col("b") - col("price"))
        // Best job per worker: (value desc, job asc); benefit rides along.
        val best = cand
          .groupBy(W)
          .agg(max(struct(col("value"), (-col(J)).as("nj"), col("b"))).as("m"))
          .select(col(W), col("m.value").as("v1"),
            (-col("m.nj")).as("j1"), col("m.b").as("b1"))
        // Second-best value (over the remaining incident jobs).
        val second = cand
          .join(best.select(col(W), col("j1")), Seq(W))
          .filter(col(J) =!= col("j1"))
          .groupBy(W).agg(max(col("value")).as("v2"))
        val bids = best
          .join(second, Seq(W), "left")
          .withColumn("bid",
            col("b1") - coalesce(col("v2"), lit(negInf)) + lit(eps))
          .select(col(W), col("j1").as(J), col("bid"))
        // Award: per job the highest bid, ties to the lowest worker.
        val winners = Lineage.materialize(
          bids.groupBy(J)
            .agg(max(struct(col("bid"), (-col(W)).as("nw"))).as("m"))
            .select(col(J), col("m.bid").as("price"), (-col("m.nw")).as(W)))
        val nextPrices = Lineage.materialize(
          prices.df.join(winners.df.select(col(J), col("price").as("p2")), Seq(J), "left")
            .select(col(J), coalesce(col("p2"), col("price")).as("price")),
          eager = false)
        val nextAsg = Lineage.materialize(
          asg.df.join(winners.df.select(J), Seq(J), "left_anti")
            .unionByName(winners.df.select(col(W), col(J))),
          eager = false)
        nUnassigned = n - nextAsg.df.count()
        prices.release(); asg.release(); winners.release()
        prices = nextPrices; asg = nextAsg
      }
      if (eps == 1L) phaseDone = true else eps = math.max(1L, eps / 4)
    }

    val chosen = asg.df.join(
        edges.df.select(col(W), col(J), col("cost")), Seq(W, J))
      .filter(col(W) > dummyBase)
    val total = chosen.agg(sum(col("cost"))).head().getDouble(0)
    val out = chosen.select(col(W), col(J)).cache()
    out.count()
    edges.release(); prices.release(); asg.release()
    Result(out, total, rounds)
  }

  /** Prices are one row per job; broadcast while the job set is small
   * enough, shuffle-join beyond that. */
  private def broadcastIfSmall(prices: DataFrame, n: Long): DataFrame =
    if (n <= 4000000L) broadcast(prices) else prices
}
