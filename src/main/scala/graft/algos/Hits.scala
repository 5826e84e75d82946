package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * HITS hubs/authorities, reference semantics
 * (`/root/reference/cpp/src/link_analysis/hits_impl.cuh:57-214`):
 * init hubs = 1/V; per iteration (weights IGNORED, as in the
 * reference's lambdas):
 *   auth(v) = SUM over incoming u->v of hub(u)
 *   hub(u)  = SUM over outgoing u->v of auth(v)
 *   hub /= max(hub); auth /= max(auth)
 *   stop when L1(hub - prevHub) < epsilon (checked after normalize)
 * optional final division of both by their sums.
 *
 * Physical: TWO cached edge layouts — forward partitioned by src for
 * the auth gather, reversed partitioned by dst for the hub gather —
 * the analog of the reference storing the transposed graph; both
 * superstep joins stay co-partitioned.
 */
object Hits {

  final case class Config(
      tol: Double = 1e-5,
      maxIter: Int = 100,
      normalize: Boolean = true)

  final case class Result(scores: DataFrame, iterations: Int, converged: Boolean)

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    val p = g.numPartitions

    val fwd = g.edges.select(SRC, DST)
    // Partitioned by the hub gather's JOIN key (rev.DST ⋈ authRaw.id):
    // the rename had it partitioned by the renamed SRC column instead,
    // so every iteration re-exchanged the E-sized reversed table into
    // the join (the shuffle ledger showed ~E bytes per iteration).
    val rev = g.edges.select(col(DST).as(SRC), col(SRC).as(DST))
      .repartition(p, col(DST))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val verts = Lineage.materialize(
      g.outWeightSums.select(col(ID)).repartition(p, col(ID)), eager = false)
    val v = verts.df.count()
    if (v == 0) {
      verts.release(); rev.unpersist()
      val spark = g.spark
      import spark.implicits._
      return Result(Seq.empty[(Long, Double, Double)].toDF(ID, "hub", "auth"),
        0, converged = true)
    }

    // State carries UNNORMALIZED sums (hub_raw, auth_raw) plus
    // driver-side max-norm scalars: the max aggregation is then also
    // the action that materializes the superstep — one job per
    // iteration (plus the L1 check only when tol > 0; tol=0 is the
    // fixed-iteration / oracle-parity path). prev_hub stores the
    // previous NORMALIZED hub for the L1 diff.
    var hubNorm = 1.0
    var authNorm = 1.0
    var state = Lineage.materialize(
      verts.df.select(col(ID), lit(1.0 / v).as("hub_raw"),
        lit(0.0).as("auth_raw")),
      eager = false)
    var iter = 0
    var converged = false
    while (!converged && iter < cfg.maxIter) {
      iter += 1
      // auth_raw(v) = sum of hub(u) over in-edges (hub normalized lazily).
      // Materialized: the frame feeds BOTH the hub gather and the state
      // join below — left as a view, its whole subtree (edge join +
      // reduce) would execute twice inside the superstep job.
      val authRawH = Lineage.materialize(
        fwd
          .join(state.df.select(col(ID), (col("hub_raw") / hubNorm).as("hub"))
              .hint("shuffle_hash"),
            fwd(SRC) === col(ID))
          .select(col(DST).as(ID), col("hub").as("m"))
          .groupBy(ID).agg(sum("m").as("auth_in")),
        eager = false)
      val authRaw = authRawH.df
      // hub_raw(u) = sum of auth_raw(v) over out-edges (gather via rev)
      val hubRaw = rev
        .join(authRaw.hint("shuffle_hash"), rev(DST) === authRaw(ID))
        .select(rev(SRC).as(ID), col("auth_in").as("m"))
        .groupBy(ID).agg(sum("m").as("hub_in"))

      val nextPlan = state.df
        .join(authRaw.withColumnRenamed(ID, "va").hint("shuffle_hash"),
          state.df(ID) === col("va"), "left")
        .join(hubRaw.withColumnRenamed(ID, "vh").hint("shuffle_hash"),
          state.df(ID) === col("vh"), "left")
        .select(state.df(ID),
          coalesce(col("hub_in"), lit(0.0)).as("hub_raw"),
          coalesce(col("auth_in"), lit(0.0)).as("auth_raw"),
          (state.df("hub_raw") / hubNorm).as("prev_hub"))
      // Loop-shape evidence hook: the full-iteration plan (auth gather
      // + hub gather over rev + state update), once.
      if (iter == 1 && sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
        nextPlan.explain("formatted")
      }
      val next = Lineage.materialize(nextPlan, eager = false)

      val m = next.df.agg(max("hub_raw"), max("auth_raw")).head()
      val (hubMax, authMax) = (m.getDouble(0), m.getDouble(1))
      if (cfg.tol > 0.0) {
        val l1 = next.df
          .agg(sum(abs(col("hub_raw") / hubMax - col("prev_hub"))))
          .head().getDouble(0)
        converged = l1 < cfg.tol
      }
      hubNorm = hubMax
      authNorm = authMax
      authRawH.release()
      state.release()
      state = next
    }

    val normalized = state.df.select(col(ID),
      (col("hub_raw") / hubNorm).as("hub"),
      (col("auth_raw") / authNorm).as("auth"))
    val out =
      if (cfg.normalize) {
        val s = normalized.agg(sum("hub"), sum("auth")).head()
        normalized.select(col(ID),
          (col("hub") / s.getDouble(0)).as("hub"),
          (col("auth") / s.getDouble(1)).as("auth"))
      } else normalized

    verts.release()
    rev.unpersist()
    Result(out, iter, converged)
  }
}
