package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph, Superstep}
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
 * Physical: both of the graph's edge layouts, each partitioned by its
 * senders — [[LinkGraph.edges]] by src for the auth gather,
 * [[LinkGraph.transposed]] by the original dst for the hub gather;
 * both gathers are [[Superstep.messages]], so both joins stay
 * co-partitioned. The loop is [[graft.core.Superstep]]; the max-norms
 * are its carried scalars.
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

    val verts = Lineage.materialize(
      g.outWeightSums.select(col(ID)).repartition(p, col(ID)), eager = false)
    val v = verts.df.count()
    if (v == 0) {
      verts.release()
      val spark = g.spark
      import spark.implicits._
      return Result(Seq.empty[(Long, Double, Double)].toDF(ID, "hub", "auth"),
        0, converged = true)
    }

    // State carries UNNORMALIZED sums (hub_raw, auth_raw) plus
    // driver-side max-norm scalars, set by the check: the max
    // aggregation is then also the action that materializes the
    // superstep — one job per iteration (plus the L1 check only when
    // tol > 0; tol=0 is the fixed-iteration / oracle-parity path).
    // prev_hub stores the previous NORMALIZED hub for the L1 diff.
    var hubNorm = 1.0
    var authNorm = 1.0
    // The superstep's auth gather, released by its check.
    var authRawH: Lineage.Handle = null
    val r = Superstep.run(g, "hits", cfg.maxIter)(
      verts.df.select(col(ID), lit(1.0 / v).as("hub_raw"),
        lit(0.0).as("auth_raw")),
      step = (state, _) => {
        // auth_raw(v) = sum of hub(u) over in-edges (hub normalized
        // lazily). Materialized: the frame feeds BOTH the hub gather
        // and the state join below — left as a view, its whole subtree
        // (edge join + reduce) would execute twice inside the
        // superstep job.
        authRawH = Lineage.materialize(
          Superstep.messages(fwd,
            state.select(col(ID), (col("hub_raw") / hubNorm).as("hub")),
            col("hub"), sum)
            .select(col(DST).as(ID), col("m").as("auth_in")),
          eager = false)
        val authRaw = authRawH.df
        // hub_raw(u) = sum of auth_raw(v) over out-edges: v sends
        // back along u -> v, its in-edge in the by-dst layout.
        val hubRaw = Superstep.messages(g.transposed, authRaw, col("auth_in"), sum)

        Superstep.receive(
          Superstep.receive(state, authRaw.withColumnRenamed(ID, DST)), hubRaw)
          .select(state(ID),
            coalesce(col("m"), lit(0.0)).as("hub_raw"),
            coalesce(col("auth_in"), lit(0.0)).as("auth_raw"),
            (state("hub_raw") / hubNorm).as("prev_hub"))
      },
      check = (next, _) => {
        val m = next.agg(max("hub_raw"), max("auth_raw")).head()
        val (hubMax, authMax) = (m.getDouble(0), m.getDouble(1))
        val converged = cfg.tol > 0.0 && next
          .agg(sum(abs(col("hub_raw") / hubMax - col("prev_hub"))))
          .head().getDouble(0) < cfg.tol
        hubNorm = hubMax
        authNorm = authMax
        authRawH.release()
        (converged, Map.empty)
      })

    val normalized = r.state.df.select(col(ID),
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
    Result(out, r.iterations, r.converged)
  }
}
