package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph, Superstep}
import graft.core.LinkGraph.{ID, WEIGHT}

/**
 * Katz centrality, reference semantics
 * (`/root/reference/cpp/src/centrality/katz_centrality_impl.cuh:50-172`):
 * init katz = 0; per iteration katz'(v) = alpha * SUM over incoming
 * u->v of katz(u)*w + beta; stop when L1 diff < epsilon (error at
 * maxIter); optional final L2 normalization. Each superstep is
 * [[Superstep.messages]] and [[Superstep.receive]], as PageRank's.
 */
object Katz {

  final case class Config(
      alpha: Double = 0.1,
      beta: Double = 1.0,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      normalize: Boolean = true)

  final case class Result(centralities: DataFrame, iterations: Int, converged: Boolean)

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    val p = g.numPartitions

    val verts = Lineage.materialize(
      g.outWeightSums.select(col(ID)).repartition(p, col(ID)), eager = false)
    val r = Superstep.run(g, "katz", cfg.maxIter)(
      verts.df.select(col(ID), lit(0.0).as("kz"), lit(0.0).as("old")),
      step = (state, _) => {
        val msgs = Superstep.messages(g.edges, state.select(col(ID), col("kz")),
          col("kz") * col(WEIGHT), sum)
        Superstep.receive(state, msgs)
          .select(state(ID),
            (lit(cfg.alpha) * coalesce(col("m"), lit(0.0)) + lit(cfg.beta))
              .as("kz"),
            state("kz").as("old"))
      },
      check = (next, _) =>
        (Superstep.total(next, abs(col("kz") - col("old"))) < cfg.tol, Map.empty))

    val state = r.state.df
    val out =
      if (cfg.normalize) {
        val l2 = math.sqrt(Superstep.total(state, col("kz") * col("kz")))
        state.select(col(ID), (col("kz") / l2).as("katz"))
      } else state.select(col(ID), col("kz").as("katz"))

    verts.release()
    Result(out, r.iterations, r.converged)
  }
}
