package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lineage, LinkGraph, Superstep}
import graft.core.LinkGraph.{ID, WEIGHT}

/**
 * Eigenvector centrality, reference semantics
 * (`/root/reference/cpp/src/centrality/eigenvector_centrality_impl.cuh`):
 * init c = 1/V; per iteration c'(v) = SUM over incoming u->v of
 * c(u)*w, then divide by L2 norm; stop when L1 diff < V * epsilon
 * (note the reference scales epsilon by V); error at maxIter.
 */
object Eigenvector {

  final case class Config(tol: Double = 1e-6, maxIter: Int = 100)

  final case class Result(centralities: DataFrame, iterations: Int, converged: Boolean)

  def run(g0: LinkGraph, cfg: Config = Config()): Result =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, cfg))

  private def runImpl(g: LinkGraph, cfg: Config): Result = {
    val p = g.numPartitions

    val verts = Lineage.materialize(
      g.outWeightSums.select(col(ID)).repartition(p, col(ID)), eager = false)
    val v = verts.df.count()

    // State carries UNNORMALIZED sums plus a driver-side norm scalar:
    // the L2 aggregation is then also the action that materializes the
    // superstep (one job per iteration; the L1 convergence check adds
    // a second only when tol > 0 — tol=0 is the fixed-iteration /
    // oracle-parity path). `old` stores the previous NORMALIZED value.
    // An empty graph converges at once.
    var norm = 1.0
    val r = Superstep.run(g, "eigenvector", cfg.maxIter)(
      verts.df.select(col(ID), lit(1.0 / v).as("raw"), lit(0.0).as("old")),
      step = (state, _) => {
        val msgs = Superstep.messages(g.edges,
          state.select(col(ID), (col("raw") / norm).as("c")),
          col("c") * col(WEIGHT), sum)
        Superstep.receive(state, msgs)
          .select(state(ID),
            coalesce(col("m"), lit(0.0)).as("raw"),
            (state("raw") / norm).as("old"))
      },
      check = (next, _) => {
        val l2 = math.sqrt(Superstep.total(next, col("raw") * col("raw")))
        val converged = v == 0 || cfg.tol > 0.0 &&
          Superstep.total(next, abs(col("raw") / l2 - col("old"))) < v * cfg.tol
        norm = l2
        (converged, Map.empty)
      })

    verts.release()
    Result(r.state.df.select(col(ID), (col("raw") / norm).as("eigenvector")),
      r.iterations, r.converged)
  }
}
