package graft

/** Ad-hoc probe: iteration counts of fixpoint algorithms at a given sf,
  * used to size the fixed-iteration DuckDB oracles (which must run at
  * least as many rounds as the engine's fixpoint). */
object IterProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Bench.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val g = graft.queries.GraphQueries.chainGraph(spark, sfDir).cached()
    graft.algos.CoreNumber.run(g).count()
    println(s"[iterprobe] core_number iters=${graft.algos.CoreNumber.lastIterations}")
    println(s"[iterprobe] two_core rounds=${graft.algos.TriangleCount.twoCore(g).rounds}")
    spark.stop()
  }
}
