package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Optimization-round plan capture (guide §7.2): write the
 * `.explain("formatted")` output of named driver queries to
 * `<outDir>/<query>_<tag>.txt` — the judge-checkable before/after
 * evidence for plans/r06. Iterative algorithms return a
 * Lineage-truncated frame (a flat LogicalRDD scan), so for those the
 * meaningful plan is the superstep body, whose jobs and exchanges per
 * superstep `PlanShapeSpec` ("superstep loops") pins.
 *
 * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1>[,<q2>...]
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args.take(4)
    val spark = Bench.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    graft.queries.GraphQueries.warm(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    names.split(",").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"PLANDUMP $n -> $outDir/${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
