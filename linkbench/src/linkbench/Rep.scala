package linkbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One pass of a workload: the engine calls it made, its output checks,
 * and the values it recorded, keyed `<layer>.<metric>`. */
final class Rep(val spark: SparkSession) {
  val values: mutable.Map[String, Double] = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  var attempted = 0
  var failed = 0
  var wall = 0.0

  /** Runs one public engine call under a job group named after its layer
   * and adds its wall and GC seconds to `<layer>.s` and `<layer>.gc_s`. */
  def layer[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    try f
    finally {
      values(s"$name.s") += (System.nanoTime() - t0) / 1e9
      values(s"$name.gc_s") += Jvm.gcSeconds() - gc0
      sc.clearJobGroup()
    }
  }

  /** Counts one output check; `failure` is the mismatch, if any. */
  def check(failure: Option[String]): Unit = {
    attempted += 1
    failure.foreach { msg =>
      failed += 1
      System.err.println(s"CHECK FAILED: $msg")
    }
  }
}

/** Every metric the benchmark prints, with its unit. */
object Catalog {
  /** Layers with the common set of traced metrics; each is one public
   * entry point of the engine. */
  val Layers = Seq("ingest", "load", "symmetrize", "pagerank", "wcc", "lpa", "triangles")
  val Iterative = Seq("pagerank", "wcc", "lpa")

  val Common = Seq(
    "s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_s" -> "s", "parallelism" -> "ratio", "shuffle_read_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s")

  val EndToEnd = Seq("wall_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => Common.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "ingest.input_mb" -> "MB", "ingest.scan_ratio" -> "ratio", "ingest.extract_s" -> "s",
      "load.input_mb" -> "MB", "symmetrize.rows_ratio" -> "ratio") ++
    Iterative.flatMap(a => Seq(
      s"$a.iters" -> "count", s"$a.s_per_iter" -> "s", s"$a.jobs_per_iter" -> "count")) ++ Seq(
      "pagerank.gteps" -> "GTEPS", "triangles.count" -> "count",
      "checkpoint.s" -> "s", "checkpoint.commits" -> "count",
      "checkpoint.mb_written" -> "MB", "checkpoint.s_per_commit" -> "s",
      "resume.s" -> "s", "resume.iters" -> "count",
      "trace.overhead_s" -> "s", "oracle.s" -> "s")

  private val MB = 1024.0 * 1024.0

  /** Folds the listener's per-group totals into a traced rep's values and
   * derives the ratios. `tableMb` is the size of the input table. */
  def derive(rep: Rep, groups: Map[String, GroupStats], tableMb: Double): Unit = {
    val v = rep.values
    for (l <- Layers; g <- groups.get(l)) {
      v(s"$l.jobs") = g.jobs.toDouble
      v(s"$l.stages") = g.stages.toDouble
      v(s"$l.tasks") = g.tasks.toDouble
      v(s"$l.task_s") = g.taskMs / 1e3
      v(s"$l.shuffle_read_mb") = g.shuffleRead / MB
      v(s"$l.shuffle_write_mb") = g.shuffleWrite / MB
      v(s"$l.spill_mb") = g.spill / MB
      if (l == "ingest" || l == "load") v(s"$l.input_mb") = g.input / MB
    }
    def ratio(num: String, den: String): Double = if (v(den) > 0) v(num) / v(den) else 0.0
    for (l <- Layers) v(s"$l.parallelism") = ratio(s"$l.task_s", s"$l.s")
    for (a <- Iterative) {
      v(s"$a.s_per_iter") = ratio(s"$a.s", s"$a.iters")
      v(s"$a.jobs_per_iter") = ratio(s"$a.jobs", s"$a.iters")
    }
    v("checkpoint.s_per_commit") = ratio("checkpoint.s", "checkpoint.commits")
    if (v("ingest.input_mb") > 0) v("ingest.scan_ratio") = v("ingest.input_mb") / tableMb
  }
}
