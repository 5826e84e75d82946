package linkbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * The link-graph benchmark: one closed-loop client running one batch job
 * at a time on `local[cores]`. Set-up starts the session, writes the
 * workload's input (several times; the median counts), computes the
 * oracle and runs untimed warm-up passes. Then it repeats the pass for
 * `--seconds` seconds.
 *
 * `--trace 0` prints the end-to-end metrics of untraced passes.
 * `--trace 1` alternates untraced and traced passes (a listener attached,
 * keyed by the job group of each engine call) and prints the per-layer
 * metrics of the traced ones; the difference of the two medians is the
 * tracing overhead.
 *
 * The last line of stdout is the result; the line before it is the run's
 * context (host, versions, input sizes).
 */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      work: String = "",
      cores: Int = Runtime.getRuntime.availableProcessors(),
      commit: String = "unknown",
      sources: String = "unknown",
      tiny: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--cores" :: v :: rest => parse(rest, o.copy(cores = v.toInt))
    case "--commit" :: v :: rest => parse(rest, o.copy(commit = v))
    case "--sources" :: v :: rest => parse(rest, o.copy(sources = v))
    case "--tiny" :: rest => parse(rest, o.copy(tiny = true))
    case other => throw new IllegalArgumentException(s"unexpected arguments: $other")
  }

  /** Generation passes in set-up; their median enters `setup_s`. */
  val GenPasses = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val started = System.nanoTime()

  /** Progress on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"linkbench ${(System.nanoTime() - started) / 1e9}%7.2f s: $msg")

  def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def session(o: Opts): SparkSession = {
    // Pinned here, not read from the engine's harness or environment, so
    // engine-side knobs cannot change what the benchmark measures.
    val s = SparkSession.builder()
      .appName("linkbench")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => require(!d.isNaN && !d.isInfinite, "metric is not a finite number"); d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case kv: Map[_, _] => kv.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(s"cannot write $other as JSON")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.work.nonEmpty, "--work is required")
    require(o.seconds > 0, "--seconds must be positive")
    val w = Workload(o.workload, o.seed, o.tiny)
    val load0 = Jvm.loadAvg1()

    val t0 = System.nanoTime()
    val spark = session(o)
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(s"session up, workload ${w.name} seed ${o.seed}")

    val inputs = (1 to GenPasses).map(i => new File(o.work, s"input-$i").getAbsolutePath)
    val genS = inputs.map(d => secondsOf(w.generate(spark, d)))
    val input = inputs.last
    inputs.init.foreach(d => Workload.deleteTree(new File(d)))
    val tableMb = Workload.treeBytes(new File(input)) / (1024.0 * 1024.0)
    log("input written")

    val truth = w.truth
    val oracleS = secondsOf(w.prepareOracle())
    log("oracle done")

    var attempted = 0
    var failed = 0
    def pass(i: Int, traced: Boolean): Rep = {
      val rep = new Rep(spark)
      val listener = if (traced) Some(new LayerListener) else None
      listener.foreach(sc.addSparkListener)
      val dir = new File(o.work, s"pass-$i")
      val t = System.nanoTime()
      try w.run(rep, input, dir.getAbsolutePath)
      catch {
        case NonFatal(e) =>
          // A call that throws is a failed operation, never a timing.
          rep.attempted += 1
          rep.failed += 1
          System.err.println(s"pass $i of ${w.name} threw:")
          e.printStackTrace()
      }
      rep.wall = (System.nanoTime() - t) / 1e9
      listener.foreach { l =>
        val groups = l.totals(sc)
        sc.removeSparkListener(l)
        Catalog.derive(rep, groups, tableMb)
        w.traceExtras(rep, input)
      }
      Workload.deleteTree(dir)
      log(f"pass $i${if (traced) " (traced)" else ""}: ${rep.wall}%.3f s")
      attempted += rep.attempted
      failed += rep.failed
      rep
    }

    val warmS = (1 to w.warmPasses).map(i => pass(-i, traced = false).wall)
    val setupS = sessionS + median(genS) + warmS.sum

    val plain = ArrayBuffer[Rep]()
    val traced = ArrayBuffer[Rep]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 1
    // Start a pass only if a typical pass still fits in the window.
    def fits: Boolean =
      System.nanoTime() + median((plain ++ traced).map(_.wall).toSeq) * 1e9 <= deadline
    while (plain.isEmpty || (o.trace && traced.isEmpty) || fits) {
      val withTrace = o.trace && i % 2 == 0
      (if (withTrace) traced else plain) += pass(i, withTrace)
      i += 1
    }

    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        Seq(
          ("wall_s", "s", median(plain.map(_.wall).toSeq)),
          ("setup_s", "s", setupS),
          ("peak_rss_mb", "MB", Jvm.peakRssMb()))
      } else {
        val special = Map(
          "trace.overhead_s" -> (median(traced.map(_.wall).toSeq) - median(plain.map(_.wall).toSeq)),
          "oracle.s" -> oracleS,
          // Throughput is read from the untraced passes.
          "pagerank.gteps" -> median(plain.map(_.values("pagerank.gteps")).toSeq))
        Catalog.PerLayer.map { case (name, unit) =>
          (name, unit, special.getOrElse(name, median(traced.map(_.values(name)).toSeq)))
        }
      }

    val context = Map(
      "workload" -> w.name, "seed" -> o.seed, "scale" -> w.scale, "edge_factor" -> w.edgeFactor,
      "generated_edges" -> truth.size, "vertices" -> truth.present.count(identity),
      "input_digest" -> truth.digest, "input_table_mb" -> tableMb,
      "nproc" -> o.cores, "load1_start" -> load0, "load1_end" -> Jvm.loadAvg1(),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "git_commit" -> o.commit, "sources_digest" -> o.sources,
      "traced" -> o.trace, "passes" -> (plain.size + traced.size),
      "untraced_wall_s" -> plain.map(_.wall).toSeq, "traced_wall_s" -> traced.map(_.wall).toSeq,
      "setup_session_s" -> sessionS, "setup_generate_s" -> genS, "setup_warmup_s" -> warmS,
      "checks_per_pass" -> (if (plain.isEmpty) 0 else plain.head.attempted))
    spark.stop()
    log("session stopped")

    println(json(Map("context" -> context)))
    println(json(ListMap(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, u, v) => n -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }
}
