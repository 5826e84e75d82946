package linkbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.checkpoint.CheckpointManager
import graft.core.LinkGraph
import graft.corpus.{PagesCorpus, Rmat}
import graft.extract.{LinkExtractor, WebGraph}

/**
 * One benchmark workload. `generate` writes the input with the engine's
 * generators during set-up; `prepareOracle` computes the expected outputs
 * on the driver; `run` is one timed pass, from reading the input to every
 * per-vertex result collected and checked.
 */
abstract class Workload(val seed: Long, val scale: Int, val edgeFactor: Int) {
  def name: String

  /** Untimed passes in set-up. The JIT keeps speeding passes up for about
   * 20 s of work; two short passes or one long one get past the steepest
   * part of that curve. */
  def warmPasses: Int = 2

  /** The generator's ground-truth edge list. */
  lazy val truth: Oracle.Edges = Oracle.rmat(seed, scale, edgeFactor)

  def generate(spark: SparkSession, dir: String): Unit
  def prepareOracle(): Unit
  def run(rep: Rep, dir: String, work: String): Unit

  /** Extra traced-only measurements, made outside the timed pass. */
  def traceExtras(rep: Rep, dir: String): Unit = ()

  protected def partitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  protected val Alpha = 0.85
  protected val Tol = 1e-6
}

object Workload {
  val Names = Seq("web-ingest", "graph-analytics", "checkpointed-supersteps")

  /** Sizes for the benchmark runs, and a tiny one for its own test.
   *
   * The iteration counts of these sizes barely move with the seed (over
   * seeds 1-10: PageRank 9 on web-ingest, WCC 4 on graph-analytics), so a
   * run's wall time reflects the engine, not the draw. LPA is capped: on
   * dense RMAT graphs it either converges in 4-5 supersteps or 2-cycles up
   * to any cap, depending on the seed, so graph-analytics caps it at 4.
   * checkpointed-supersteps measures the fixed cost of a superstep and a
   * commit, not convergence, so it runs a fixed number of supersteps
   * (PageRank 6, LPA 3) and stays inside its time budget. */
  def apply(name: String, seed: Long, tiny: Boolean): Workload = name match {
    case "web-ingest" => new WebIngest(seed, if (tiny) 8 else 11, 24)
    case "graph-analytics" => new GraphAnalytics(seed, if (tiny) 8 else 10, 16, lpaIters = 4)
    case "checkpointed-supersteps" =>
      new CheckpointedSupersteps(seed, if (tiny) 8 else 12, 4, prIters = 6, lpaIters = 3)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  /** (id, value) rows into an array indexed by id, -1 where absent. */
  def longsById(df: DataFrame, n: Int): Array[Long] = {
    val out = Array.fill(n)(-1L)
    df.collect().foreach { r =>
      val id = r.getLong(0)
      require(id >= 0 && id < n && out(id.toInt) == -1L, s"bad or repeated vertex id $id")
      out(id.toInt) = r.getLong(1)
    }
    out
  }

  def doublesById(df: DataFrame, n: Int): Array[Double] = {
    val out = Array.fill(n)(Double.NaN)
    df.collect().foreach { r =>
      val id = r.getLong(0)
      require(id >= 0 && id < n && out(id.toInt).isNaN, s"bad or repeated vertex id $id")
      out(id.toInt) = r.getDouble(1)
    }
    out
  }

  /** The `load` and `symmetrize` layers over an edge table: the cached
   * directed graph, its cached symmetric view and the input row count. */
  def loadAndSymmetrize(rep: Rep, dir: String): (LinkGraph, LinkGraph, Long) = {
    val (g, rows) = rep.layer("load") {
      val g = LinkGraph.fromEdges(rep.spark.read.parquet(dir), "src", "dst").cached()
      (g, g.edges.count())
    }
    val sym = rep.layer("symmetrize") {
      val s = g.symmetrize.cached()
      rep.values("symmetrize.rows_ratio") = s.edges.count().toDouble / rows
      s
    }
    (g, sym, rows)
  }

  /** Writes the RMAT edge table (src, dst) of `Rmat.edge(seed, i, scale)`. */
  def writeRmat(spark: SparkSession, seed: Long, scale: Int, edgeFactor: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range((1L << scale) * edgeFactor)
      .map { i => Rmat.edge(seed, i, scale) }
      .toDF("src", "dst")
      .write.mode("overwrite").parquet(dir)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  def countFiles(f: File, name: String): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles(_, name)).sum).getOrElse(0)
    else if (f.getName == name) 1 else 0
}

/** Pages table → extract → renumber → build → cache → PageRank to 1e-6. */
final class WebIngest(seed: Long, scale: Int, edgeFactor: Int)
    extends Workload(seed, scale, edgeFactor) {
  def name = "web-ingest"

  private var expectedId: Array[Int] = _
  private var expectedRank: Array[Double] = _

  def generate(spark: SparkSession, dir: String): Unit =
    PagesCorpus.write(PagesCorpus.pages(spark, seed, scale, edgeFactor), dir)

  def prepareOracle(): Unit = {
    val (id, renumbered) = Oracle.renumber(truth)
    expectedId = id
    expectedRank = Oracle.pagerank(renumbered, Alpha, Tol)._1
  }

  def run(rep: Rep, dir: String, work: String): Unit = {
    val spark = rep.spark
    val (built, g) = rep.layer("ingest") {
      val b = WebGraph.fromPages(PagesCorpus.read(spark, dir), partitions(spark))
      val g = b.graph.cached()
      g.edges.count()
      (b, g)
    }
    val (gotId, src, dst) = rep.layer("verify") {
      val gotId = Array.fill(truth.n)(-1L)
      built.urlMap.select("url", "id").collect().foreach { r =>
        val url = r.getString(0)
        val v = url.substring(url.lastIndexOf('/') + 1).toInt
        require(v >= 0 && v < truth.n && PagesCorpus.urlOf(v) == url && gotId(v) == -1L,
          s"url map holds an unexpected or repeated url $url")
        gotId(v) = r.getLong(1)
      }
      val e = g.edges.select("src", "dst").collect()
      (gotId, e.map(_.getLong(0)), e.map(_.getLong(1)))
    }
    rep.check(Checks.labels("ingest ids", expectedId, gotId))
    // Map the engine's ids back to generator vertices through its own url map.
    val vertexOf = Array.fill(expectedRank.length)(-1)
    gotId.indices.foreach { v =>
      val id = gotId(v)
      if (id >= 0 && id < vertexOf.length) vertexOf(id.toInt) = v
    }
    def toVertex(id: Long): Int = if (id >= 0 && id < vertexOf.length) vertexOf(id.toInt) else -1
    rep.check(Checks.edges("ingest edges", truth, src.map(toVertex), dst.map(toVertex)))

    val ranks = rep.layer("pagerank") {
      val r = PageRank.run(g, PageRank.Config(alpha = Alpha, tol = Tol))
      rep.values("pagerank.iters") = r.iterations
      Workload.doublesById(r.ranks, expectedRank.length)
    }
    rep.values("pagerank.gteps") =
      rep.values("pagerank.iters") * src.length / rep.values("pagerank.s") / 1e9
    rep.check(Checks.ranks("pagerank", expectedRank, ranks))
    g.unpersist()
  }

  override def traceExtras(rep: Rep, dir: String): Unit = {
    rep.layer("extract") {
      LinkExtractor.pagesToEdges(PagesCorpus.read(rep.spark, dir)).count()
    }
    rep.values("ingest.extract_s") = rep.values("extract.s")
  }
}

/** RMAT edge table → load → symmetrize → WCC → LPA → triangle count. */
final class GraphAnalytics(seed: Long, scale: Int, edgeFactor: Int, lpaIters: Int)
    extends Workload(seed, scale, edgeFactor) {
  def name = "graph-analytics"

  private var expectedComp: Array[Int] = _
  private var expectedLabel: Array[Int] = _
  private var expectedTri: Array[Long] = _

  def generate(spark: SparkSession, dir: String): Unit =
    Workload.writeRmat(spark, seed, scale, edgeFactor, dir)

  def prepareOracle(): Unit = {
    val adj = Oracle.undirected(truth)
    expectedComp = Oracle.wcc(truth)
    expectedLabel = Oracle.lpa(truth, adj, lpaIters)
    expectedTri = Oracle.triangles(truth, adj)
  }

  def run(rep: Rep, dir: String, work: String): Unit = {
    val n = truth.n
    val (g, sym, _) = Workload.loadAndSymmetrize(rep, dir)
    g.unpersist()
    val comp = rep.layer("wcc") {
      val r = ConnectedComponents.run(sym)
      rep.values("wcc.iters") = r.iterations
      Workload.longsById(r.components, n)
    }
    val label = rep.layer("lpa") {
      val r = LabelPropagation.run(sym, LabelPropagation.Config(maxIter = lpaIters))
      rep.values("lpa.iters") = r.iterations
      Workload.longsById(r.labels, n)
    }
    val tri = rep.layer("triangles") {
      Workload.longsById(TriangleCount.run(sym), n)
    }
    rep.values("triangles.count") = tri.filter(_ > 0).sum / 3.0
    sym.unpersist()
    rep.check(Checks.labels("wcc", expectedComp, comp))
    rep.check(Checks.labels("lpa", expectedLabel, label))
    rep.check(Checks.counts("triangles", expectedTri, tri))
  }
}

/**
 * Sparse RMAT graph; PageRank and LPA each run `prIters` and `lpaIters`
 * supersteps, once plain and once committing a checkpoint every
 * superstep. The checkpointed PageRank is stopped at half its supersteps
 * and a fresh call resumes it to the end. WCC, the same superstep shape
 * as LPA, runs on graph-analytics only, to keep this workload inside its
 * time budget.
 */
final class CheckpointedSupersteps(
    seed: Long, scale: Int, edgeFactor: Int, prIters: Int, lpaIters: Int)
    extends Workload(seed, scale, edgeFactor) {
  def name = "checkpointed-supersteps"
  override def warmPasses: Int = 1

  private var expectedRank: Array[Double] = _
  private var expectedLabel: Array[Int] = _

  def generate(spark: SparkSession, dir: String): Unit =
    Workload.writeRmat(spark, seed, scale, edgeFactor, dir)

  def prepareOracle(): Unit = {
    expectedRank = Oracle.pagerank(truth, Alpha, Tol, prIters)._1
    expectedLabel = Oracle.lpa(truth, Oracle.undirected(truth), lpaIters)
  }

  def run(rep: Rep, dir: String, work: String): Unit = {
    val spark = rep.spark
    val n = truth.n
    val prCfg = PageRank.Config(alpha = Alpha, tol = Tol, maxIter = prIters)
    val lpaCfg = LabelPropagation.Config(maxIter = lpaIters)
    val (g, sym, rows) = Workload.loadAndSymmetrize(rep, dir)

    val (ranks, ranIters) = rep.layer("pagerank") {
      val r = PageRank.run(g, prCfg)
      rep.values("pagerank.iters") = r.iterations
      (Workload.doublesById(r.ranks, n), r.iterations)
    }
    rep.values("pagerank.gteps") = ranIters.toDouble * rows / rep.values("pagerank.s") / 1e9
    val label = rep.layer("lpa") {
      val r = LabelPropagation.run(sym, lpaCfg)
      rep.values("lpa.iters") = r.iterations
      Workload.longsById(r.labels, n)
    }
    rep.check(Checks.ranks("pagerank", expectedRank, ranks))
    rep.check(Checks.labels("lpa", expectedLabel, label))

    // The same two runs, committing every superstep. PageRank's is a job
    // killed halfway (maxIter = half) and a fresh call that resumes it from
    // the last commit to the end.
    val ckRoot = new File(work, "checkpoint")
    val cm = Some(new CheckpointManager(ckRoot.getAbsolutePath, spark))
    val half = math.max(1, ranIters / 2)
    rep.layer("checkpoint") {
      PageRank.run(g, prCfg.copy(maxIter = half, checkpointEvery = 1, checkpoint = cm)).ranks.count()
    }
    val resumed = rep.layer("resume") {
      val r = PageRank.run(g, prCfg.copy(checkpointEvery = 1, checkpoint = cm))
      rep.values("resume.iters") = r.iterations - half
      Workload.doublesById(r.ranks, n)
    }
    val ckLabel = rep.layer("checkpoint") {
      Workload.longsById(LabelPropagation.run(sym,
        lpaCfg.copy(checkpointEvery = 1, checkpoint = cm)).labels, n)
    }
    rep.values("checkpoint.s") += rep.values("resume.s") -
      (rep.values("pagerank.s") + rep.values("lpa.s"))
    rep.values("checkpoint.commits") = Workload.countFiles(ckRoot, "manifest.json")
    rep.values("checkpoint.mb_written") = Workload.treeBytes(ckRoot) / (1024.0 * 1024.0)
    rep.check(Checks.ranks("resumed pagerank", expectedRank, resumed))
    rep.check(Checks.ranks("resumed pagerank vs uninterrupted", ranks, resumed))
    rep.check(Checks.labels("checkpointed lpa", expectedLabel, ckLabel))
    sym.unpersist()
    g.unpersist()
  }
}
