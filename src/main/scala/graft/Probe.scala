package graft

import org.apache.spark.sql.SparkSession

import graft.algos.PageRank
import graft.core.LinkGraph

/** Ad-hoc performance probe: per-iteration PageRank timings on a cached
 * RMAT edge table. Usage: runMain graft.Probe <cpus> <scale> [partsMult]. */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val scale = args(1).toInt
    val mult = args.lift(2).map(_.toInt).getOrElse(1)
    val parts = cpus * mult
    val path = s"/tmp/graft-probe-edges-s$scale"

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      val s = Bench.newSession("32")
      import s.implicits._
      s.range((1L << scale) * 16)
        .map(i => graft.corpus.Rmat.edge(42L, i, scale))
        .toDF("src", "dst").write.mode("overwrite").parquet(path)
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE_COALESCE", "false"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    val g = LinkGraph.fromEdges(s.read.parquet(path), "src", "dst",
      numPartitions = parts).cached()
    val e = g.numEdges
    val t0 = System.nanoTime()
    val r = PageRank.run(g)
    println(f"[probe] run-returned ${(System.nanoTime() - t0) / 1e9}%.2f")
    r.ranks.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[probe] cpus=$cpus parts=$parts scale=$scale edges=$e " +
      f"iters=${r.iterations} sec=$sec%.2f " +
      f"gteps=${r.iterations * e / sec / 1e9}%.6f")
    s.stop()
  }
}

/** Bipartiteness scale probe: Bipartite.check (one WCC over the
 * 2x-edge double cover) vs plain WCC on the same symmetrized RMAT
 * graph — evidences that the test rides the WCC scale path at ~2x
 * its cost. Usage: runMain graft.BipartiteProbe [scale] [cpus]. */
object BipartiteProbe {
  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(18)
    val cpus = args.lift(1).map(_.toInt).getOrElse(32)
    val s = Bench.newSession(cpus.toString)
    import s.implicits._
    val edges = s.range((1L << scale) * 16)
      .map(i => graft.corpus.Rmat.edge(42L, i, scale))
      .toDF("src", "dst")
    val g = LinkGraph.fromEdges(edges, "src", "dst",
      numPartitions = cpus).symmetrize.cached()
    val e = g.numEdges
    graft.algos.ConnectedComponents.run(g).components.count() // warmup
    val t0 = System.nanoTime()
    graft.algos.ConnectedComponents.run(g).components.count()
    val wccSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val r = graft.algos.Bipartite.check(g)
    val bipSec = (System.nanoTime() - t1) / 1e9
    println(f"BIPARTITE scale=$scale edges=$e wcc=$wccSec%.2fs " +
      f"bipartite=$bipSec%.2fs ratio=${bipSec / wccSec}%.2f " +
      f"result=${r.isBipartite} merged=${r.merged}")
    s.stop()
  }
}

/** Direction-optimization probe: BFS wall-clock push-only vs auto
 * (push/pull) on a symmetrized RMAT graph, where the middle
 * supersteps' frontier covers most vertices. Usage:
 * runMain graft.BfsDirProbe [scale] [cpus]. */
object BfsDirProbe {
  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(20)
    val cpus = args.lift(1).map(_.toInt).getOrElse(32)
    val s = Bench.newSession(cpus.toString)
    import s.implicits._
    val edges = s.range((1L << scale) * 16)
      .map(i => graft.corpus.Rmat.edge(42L, i, scale))
      .toDF("src", "dst")
    val g = LinkGraph.fromEdges(edges, "src", "dst",
      numPartitions = cpus).symmetrize.cached()
    g.edges.count()
    val root = g.edges.agg(org.apache.spark.sql.functions.min("src"))
      .head().getLong(0)
    def timeIt(pull: Option[Boolean]): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = graft.algos.Bfs.run(g, Seq(root),
        graft.algos.Bfs.Config(pull = pull)).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    timeIt(Some(false)) // warmup
    val (pushSec, nPush) = timeIt(Some(false))
    val (autoSec, nAuto) = timeIt(None)
    println(f"BFSDIR scale=$scale push=$pushSec%.2fs auto=$autoSec%.2fs " +
      f"reached_push=$nPush reached_auto=$nAuto")
    s.stop()
  }
}
