package linkbench

import org.apache.spark.sql.SparkSession

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.LinkGraph

/**
 * The benchmark's test of its own output checks: on a small RMAT graph
 * the engine's outputs pass every check, and a copy with one value
 * perturbed on purpose fails it. Exits non-zero on the first surprise.
 *
 *   linkbench.SelfTest <scratch dir>
 */
object SelfTest {

  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: linkbench.SelfTest <scratch dir>")
    val spark = Main.session(Main.Opts(work = args(0), cores = 2))
    try run(spark) finally spark.stop()
    if (failures > 0) {
      System.err.println(s"$failures self-test expectation(s) failed")
      sys.exit(1)
    }
  }

  private def run(spark: SparkSession): Unit = {
    import spark.implicits._
    val e = Oracle.rmat(seed = 7L, scale = 8, edgeFactor = 8)
    val n = e.n
    expect(e.digest != Oracle.rmat(seed = 8L, scale = 8, edgeFactor = 8).digest,
      "two seeds give different inputs")

    val df = e.src.indices.map(i => (e.src(i).toLong, e.dst(i).toLong)).toDF("src", "dst")
    val g = LinkGraph.fromEdges(df, "src", "dst").cached()
    val sym = g.symmetrize.cached()
    val adj = Oracle.undirected(e)

    val ranks = Workload.doublesById(PageRank.run(g).ranks, n)
    val expectedRank = Oracle.pagerank(e)._1
    expect(Checks.ranks("pagerank", expectedRank, ranks).isEmpty, "engine ranks pass")
    val v = expectedRank.indexWhere(!_.isNaN)
    val offRank = ranks.clone()
    offRank(v) += 1e-5
    expect(Checks.ranks("pagerank", expectedRank, offRank).nonEmpty, "a rank off by 1e-5 fails")
    val missing = ranks.clone()
    missing(v) = Double.NaN
    expect(Checks.ranks("pagerank", expectedRank, missing).nonEmpty, "a missing vertex fails")

    val comp = Workload.longsById(ConnectedComponents.run(sym).components, n)
    val expectedComp = Oracle.wcc(e)
    expect(Checks.labels("wcc", expectedComp, comp).isEmpty, "engine WCC labels pass")
    val offComp = comp.clone()
    val c = offComp.indexWhere(_ >= 0)
    offComp(c) += 1
    expect(Checks.labels("wcc", expectedComp, offComp).nonEmpty, "one changed WCC label fails")

    val maxIter = 20
    val label = Workload.longsById(
      LabelPropagation.run(sym, LabelPropagation.Config(maxIter = maxIter)).labels, n)
    val expectedLabel = Oracle.lpa(e, adj, maxIter)
    expect(Checks.labels("lpa", expectedLabel, label).isEmpty, "engine LPA labels pass")
    val offLabel = label.clone()
    val l = offLabel.indexWhere(_ >= 0)
    offLabel(l) += 1
    expect(Checks.labels("lpa", expectedLabel, offLabel).nonEmpty, "one changed LPA label fails")

    val tri = Workload.longsById(TriangleCount.run(sym), n)
    val expectedTri = Oracle.triangles(e, adj)
    expect(Checks.counts("triangles", expectedTri, tri).isEmpty, "engine triangle counts pass")
    expect(tri.exists(_ > 0), "the test graph has triangles")
    val dropped = tri.clone()
    val t = dropped.indexWhere(_ > 0)
    dropped(t) -= 1
    expect(Checks.counts("triangles", expectedTri, dropped).nonEmpty,
      "one dropped triangle credit fails")

    expect(Checks.edges("edges", e, e.src, e.dst).isEmpty, "the same edge multiset passes")
    expect(Checks.edges("edges", e, e.src.init, e.dst.init).nonEmpty, "a dropped edge fails")
    val moved = e.dst.clone()
    moved(0) = (moved(0) + 1) % n
    expect(Checks.edges("edges", e, e.src, moved).nonEmpty, "a moved edge fails")

    sym.unpersist()
    g.unpersist()
  }
}
