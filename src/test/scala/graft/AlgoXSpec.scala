package graft

import org.apache.spark.sql.functions._

import graft.algos.{Betweenness, Bfs, Coarsen, ConnectedComponents, CoreNumber,
  Eigenvector, Hits, Katz, LabelPropagation, Leiden, Louvain, PageRank, Similarity}

class KatzSpec extends SparkSpec {
  test("katz matches reference-semantics oracle on karate") {
    val edges = loadFixture("karate")
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val g = graphOf(edges)
    val r = Katz.run(g, Katz.Config(alpha = 0.1, beta = 1.0, tol = 1e-6))
    assert(r.converged)
    val got = r.centralities.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val want = RefOraclesX.katz(edges, vs, 0.1, 1.0, 1e-6, 100, normalize = true)
    want.foreach { case (v, x) => assert(math.abs(got(v) - x) < 1e-5) }
  }
}

class HitsSpec extends SparkSpec {
  test("hits hubs/authorities match oracle on karate") {
    val edges = loadFixture("karate")
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val g = graphOf(edges)
    val r = Hits.run(g, Hits.Config(tol = 1e-7))
    assert(r.converged)
    val got = r.scores.collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    val want = RefOraclesX.hits(edges, vs, 1e-7, 100)
    want.foreach { case (v, (h, a)) =>
      assert(math.abs(got(v)._1 - h) < 1e-5, s"hub($v)")
      assert(math.abs(got(v)._2 - a) < 1e-5, s"auth($v)")
    }
  }
}

class EigenvectorSpec extends SparkSpec {
  test("eigenvector centrality matches oracle on karate") {
    val edges = loadFixture("karate")
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val g = graphOf(edges)
    val r = Eigenvector.run(g, Eigenvector.Config(tol = 1e-8))
    assert(r.converged)
    val got = r.centralities.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val want = RefOraclesX.eigenvector(edges, vs, 1e-8, 100)
    want.foreach { case (v, x) => assert(math.abs(got(v) - x) < 1e-5) }
  }
}

class CoreNumberSpec extends SparkSpec {
  test("core numbers match classic peel oracle on karate + dolphins") {
    for (fx <- Seq("karate", "dolphins")) {
      val edges = loadFixture(fx)
      val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val g = graphOf(edges).symmetrize
      val got = CoreNumber.run(g).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == RefOraclesX.coreNumber(edges, vs), fx)
    }
  }

  test("2-core of a path is empty, core of a triangle is 2") {
    val s = spark
    val path = graphOf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0))).symmetrize
    val gotP = CoreNumber.run(path).collect().map(x => x.getLong(1)).toSet
    assert(gotP == Set(1L))
    val tri = graphOf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0))).symmetrize
    val gotT = CoreNumber.run(tri).collect().map(x => x.getLong(1)).toSet
    assert(gotT == Set(2L))
  }

  /** Host oracle: typed-degree core numbers by the classic sequential
   * min-degree peel (remove the min-typed-degree vertex; its core is
   * the running max of its typed degree at removal). */
  private def typedCoreOracle(
      edges: Set[(Long, Long)],
      deg: (Long, scala.collection.Set[(Long, Long)]) => Int)
      : Map[Long, Long] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2))
    val live = scala.collection.mutable.Set[(Long, Long)](edges.toSeq: _*)
    val alive = scala.collection.mutable.Set[Long](vs.toSeq: _*)
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 0L
    while (alive.nonEmpty) {
      val v = alive.minBy(u => (deg(u, live), u))
      k = math.max(k, deg(v, live).toLong)
      core(v) = k
      alive -= v
      live.retain(e => e._1 != v && e._2 != v)
    }
    core.toMap
  }

  test("degree_type IN/OUT/INOUT on a directed graph match the peel") {
    // Directed fixture: two 3-cycles + cross edges + a source/sink tail.
    val de = Set(
      (0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L),
      (0L, 3L), (1L, 4L), (2L, 5L), (5L, 0L),
      (6L, 0L), (2L, 7L))
    val g = graphOf(de.toSeq.map(e => (e._1, e._2, 1.0)))
    def got(t: CoreNumber.DegreeType): Map[Long, Long] =
      CoreNumber.run(g, degreeType = t).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val outOracle = typedCoreOracle(de, (v, e) => e.count(_._1 == v))
    val inOracle = typedCoreOracle(de, (v, e) => e.count(_._2 == v))
    val ioOracle = typedCoreOracle(de,
      (v, e) => e.count(x => x._1 == v || x._2 == v))
    assert(got(CoreNumber.Out) == outOracle, "OUT")
    assert(got(CoreNumber.In) == inOracle, "IN")
    assert(got(CoreNumber.InOut) == ioOracle, "INOUT")
  }

  test("k-core subgraph degree_type variants peel directed graphs") {
    import graft.algos.KCore
    val de = Set(
      (0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L),
      (0L, 3L), (1L, 4L), (2L, 5L), (5L, 0L),
      (6L, 0L), (2L, 7L))
    val g = graphOf(de.toSeq.map(e => (e._1, e._2, 1.0)))
    def peel(k: Int, deg: (Long, Set[(Long, Long)]) => Int)
        : Set[(Long, Long)] = {
      var cur = de
      var done = false
      while (!done) {
        val vs = cur.flatMap(e => Seq(e._1, e._2))
        val keep = vs.filter(v => deg(v, cur) >= k)
        val next = cur.filter(e => keep(e._1) && keep(e._2))
        done = next == cur
        cur = next
      }
      cur
    }
    def got(k: Int, t: CoreNumber.DegreeType): Set[(Long, Long)] =
      KCore.subgraph(g, k, degreeType = t).edges
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got(1, CoreNumber.Out) == peel(1, (v, e) => e.count(_._1 == v)))
    assert(got(1, CoreNumber.In) == peel(1, (v, e) => e.count(_._2 == v)))
    assert(got(3, CoreNumber.InOut) ==
      peel(3, (v, e) => e.count(x => x._1 == v || x._2 == v)))
  }
}

class BfsSpec extends SparkSpec {
  test("bfs distances match oracle; predecessors valid") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val got = Bfs.run(g, Seq(0L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = RefOraclesX.bfs(edges, Seq(0L))
    assert(got.view.mapValues(_._1).toMap == want)
    // predecessor of each non-source lies one hop closer
    got.foreach { case (v, (d, p)) =>
      if (v != 0L) assert(want(p) == d - 1, s"pred($v)")
    }
  }

  test("bfs on disjoint component leaves it unreached") {
    val edges = Seq((0L, 1L, 1.0), (5L, 6L, 1.0))
    val got = Bfs.run(graphOf(edges), Seq(0L)).collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L))
  }

  test("push, pull, and auto direction produce identical results") {
    for (fx <- Seq("karate", "dolphins")) {
      val g = graphOf(loadFixture(fx))
      def res(pull: Option[Boolean]): Map[Long, (Long, Long)] =
        Bfs.run(g, Seq(0L), Bfs.Config(pull = pull)).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val push = res(Some(false))
      val pull = res(Some(true))
      val auto = res(None)
      assert(pull == push, s"$fx pull vs push")
      assert(auto == push, s"$fx auto vs push")
    }
  }
}

class EgonetSpec extends SparkSpec {
  test("radius-2 egonets equal host BFS-bounded induced subgraphs") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val adj = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      .withDefaultValue(Nil)
    import spark.implicits._
    val seeds = Seq(0L, 33L)
    val got = graft.algos.Egonet.extract(g, seeds.toDF("id"), radius = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = seeds.flatMap { s =>
      var reach = Set(s)
      for (_ <- 1 to 2) reach = reach ++ reach.flatMap(adj)
      edges.collect {
        case (u, v, _) if reach(u) && reach(v) => (s, u, v)
      }
    }.toSet
    assert(got == want)
  }
}

class CoarsenSpec extends SparkSpec {
  test("coarsen contracts labels and sums weights") {
    val s = spark
    import s.implicits._
    val g = graphOf(Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0), (0L, 3L, 4.0)))
    val labels = Seq((0L, 10L), (1L, 10L), (2L, 20L), (3L, 20L))
      .toDF("id", "label")
    val got = Coarsen.run(g, labels).edges.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((10L, 10L) -> 1.0, (10L, 20L) -> 6.0, (20L, 20L) -> 3.0))
  }
}

class SimilaritySpec extends SparkSpec {
  test("jaccard/sorensen/overlap agree with set-math oracle on karate edges") {
    val edges = loadFixture("karate")
    val g = graphOf(edges).symmetrize
    val nbrs = edges.flatMap { case (s, d, _) => Seq(s -> d, d -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def oracle(u: Long, v: Long): (Double, Double, Double) = {
      val i = (nbrs(u) & nbrs(v)).size.toDouble
      val (a, b) = (nbrs(u).size.toDouble, nbrs(v).size.toDouble)
      (i / (a + b - i), 2 * i / (a + b), i / math.min(a, b))
    }
    val jac = Similarity.run(g, Similarity.Jaccard).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sor = Similarity.run(g, Similarity.Sorensen).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ovl = Similarity.run(g, Similarity.Overlap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    jac.keys.foreach { case (u, v) =>
      val (j, s2, o) = oracle(u, v)
      assert(math.abs(jac((u, v)) - j) < 1e-12)
      assert(math.abs(sor((u, v)) - s2) < 1e-12)
      assert(math.abs(ovl((u, v)) - o) < 1e-12)
    }
  }
}

class EmptyGraphSpec extends SparkSpec {
  test("an empty edge table gives 0 rows with each algorithm's documented columns") {
    val g = graphOf(Seq.empty)
    val results = Seq(
      PageRank.run(g).ranks -> Seq("id", "pagerank"),
      Katz.run(g).centralities -> Seq("id", "katz"),
      Eigenvector.run(g).centralities -> Seq("id", "eigenvector"),
      Hits.run(g).scores -> Seq("id", "hub", "auth"),
      ConnectedComponents.run(g).components -> Seq("id", "component"),
      LabelPropagation.run(g).labels -> Seq("id", "label"),
      Betweenness.run(g) -> Seq("id", "bc"),
      Betweenness.runEdges(g) -> Seq("src", "dst", "bc"),
      Louvain.run(g).labels -> Seq("id", "community"),
      Leiden.run(g).labels -> Seq("id", "community"))
    results.foreach { case (df, cols) =>
      assert(df.columns.toSeq == cols)
      assert(df.count() == 0L, cols.mkString(","))
    }
  }
}
