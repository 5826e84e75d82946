package graft

import org.apache.spark.sql.DataFrame

import graft.algos.{ConnectedComponents, KCore, LabelPropagation, TriangleCount}
import graft.core.{LinkGraph, SparkTuning}

class WccSpec extends SparkSpec {

  private def runWcc(fixture: String): (Map[Long, Long], Map[Long, Long]) = {
    val edges = loadFixture(fixture)
    val g = graphOf(edges).symmetrize
    val res = ConnectedComponents.run(g)
    assert(res.converged)
    val got = res.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = RefOracles.wcc(edges, vertices)
    (got, want)
  }

  test("wcc on karate: single component, canonical min label") {
    val (got, want) = runWcc("karate")
    assert(got == RefOracles.canonicalize(want))
    assert(got.values.toSet == Set(0L))
  }

  test("wcc on karate-disjoint: two components, exact after canonicalization") {
    val (got, want) = runWcc("karate-disjoint")
    assert(got == RefOracles.canonicalize(want))
    assert(got.values.toSet.size == 2)
  }

  test("wcc isolated vertex forms its own component") {
    val edges = Seq((0L, 1L, 1.0), (2L, 2L, 1.0)) // 2 only self-loops
    val g = graphOf(edges).symmetrize
    val got = ConnectedComponents.run(g).components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }
}

class LpaSpec extends SparkSpec {

  test("lpa matches pinned deterministic oracle on karate") {
    val edges = loadFixture("karate")
    val g = graphOf(edges).symmetrize
    val res = LabelPropagation.run(g, LabelPropagation.Config(maxIter = 20))
    val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = RefOracles.lpa(edges, vertices, maxIter = 20)
    assert(got == want)
  }

  test("lpa matches oracle on dolphins") {
    val edges = loadFixture("dolphins")
    val g = graphOf(edges).symmetrize
    val got = LabelPropagation.run(g, LabelPropagation.Config(maxIter = 20))
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(got == RefOracles.lpa(edges, vertices, maxIter = 20))
  }

  test("lpa star graph converges to hub-ish labeling deterministically") {
    // star: center 0, leaves 1..5
    val edges = (1L to 5L).flatMap(i => Seq((0L, i, 1.0), (i, 0L, 1.0)))
    val g = graphOf(edges)
    val got = LabelPropagation.run(g, LabelPropagation.Config(maxIter = 10))
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = RefOracles.lpa(edges, 0L to 5L, maxIter = 10)
    assert(got == want)
  }
}

class TriangleCountSpec extends SparkSpec {

  private def check(
      fixture: String, run: LinkGraph => DataFrame = TriangleCount.run): Unit = {
    val edges = loadFixture(fixture)
    val g = graphOf(edges).symmetrize
    val got = run(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = RefOracles.triangles(edges, vertices)
    assert(got == want, s"$fixture per-vertex triangle mismatch")
  }

  test("triangle counts exact on karate (45 triangles total)") {
    val edges = loadFixture("karate")
    val g = graphOf(edges).symmetrize
    val per = TriangleCount.run(g)
    assert(TriangleCount.total(per) == 45L)
    check("karate")
  }

  test("triangle counts exact on dolphins") { check("dolphins") }

  test("triangle counts ignore self-loops and multi-edges") {
    check("karate_s_loop")
    val edges = loadFixture("karate_multi_edge")
    val g = graphOf(edges).symmetrize
    val got = TriangleCount.run(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(got == RefOracles.triangles(edges, vertices))
  }

  test("shuffled plan past the adjacency bound: exact on karate, dolphins, multi-edges, self-loops") {
    // Nothing broadcast: the bound is forced to 0 and Spark's own
    // size-based broadcast, which these small inputs would pass, is off.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def shuffled(g: LinkGraph): DataFrame = {
      spark.conf.set(key, "-1")
      try SparkTuning.withGraph(g)(TriangleCount.runImpl(_, adjBytes = 0L))
      finally spark.conf.unset(key)
    }
    Seq("karate", "dolphins", "karate_multi_edge", "karate_s_loop")
      .foreach(check(_, shuffled))
  }

  test("two-core prunes trees entirely") {
    // path 0-1-2-3 has no 2-core
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0))
    val g = graphOf(edges).symmetrize
    assert(KCore.subgraph(g, 2).graph.edges.count() == 0L)
    val counts = TriangleCount.run(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 0L))
  }

  test("run on a caller-cached graph keeps only the result's own cache") {
    val g = graphOf(loadFixture("karate")).symmetrize.cached()
    g.edges.count()
    val sc = spark.sparkContext
    // Ids, not a count: the context cleaner may drop older RDDs meanwhile.
    val before = sc.getPersistentRDDs.keySet
    val out = TriangleCount.run(g)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(TriangleCount.total(out) == 45L)
    g.unpersist()
  }
}
