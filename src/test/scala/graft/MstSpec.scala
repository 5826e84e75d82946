package graft

import graft.algos.{Bfs, ExtractPaths, Mst}

/**
 * MST vs a host Kruskal under the SAME unique lexicographic key
 * (weight, src, dst): the perturbed total order makes the minimum
 * spanning forest unique, so the distributed Borůvka, the host
 * Kruskal, and the SQL oracle must produce the identical edge set
 * (reference mst test strategy: cpp/tests/tree/mst_test.cpp compares
 * total weight vs a host MST).
 */
class MstSpec extends SparkSpec {

  /** Host Kruskal over canonical (src<dst, min-weight-deduped) edges,
   * ordered by (w, src, dst), union-find. */
  private def kruskal(
      edges: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] = {
    val canon = edges
      .map { case (u, v, w) => (math.min(u, v), math.max(u, v), w) }
      .groupBy(e => (e._1, e._2))
      .map { case ((u, v), es) => (u, v, es.map(_._3).min) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = scala.collection.mutable.Set[(Long, Long, Double)]()
    canon.foreach { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(ru) = rv; out += ((u, v, w)) }
    }
    out.toSet
  }

  private def gotForest(edges: Seq[(Long, Long, Double)])
      : (Set[(Long, Long, Double)], Int) = {
    val r = Mst.forest(graphOf(edges))
    (r.forest.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet, r.rounds)
  }

  test("mst on karate (unit weights -> lexicographic) matches Kruskal") {
    val edges = loadFixture("karate")
    val (got, rounds) = gotForest(edges)
    val want = kruskal(edges)
    assert(got == want)
    assert(got.size == edges.flatMap(e => Seq(e._1, e._2)).distinct.size - 1)
    assert(rounds <= 12)
  }

  test("mst with distinct weights matches Kruskal; forest on disjoint") {
    // Two components with deterministic distinct weights.
    val edges = Seq(
      (0L, 1L, 4.0), (1L, 2L, 1.0), (2L, 0L, 3.0), (2L, 3L, 2.0),
      (3L, 0L, 7.0),
      (10L, 11L, 5.0), (11L, 12L, 6.0), (12L, 10L, 0.5)).flatMap {
      case (u, v, w) => Seq((u, v, w), (v, u, w))
    }
    val (got, _) = gotForest(edges)
    val want = kruskal(edges)
    assert(got == want)
    // spanning forest: V - #components edges (7 vertices, 2 components)
    assert(got.size == 7 - 2)
    assert(math.abs(got.toSeq.map(_._3).sum -
      want.toSeq.map(_._3).sum) < 1e-12)
  }

  test("distributed pointer-jump merge path matches the driver union-find") {
    // mergeCollectThreshold = 0 forces the hash-to-min pointer-jump
    // closure (the >threshold scale path) on a long weighted path —
    // the pick graph is then a deep chain, the closure's worst case.
    val edges = (0L until 64L).flatMap { i =>
      val w = ((i * 37) % 61 + 1).toDouble
      Seq((i, i + 1, w), (i + 1, i, w))
    }
    val viaJump = Mst.forest(graphOf(edges),
        Mst.Config(mergeCollectThreshold = 0L)).forest.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaJump == kruskal(edges))
    assert(viaJump == gotForest(edges)._1)
  }

  test("maximum spanning forest = Kruskal on negated weights") {
    val edges = Seq(
      (0L, 1L, 4.0), (1L, 2L, 1.0), (2L, 0L, 3.0), (2L, 3L, 2.0),
      (3L, 0L, 7.0)).flatMap { case (u, v, w) =>
      Seq((u, v, w), (v, u, w))
    }
    val got = Mst.maximumForest(graphOf(edges)).forest.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = kruskal(edges.map { case (u, v, w) => (u, v, -w) })
      .map { case (u, v, w) => (u, v, -w) }
    assert(got == want)
    assert(got.toSeq.map(_._3).sum == 4.0 + 3.0 + 7.0)
  }
}

class ExtractPathsSpec extends SparkSpec {
  test("bfs paths: root start, edge-valid hops, length = distance+1") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val edgeSet = edges.map(e => (e._1, e._2)).toSet
    val trav = Bfs.run(g, Seq(0L))
    val dist = trav.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    import spark.implicits._
    val dests = Seq(33L, 16L, 24L).toDF("destination")
    val rows = ExtractPaths.fromPredecessors(trav, dests).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDest = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byDest.keySet == Set(33L, 16L, 24L))
    byDest.foreach { case (d, path) =>
      assert(path.head == 0L, s"path($d) must start at the root")
      assert(path.last == d, s"path($d) must end at $d")
      assert(path.size == dist(d) + 1, s"path($d) length")
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet.contains((a, b)), s"hop $a->$b in path($d)")
      }
    }
  }

  test("unreached destinations produce no rows") {
    val g = graphOf(Seq((0L, 1L, 1.0), (1L, 0L, 1.0), (5L, 6L, 1.0),
      (6L, 5L, 1.0)))
    val trav = Bfs.run(g, Seq(0L))
    import spark.implicits._
    val rows = ExtractPaths.fromPredecessors(trav,
      Seq(1L, 5L).toDF("destination")).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L))
  }

  test("1000-hop chain backtracks in 10 doubling rounds, not 1000") {
    // Predecessor tree of a pure path 0->1->...->1000, built directly
    // (no BFS needed): pointer doubling must finish in
    // ceil(log2(1001)) = 10 rounds where the old one-hop walk took
    // 1000 supersteps, each starting a job of its own.
    import spark.implicits._
    val trav = (0L to 1000L)
      .map(v => (v, v, math.max(0L, v - 1L)))
      .toDF("id", "distance", "predecessor")
    val (rows, jobs, _) = listen(ExtractPaths.fromPredecessors(
      trav, Seq(1000L).toDF("destination")).collect()
      .map(r => (r.getLong(1), r.getLong(2))))
    assert(jobs.size < 100, s"${jobs.size} jobs")
    assert(rows.length == 1001)
    assert(rows.sortBy(_._1).map(_._2).toSeq == (0L to 1000L))
  }

  test("predecessor cycle fails loudly instead of looping") {
    // 0 is a proper root; 5<->6 is a cycle whose claimed distances
    // never reach 0 — the unrooted-destination guard must throw.
    import spark.implicits._
    val trav = Seq(
      (0L, 0L, 0L), (1L, 1L, 0L),
      (5L, 4L, 6L), (6L, 5L, 5L)).toDF("id", "distance", "predecessor")
    val err = intercept[IllegalArgumentException] {
      ExtractPaths.fromPredecessors(trav, Seq(1L, 6L).toDF("destination"))
    }
    assert(err.getMessage.contains("rooted tree"))
  }
}
