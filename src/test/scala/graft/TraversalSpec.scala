package graft

import org.apache.spark.sql.functions._

import graft.algos.{Bfs, RandomWalks, Sssp}

class MultiSourceBfsSpec extends SparkSpec {
  test("multiSource equals one independent Bfs.run per source") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val srcs = Seq(0L, 5L, 33L)
    val got = Bfs.multiSource(g, srcs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val want = srcs.flatMap { s =>
      Bfs.run(g, Seq(s)).collect()
        .map(r => (s, r.getLong(0)) -> (r.getLong(1), r.getLong(2)))
    }.toMap
    assert(got == want)
  }

  test("multiSource on a directed graph: sources stop at different levels") {
    // 8 reaches 6 but nothing reaches 8; 4 has no out-edge; from 3 the
    // traversal ends at level 1, while from 0 and 6 a maxDepth of 2 cuts
    // it short.
    val g = graphOf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 5L),
      (5L, 3L), (6L, 0L), (8L, 6L)).map(e => (e._1, e._2, 1.0)))
    val srcs = Seq(0L, 3L, 4L, 6L)
    for (depth <- Seq(2, Int.MaxValue)) {
      val got = Bfs.multiSource(g, srcs, maxDepth = depth)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val want = srcs.flatMap { s =>
        Bfs.run(g, Seq(s), Bfs.Config(maxDepth = depth)).collect()
          .map(r => (s, r.getLong(0)) -> (r.getLong(1), r.getLong(2)))
      }.toMap
      assert(got == want, s"maxDepth = $depth")
      assert(!got.keySet.exists(_._2 == 8L))
    }
  }
}

class SsspSpec extends SparkSpec {
  test("sssp distances match Dijkstra; predecessors consistent") {
    val edges = loadFixture("karate").map { case (s, d, _) =>
      // deterministic pseudo-weights 1..9
      (s, d, ((s * 7 + d * 13) % 9 + 1).toDouble)
    }
    val g = graphOf(edges)
    val got = Sssp.run(g, 0L).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap

    // driver-side Dijkstra
    val out = edges.groupBy(_._1)
    val dist = scala.collection.mutable.Map(0L -> 0.0)
    val pq = scala.collection.mutable.PriorityQueue((0.0, 0L))(
      Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (d <= dist(v)) {
        out.getOrElse(v, Nil).foreach { case (_, u, w) =>
          if (d + w < dist.getOrElse(u, Double.MaxValue)) {
            dist(u) = d + w; pq.enqueue((d + w, u))
          }
        }
      }
    }
    assert(got.view.mapValues(_._1).toMap == dist.toMap)
    got.foreach { case (v, (d, p)) =>
      if (v != 0L) {
        val w = edges.filter(e => e._1 == p && e._2 == v).map(_._3).min
        assert(math.abs(dist(p) + w - d) < 1e-9, s"pred($v)=$p")
      }
    }
  }
}

class SsspUtilSpec extends SparkSpec {
  test("filterUnreachable drops dtype-max sentinel rows only") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, 0.0), (1L, 3.5), (2L, Double.MaxValue))
      .toDF("id", "distance")
    val kept = Sssp.filterUnreachable(df).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L))
    val ints = Seq((0L, 5), (1L, Int.MaxValue)).toDF("id", "distance")
    assert(Sssp.filterUnreachable(ints).collect().map(_.getLong(0)).toSet
      == Set(0L))
    intercept[IllegalArgumentException] {
      Sssp.filterUnreachable(Seq((0L, "x")).toDF("id", "distance"))
    }
  }

  test("shortestPathLength: per-target row, empty when unreachable") {
    val g = graphOf(Seq((0L, 1L, 2.0), (1L, 2L, 3.0), (5L, 6L, 1.0)))
    val all = Sssp.shortestPathLength(g, 0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(all == Map(0L -> 0.0, 1L -> 2.0, 2L -> 5.0))
    val one = Sssp.shortestPathLength(g, 0L, Some(2L)).collect()
    assert(one.length == 1 && one.head.getDouble(1) == 5.0)
    assert(Sssp.shortestPathLength(g, 0L, Some(6L)).isEmpty)
  }
}

class PathOffsetsSpec extends SparkSpec {
  test("offsets equal the single-window reference at any partitioning") {
    val s = spark
    import s.implicits._
    // path ids deliberately sparse + unordered in the input
    val sizes = Seq((7L, 4L), (2L, 1L), (9L, 3L), (4L, 2L), (11L, 5L))
      .toDF("path_id", "size")
    val want = Seq( // exclusive prefix sums in path_id order
      (2L, 0L, 0L, 0L), (4L, 1L, 1L, 0L), (7L, 3L, 3L, 1L),
      (9L, 7L, 2L, 4L), (11L, 10L, 4L, 6L))
    for (p <- Seq(1, 3, 8)) {
      val got = RandomWalks.pathOffsets(sizes.repartition(5), numPartitions = p)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
      assert(got == want, s"numPartitions=$p")
    }
  }

  test("empty input yields an empty offsets frame") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("path_id", "size")
    assert(RandomWalks.pathOffsets(empty).isEmpty)
  }

  test("offsets of real variable-length walks index the coalesced dump") {
    // Walks from a graph with dead-ends terminate early => variable
    // sizes; offsets must tile [0, total vertices) without overlap.
    val g = graphOf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (3L, 0L, 1.0)))
    val s = spark
    import s.implicits._
    val starts = Seq(0L, 2L, 3L).toDF("id")
    val walks = RandomWalks.run(g, starts,
      RandomWalks.Config(length = 3, seed = 1L))
    val sizes = walks.groupBy(col("start").as("path_id"))
      .agg(count(lit(1)).as("size"))
    val off = RandomWalks.pathOffsets(sizes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    val sz = sizes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var (accV, accW) = (0L, 0L)
    off.foreach { case (pid, voff, wsz, woff) =>
      assert(voff == accV && woff == accW && wsz == sz(pid) - 1)
      accV += sz(pid); accW += sz(pid) - 1
    }
    assert(accV == sz.values.sum)
  }
}

class RandomWalksSpec extends SparkSpec {
  test("walks are deterministic, follow edges, and have full length") {
    val s = spark
    import s.implicits._
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val starts = Seq(0L, 1L, 2L, 3L).toDF("id")
    def collectWalks() = RandomWalks
      .run(g, starts, RandomWalks.Config(length = 5, seed = 7L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w1 = collectWalks()
    val w2 = collectWalks()
    assert(w1 == w2) // deterministic
    val edgeSet = edges.map(e => (e._1, e._2)).toSet
    // karate has no sinks: every walk has steps 0..5 and each hop is an edge
    for (st <- Seq(0L, 1L, 2L, 3L); k <- 0 to 5) {
      assert(w1.contains((st, k.toLong)), s"missing step $k of walk $st")
      if (k > 0) assert(edgeSet.contains((w1((st, k - 1L)), w1((st, k.toLong)))))
    }
    assert(w1((0L, 0L)) == 0L)
    // a different seed changes at least one step
    val w3 = RandomWalks.run(g, starts, RandomWalks.Config(length = 5, seed = 8L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(w3 != w1)
  }
}

class TraversedCostSpec extends SparkSpec {
  import graft.algos.TraversedCost

  test("path costs sum the value weights along the BFS tree, source = 0") {
    import spark.implicits._
    // Tree rooted at 0: 0-1 (w 5), 0-2 (w 7), 1-3 (w 11), 3-4 (w 13);
    // extra non-tree edge 2-4 (w 1) must NOT be charged — the cost
    // follows the predecessor tree, not the cheapest route.
    val edges = Seq(
      (0L, 1L, 5.0), (1L, 0L, 5.0), (0L, 2L, 7.0), (2L, 0L, 7.0),
      (1L, 3L, 11.0), (3L, 1L, 11.0), (3L, 4L, 13.0), (4L, 3L, 13.0),
      (2L, 4L, 1.0), (4L, 2L, 1.0))
    val g = graphOf(edges)
    val trav = Bfs.run(g, Seq(0L))
    val got = TraversedCost.run(trav, g.edges).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // BFS from 0: pred(4) is min-id of {2,3} at distance 2 → 2.
    assert(got == Map(0L -> 0.0, 1L -> 5.0, 2L -> 7.0, 3L -> 16.0,
      4L -> 8.0))
  }

  test("independent value column: hop tree costed with non-hop weights") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 100.0), (1L, 0L, 100.0),
      (1L, 2L, 200.0), (2L, 1L, 200.0))
    val g = graphOf(edges)
    val trav = Bfs.run(g, Seq(0L)) // hop distances 0,1,2
    val got = TraversedCost.run(trav, g.edges).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 0.0, 1L -> 100.0, 2L -> 300.0))
  }

  test("1000-hop chain costs in 10 doubling rounds, not 1000 supersteps") {
    // ceil(log2(1001)) = 10 rounds; a one-hop walk would start a job
    // per hop.
    import spark.implicits._
    val trav = (0L to 1000L)
      .map(v => (v, v, math.max(0L, v - 1L)))
      .toDF("id", "distance", "predecessor")
    val w = (0L until 1000L).map(v => (v, v + 1L, (v + 1L).toDouble))
      .toDF("src", "dst", "weight")
    val (got, jobs, _) = listen(TraversedCost.run(trav, w).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    assert(jobs.size < 100, s"${jobs.size} jobs")
    assert(got.size == 1001)
    // cost(v) = 1 + 2 + ... + v
    assert(got(1000L) == 1000.0 * 1001.0 / 2)
    assert(got(7L) == 28.0)
    assert(got(0L) == 0.0)
  }
}
