package graft

import org.apache.spark.sql.functions._

import graft.algos.{CoreNumber, KCore, KTruss, NeighborSampling, Node2Vec, Scc}
import graft.core.{LinkGraph, SparkTuning}

/** Host-side (plain Scala) oracles for the round-2 operators. */
object RefOraclesY {
  type E = (Long, Long)

  /** md5 hex prefix → 32-bit unsigned, the engine/oracle counter draw. */
  def md5u32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  /** k-core: iterative degree peel on an undirected edge set (both
   * directions present). Returns surviving edges. */
  def kCore(edges: Set[E], k: Int): Set[E] = {
    var cur = edges.filter(e => e._1 != e._2)
    var changed = true
    while (changed && cur.nonEmpty) {
      val deg = cur.groupBy(_._1).map { case (v, es) => v -> es.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = cur.filter(e => keep(e._1) && keep(e._2))
      changed = next.size < cur.size
      cur = next
    }
    cur
  }

  /** k-truss: support peel on canonical (src<dst) edges. */
  def kTruss(edges: Set[E], k: Int): Set[E] = {
    var cur = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
    var changed = true
    while (changed && cur.nonEmpty) {
      val sym = cur ++ cur.map(e => (e._2, e._1))
      val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      val next = cur.filter { case (u, v) =>
        (adj(u) intersect adj(v)).size >= k - 2
      }
      changed = next.size < cur.size
      cur = next
    }
    cur
  }

  /** Tarjan SCC with min-vertex canonical labels. */
  def scc(edges: Set[E], vertices: Seq[Long]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSeq.sorted }
      .withDefaultValue(Seq.empty)
    var index = 0L
    val idx = scala.collection.mutable.Map[Long, Long]()
    val low = scala.collection.mutable.Map[Long, Long]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.ArrayBuffer[Long]()
    val comp = scala.collection.mutable.Map[Long, Long]()

    def strongconnect(v: Long): Unit = {
      idx(v) = index; low(v) = index; index += 1
      stack += v; onStack += v
      for (w <- adj(v)) {
        if (!idx.contains(w)) {
          strongconnect(w); low(v) = math.min(low(v), low(w))
        } else if (onStack(w)) low(v) = math.min(low(v), idx(w))
      }
      if (low(v) == idx(v)) {
        val members = scala.collection.mutable.ArrayBuffer[Long]()
        var w = -1L
        while ({ w = stack.remove(stack.size - 1); onStack -= w
          members += w; w != v }) ()
        val label = members.min
        members.foreach(m => comp(m) = label)
      }
    }
    vertices.sorted.foreach(v => if (!idx.contains(v)) strongconnect(v))
    comp.toMap
  }

  /** The engine's pinned candidate total order: (md5-bucket, id) —
   * [[graft.algos.Node2Vec.NBuckets]] hash buckets ahead of the id. */
  def walkOrder(n: Long): (Long, Long) = (md5u32(n.toString) % 65536L, n)

  /** node2vec walk via the cumulative-inversion scheme (engine mirror,
   * but sequential and array-based). */
  def node2vec(
      edges: Set[E],
      starts: Seq[Long],
      length: Int,
      p: Double,
      q: Double,
      seed: Long): Seq[(Long, Long, Long)] = {
    val adj = edges.groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSeq.sortBy(walkOrder) }
    starts.flatMap { s0 =>
      val rows = scala.collection.mutable.ArrayBuffer((s0, 0L, s0))
      var prev = s0
      var cur = s0
      var alive = true
      for (step <- 1 to length if alive) {
        adj.get(cur) match {
          case None => alive = false
          case Some(nbrs) =>
            val wts = nbrs.map { n =>
              if (n == prev) 1.0 / p
              else if (edges((prev, n))) 1.0
              else 1.0 / q
            }
            val tot = wts.sum
            val r = md5u32(s"$seed:$s0:$step") % 1000000L
            var cum = 0.0
            var pick = -1L
            var i = 0
            while (pick < 0 && i < nbrs.size) {
              cum += wts(i)
              if (cum * 1000000.0 > r * tot) pick = nbrs(i)
              i += 1
            }
            prev = cur; cur = pick
            rows += ((s0, step.toLong, cur))
        }
      }
      rows
    }
  }

  /** Hash-ranked uniform neighbor sample. */
  def neighborSample(
      edges: Set[E],
      seeds: Seq[Long],
      fanouts: Seq[Int],
      seed: Long): Set[(Long, Long, Long)] = {
    val adj = edges.groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSeq }
    var frontier = seeds.distinct
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    fanouts.zipWithIndex.foreach { case (f, h) =>
      val hop = h + 1L
      val next = scala.collection.mutable.Set[Long]()
      frontier.foreach { v =>
        adj.get(v).foreach { nbrs =>
          nbrs.map(n => (md5u32(s"$seed:$hop:$v:$n"), n))
            .sortBy { case (hh, n) => (f"$hh%08x", n) }
            .take(f)
            .foreach { case (_, n) => out += ((hop, v, n)); next += n }
        }
      }
      frontier = next.toSeq
    }
    out.toSet
  }
}

class KCoreSpec extends SparkSpec {
  private def undirected(name: String): Set[(Long, Long)] =
    loadFixture(name).map(e => (e._1, e._2)).toSet

  test("3-core of karate matches host peel, and converges fast") {
    val edges = undirected("karate")
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    val r = KCore.subgraph(g, 3)
    val got = r.graph.edges
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == RefOraclesY.kCore(edges, 3))
    assert(r.rounds <= 10) // oracle unroll bound
  }

  test("k-core from core numbers equals the peel (karate, dolphins)") {
    for (name <- Seq("karate", "dolphins"); k <- Seq(2, 3, 4)) {
      val edges = undirected(name)
      val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
      val peel = KCore.subgraph(g, k).graph.edges
        .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val viaCores = KCore.fromCoreNumbers(g, CoreNumber.run(g), k).edges
        .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(peel == viaCores, s"$name k=$k")
    }
  }
}

class KTrussSpec extends SparkSpec {
  test("k-truss matches host peel on karate for k=3..5") {
    val edges = loadFixture("karate").map(e => (e._1, e._2)).toSet
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    for (k <- Seq(3, 4, 5)) {
      val r = KTruss.subgraph(g, k)
      val got = r.edges
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == RefOraclesY.kTruss(edges, k), s"k=$k")
      assert(r.rounds <= 6) // oracle unroll bound
    }
  }

  test("hub (wedge-join) path agrees with the array path") {
    // maxAdjWidth = 8 forces karate's high-degree vertices (hubs 33/34
    // have degree 17) onto the row-wise wedge path; results must be
    // identical to the default all-array run.
    val edges = loadFixture("karate").map(e => (e._1, e._2)).toSet
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    for (k <- Seq(3, 4)) {
      val got = KTruss.subgraph(g, k, maxAdjWidth = 8).edges
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == RefOraclesY.kTruss(edges, k), s"k=$k hub path")
    }
  }
}

class SccSpec extends SparkSpec {
  /** SCC labels of `g`, under the broadcast bound and past it (the bound
   * forced to 0, with Spark's own size-based broadcast off too, so the
   * shuffled plan runs); both must agree. */
  private def sccOf(g: LinkGraph): Map[Long, Long] = {
    def labels(r: Scc.Result) =
      r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val shuffled = {
      spark.conf.set(key, "-1")
      try SparkTuning.withoutAqe(spark)(labels(Scc.runImpl(g,
        maxOuter = 100, maxIter = 200, strict = true, bcastBytes = 0L)))
      finally spark.conf.unset(key)
    }
    val got = labels(Scc.run(g))
    assert(shuffled == got, "shuffled plan differs from the broadcast one")
    got
  }

  private val mixed = Set(
    (0L, 1L), (1L, 2L), (2L, 0L), // cycle
    (2L, 3L), (3L, 4L), // path
    (4L, 5L), (5L, 4L), // 2-cycle
    (6L, 0L)) // source tail

  test("scc on mixed cycle/path digraph matches Tarjan") {
    val g = graphOf(mixed.toSeq.map(e => (e._1, e._2, 1.0)))
    assert(sccOf(g) == RefOraclesY.scc(mixed, (0L to 6L)))
  }

  test("scc on partially-oriented karate matches Tarjan") {
    // keep both directions unless (u+v)%3==0 — same web-like rule as
    // the q_scc driver query
    val sym = loadFixture("karate").map(e => (e._1, e._2)).toSet
    val edges = sym.filter { case (u, v) => u < v || (u + v) % 3 != 0 }
    val verts = sym.flatMap(e => Seq(e._1, e._2)).toSeq.distinct
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    assert(sccOf(g) == RefOraclesY.scc(edges, verts))
  }

  test("scc of a symmetric graph equals wcc") {
    val edges = loadFixture("karate-disjoint").map(e => (e._1, e._2)).toSet
    val verts = edges.flatMap(e => Seq(e._1, e._2)).toSeq.distinct
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    val got = sccOf(g)
    assert(got == RefOraclesY.scc(edges, verts))
    assert(got.values.toSet.size == 2)
  }

  test("a fixpoint cut short by maxIter raises, whatever strict says") {
    // With one superstep the forward labels move one hop (f(2) = 1, not
    // 0), so root 0 finds no predecessor in its region: a pass would
    // settle 0 alone, where Tarjan puts it in {0, 1, 2}.
    val g = graphOf(mixed.toSeq.map(e => (e._1, e._2, 1.0)))
    for (strict <- Seq(true, false)) {
      val e = intercept[IllegalStateException](
        Scc.run(g, maxIter = 1, strict = strict))
      assert(e.getMessage.contains("forward") &&
        e.getMessage.contains("maxIter=1"), e.getMessage)
    }
    // The cycle 3 -> 2 -> 1 -> 0 -> 3 with shortcuts 0 -> 1, 0 -> 2: the
    // forward labels settle in 2 supersteps (one move, one quiet), the
    // backward closure of root 0 needs 4, so a bound of 2 cuts only it
    // short and would settle 3 apart from {0, 1, 2}.
    val cycle = Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 2L), (2L, 1L), (1L, 0L))
    val c = graphOf(cycle.map(e => (e._1, e._2, 1.0)))
    val e = intercept[IllegalStateException](Scc.run(c, maxIter = 2))
    assert(e.getMessage.contains("backward") &&
      e.getMessage.contains("maxIter=2"), e.getMessage)
    assert(sccOf(c) == RefOraclesY.scc(cycle.toSet, 0L to 3L))
  }
}

class CappedFixpointSpec extends SparkSpec {
  import graft.algos.{ConnectedComponents, Sssp}

  // A 12-vertex path, 11 hops end to end, stored both ways: labels,
  // distances and core numbers move one hop per superstep and the
  // 2-core peels one vertex from each end per round, so a cap of 2
  // stops each of them short. Its square (each vertex also joined to
  // the one two along) takes two 4-truss rounds: the outer edges, in
  // one triangle each, go first.
  private val n = 12L
  private def undirected(es: Seq[(Long, Long)]) =
    graphOf(es.flatMap { case (u, v) => Seq((u, v, 1.0), (v, u, 1.0)) })
  private val path = (0L until n - 1).map(i => (i, i + 1))
  private val square = path ++ (0L until n - 2).map(i => (i, i + 2))

  // (algorithm, the name its error gives, cap, run under the cap)
  private val capped: Seq[(String, String, Int, Int => Any)] = Seq(
    ("WCC", "WCC", 2, m => ConnectedComponents.run(undirected(path),
      ConnectedComponents.Config(maxIter = m))),
    ("SSSP", "SSSP", 2, m => Sssp.run(undirected(path), 0L, Sssp.Config(maxIter = m))),
    ("CoreNumber", "Core number", 2, m => CoreNumber.run(undirected(path), maxIter = m)),
    ("KCore", "k-core", 2, m => KCore.subgraph(undirected(path), 2, maxIter = m)),
    ("KTruss", "k-truss", 1, m => KTruss.subgraph(undirected(square), 4, maxIter = m)),
    ("SCC", "SCC's forward fixpoint", 2, m =>
      Scc.run(graphOf(path.map(e => (e._1, e._2, 1.0))), maxIter = m)))

  for ((algo, named, cap, run) <- capped)
    test(s"$algo on a path throws at its cap") {
      val e = intercept[IllegalStateException](run(cap))
      assert(e.getMessage.startsWith(
        s"$named did not converge within maxIter=$cap supersteps"), e.getMessage)
    }
}

class SamplingYSpec extends SparkSpec {
  private val s = spark
  import s.implicits._

  test("node2vec walks match the host mirror on karate") {
    val edges = loadFixture("karate").map(e => (e._1, e._2)).toSet
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    val starts = edges.map(_._1).toSeq.sorted.take(10)
    val got = Node2Vec.run(g, starts.toDF("id"),
        Node2Vec.Config(length = 4, p = 2.0, q = 0.5, seed = 42L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = RefOraclesY.node2vec(edges, starts, 4, 2.0, 0.5, 42L).toSet
    assert(got == want)
  }

  test("node2vec consecutive steps are edges; determinism across runs") {
    val edges = loadFixture("dolphins").map(e => (e._1, e._2)).toSet
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    val starts = edges.map(_._1).toSeq.sorted.take(5).toDF("id")
    val w1 = Node2Vec.run(g, starts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w2 = Node2Vec.run(g, starts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(w1 == w2)
    val bySt = w1.groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2)).toMap
    bySt.values.foreach { walk =>
      walk.sliding(2).foreach {
        case Seq((_, _, a), (_, _, b)) => assert(edges((a, b)))
        case _ =>
      }
    }
  }

  test("biased walks follow edge weights deterministically") {
    // two neighbors with weights 1 and 3: draw decides reproducibly
    val edges = Seq((0L, 1L, 1.0), (0L, 2L, 3.0), (1L, 0L, 1.0),
      (2L, 0L, 3.0))
    val g = graphOf(edges)
    val out = Node2Vec.biased(g, Seq(0L).toDF("id"), length = 3, seed = 7L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // host mirror (candidates in the engine's (bucket, id) order)
    val adj = Map(
      0L -> Seq((1L, 1.0), (2L, 3.0))
        .sortBy(c => RefOraclesY.walkOrder(c._1)),
      1L -> Seq((0L, 1.0)), 2L -> Seq((0L, 3.0)))
    var cur = 0L
    val want = scala.collection.mutable.Map(0L -> 0L)
    for (step <- 1 to 3) {
      val nbrs = adj(cur)
      val tot = nbrs.map(_._2).sum
      val r = RefOraclesY.md5u32(s"7:0:$step") % 1000000L
      var cum = 0.0
      var pick = -1L
      for ((n, w) <- nbrs if pick < 0) {
        cum += w; if (cum * 1000000.0 > r * tot) pick = n
      }
      cur = pick; want(step.toLong) = cur
    }
    assert(out == want.toMap)
  }

  test("biased walk on a 5000-spoke hub matches the host mirror") {
    // Exercises the two-level bucket path with a genuinely multi-
    // bucket adjacency (5000 spokes spread over the 65536 buckets):
    // the bucket pick + offset re-association must reproduce the
    // single-running-sum host mirror exactly (dyadic weights).
    val spokes = (1L to 5000L).map(s => (0L, s, (s % 7 + 1).toDouble))
    val edges = spokes ++ spokes.map { case (c, s, w) => (s, c, w) }
    val g = graphOf(edges)
    val out = Node2Vec.biased(g, Seq(0L).toDF("id"), length = 2, seed = 11L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // host mirror in the engine's (bucket, id) candidate order
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3))
        .sortBy(c => RefOraclesY.walkOrder(c._1))).toMap
    var cur = 0L
    val want = scala.collection.mutable.Map(0L -> 0L)
    for (step <- 1 to 2) {
      val nbrs = adj(cur)
      val tot = nbrs.map(_._2).sum
      val r = RefOraclesY.md5u32(s"11:0:$step") % 1000000L
      var cum = 0.0
      var pick = -1L
      for ((n, w) <- nbrs if pick < 0) {
        cum += w; if (cum * 1000000.0 > r * tot) pick = n
      }
      cur = pick; want(step.toLong) = cur
    }
    assert(out == want.toMap)
  }

  test("neighbor sampling: fanout bound, edge validity, host match") {
    val edges = loadFixture("karate").map(e => (e._1, e._2)).toSet
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    val seeds = Seq(0L, 1L, 2L)
    val got = NeighborSampling.run(g, seeds.toDF("id"), Seq(3, 2), 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == RefOraclesY.neighborSample(edges, seeds, Seq(3, 2), 42L))
    got.foreach { case (_, u, v) => assert(edges((u, v))) }
    got.groupBy(t => (t._1, t._2)).foreach { case ((hop, _), rows) =>
      assert(rows.size <= (if (hop == 1) 3 else 2))
    }
  }

  test("sampleAdjacency is the edge-list sample grouped per (hop, src)") {
    val edges = loadFixture("karate").map(e => (e._1, e._2)).toSet
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    val s = spark
    import s.implicits._
    val seeds = Seq(0L, 1L, 2L).toDF("id")
    val flat = NeighborSampling.run(g, seeds, Seq(3, 2), 42L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2))
      .map { case (k, rows) => k -> rows.map(_._3).toSeq.sorted }
    val adj = NeighborSampling.sampleAdjacency(g, seeds, Seq(3, 2), 42L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2).toSeq)
      .toMap
    assert(adj == flat)
    assert(adj.values.forall(_.size <= 3)) // bounded by the hop fanout
  }
}
