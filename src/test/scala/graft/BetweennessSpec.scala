package graft

import graft.algos.Betweenness

/**
 * Betweenness vs a host Brandes oracle ported from the reference's own
 * test harness (ref_bfs + ref_accumulation,
 * cpp/tests/centrality/legacy/betweenness_centrality_test.cu:58-170),
 * with the reference's rescale rules (betweenness_centrality.cu:368-455).
 */
class BetweennessSpec extends SparkSpec {

  private def hostBrandes(
      edges: Seq[(Long, Long, Double)],
      sources: Seq[Long],
      normalized: Boolean,
      directed: Boolean): Map[Long, Double] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      .withDefaultValue(Nil)
    val bc = scala.collection.mutable.Map[Long, Double]()
      .withDefaultValue(0.0)
    for (s <- sources) {
      val dist = scala.collection.mutable.Map[Long, Long]()
      val sigma = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      val preds = scala.collection.mutable.Map[Long, List[Long]]()
        .withDefaultValue(Nil)
      val stack = scala.collection.mutable.ArrayBuffer[Long]()
      dist(s) = 0L; sigma(s) = 1.0
      var frontier = Seq(s)
      while (frontier.nonEmpty) {
        stack ++= frontier.sorted
        val next = scala.collection.mutable.LinkedHashSet[Long]()
        for (v <- frontier; w <- out(v)) {
          if (!dist.contains(w)) next += w
        }
        for (w <- next) dist(w) = dist(frontier.head) + 1
        for (v <- frontier; w <- out(v)) {
          if (dist(w) == dist(v) + 1) {
            sigma(w) += sigma(v)
            preds(w) = v :: preds(w)
          }
        }
        frontier = next.toSeq
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (w <- stack.reverse) {
        for (v <- preds(w)) {
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        }
        if (w != s) bc(w) += delta(w)
      }
    }
    val n = vs.size
    val factor =
      if (normalized) {
        val base = if (n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0
        if (n > 2 && sources.nonEmpty) base * (n.toDouble / sources.size)
        else base
      } else if (!directed) 0.5
      else 1.0
    vs.map(v => v -> bc(v) * factor).toMap
  }

  test("betweenness matches host Brandes on karate (all sources)") {
    val edges = loadFixture("karate")
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val g = graphOf(edges).copy(directed = false)
    val got = Betweenness.run(g,
        Betweenness.Config(normalized = true, sources = Some(vs)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = hostBrandes(edges, vs, normalized = true, directed = false)
    want.foreach { case (v, x) =>
      assert(math.abs(got(v) - x) < 1e-9, s"bc($v): ${got(v)} vs $x")
    }
  }

  test("sampled betweenness (k=5 explicit sources) matches host on dolphins") {
    val edges = loadFixture("dolphins")
    val sources = Seq(0L, 7L, 13L, 21L, 42L)
    val g = graphOf(edges).copy(directed = false)
    val got = Betweenness.run(g,
        Betweenness.Config(normalized = true, sources = Some(sources)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = hostBrandes(edges, sources, normalized = true, directed = false)
    want.foreach { case (v, x) =>
      assert(math.abs(got(v) - x) < 1e-9, s"bc($v)")
    }
  }

  test("unnormalized undirected applies the 1/2 rescale") {
    val edges = loadFixture("karate")
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val g = graphOf(edges).copy(directed = false)
    val got = Betweenness.run(g,
        Betweenness.Config(normalized = false, sources = Some(vs)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = hostBrandes(edges, vs, normalized = false, directed = false)
    want.foreach { case (v, x) => assert(math.abs(got(v) - x) < 1e-9) }
  }

  /** Host edge-BC: per arc (v, w) on a shortest path (dist_w =
   * dist_v + 1), credit σ_v/σ_w·(1+δ_w); normalized rescale
   * 1/(n(n−1)), no source rescale (reference
   * betweenness_centrality.cu:90,392-403). */
  private def hostEdgeBrandes(
      edges: Seq[(Long, Long, Double)],
      sources: Seq[Long],
      normalized: Boolean): Map[(Long, Long), Double] = {
    val out = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      .withDefaultValue(Nil)
    val ebc = scala.collection.mutable.Map[(Long, Long), Double]()
      .withDefaultValue(0.0)
    for (s <- sources) {
      val dist = scala.collection.mutable.Map[Long, Long]()
      val sigma = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      val preds = scala.collection.mutable.Map[Long, List[Long]]()
        .withDefaultValue(Nil)
      val stack = scala.collection.mutable.ArrayBuffer[Long]()
      dist(s) = 0L; sigma(s) = 1.0
      var frontier = Seq(s)
      while (frontier.nonEmpty) {
        stack ++= frontier.sorted
        val next = scala.collection.mutable.LinkedHashSet[Long]()
        for (v <- frontier; w <- out(v)) if (!dist.contains(w)) next += w
        for (w <- next) dist(w) = dist(frontier.head) + 1
        for (v <- frontier; w <- out(v)) {
          if (dist(w) == dist(v) + 1) {
            sigma(w) += sigma(v); preds(w) = v :: preds(w)
          }
        }
        frontier = next.toSeq
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (w <- stack.reverse; v <- preds(w)) {
        val t = sigma(v) / sigma(w) * (1.0 + delta(w))
        delta(v) += t
        ebc((v, w)) += t
      }
    }
    val n = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    val factor =
      if (normalized) { if (n > 1) 1.0 / (n.toDouble * (n - 1.0)) else 1.0 }
      else 0.5 // undirected fixtures
    edges.map(e => (e._1, e._2) -> ebc((e._1, e._2)) * factor).toMap
  }

  test("edge betweenness matches host on karate (all sources)") {
    val edges = loadFixture("karate")
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val g = graphOf(edges).copy(directed = false)
    for (norm <- Seq(true, false)) {
      val got = Betweenness.runEdges(g,
          Betweenness.Config(normalized = norm, sources = Some(vs)))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val want = hostEdgeBrandes(edges, vs, normalized = norm)
      assert(got.keySet == want.keySet)
      want.foreach { case (e, x) =>
        assert(math.abs(got(e) - x) < 1e-9, s"ebc($e) norm=$norm")
      }
    }
  }

  test("past the broadcast bound the shuffled plan matches the host oracles") {
    // The walk's bound forced to 0 and Spark's size-based broadcast off:
    // every join of the forward levels and the backward walk shuffles.
    import graft.core.SparkTuning
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val karate = loadFixture("karate")
    val dolphins = loadFixture("dolphins")
    val all = karate.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def cfg(norm: Boolean, sources: Seq[Long]) =
      Betweenness.Config(normalized = norm, sources = Some(sources))
    def vertexBc(edges: Seq[(Long, Long, Double)], c: Betweenness.Config) =
      SparkTuning.withGraph(graphOf(edges).copy(directed = false))(
        Betweenness.runImpl(_, c, bcastBytes = 0L).collect())
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def close[K](got: Map[K, Double], want: Map[K, Double], what: String) = {
      assert(got.keySet == want.keySet, what)
      want.foreach { case (k, x) =>
        assert(math.abs(got(k) - x) < 1e-9, s"$what: $k ${got(k)} vs $x")
      }
    }
    spark.conf.set(key, "-1")
    try {
      for (norm <- Seq(true, false)) {
        close(vertexBc(karate, cfg(norm, all)),
          hostBrandes(karate, all, norm, directed = false), s"karate norm=$norm")
        val edgeBc = SparkTuning.withGraph(graphOf(karate).copy(directed = false))(
          Betweenness.runEdgesImpl(_, cfg(norm, all), bcastBytes = 0L).collect())
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        close(edgeBc, hostEdgeBrandes(karate, all, norm), s"karate edges norm=$norm")
      }
      val five = Seq(0L, 7L, 13L, 21L, 42L)
      close(vertexBc(dolphins, cfg(norm = true, five)),
        hostBrandes(dolphins, five, normalized = true, directed = false), "dolphins")
    } finally spark.conf.unset(key)
  }

  test("deterministic md5 source sampling is partition-independent") {
    val edges = loadFixture("dolphins")
    val a = Betweenness.run(graphOf(edges, parts = 2).copy(directed = false),
      Betweenness.Config(k = 4)).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val b = Betweenness.run(graphOf(edges, parts = 7).copy(directed = false),
      Betweenness.Config(k = 4)).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (v, x) => assert(math.abs(b(v) - x) < 1e-12) }
  }
}
