package graft

import graft.algos.Louvain

/**
 * Louvain vs the reference's host check (modularity of the returned
 * clustering, cpp/tests/community/louvain_test.cpp:160-180 computes
 * louvain then asserts the modularity of the result): we recompute Q
 * independently on the host from the returned labels and require it
 * to match the engine's reported modularity, land in the known-good
 * karate range, and be deterministic.
 */
class LouvainSpec extends SparkSpec {

  /** Host modularity: Q = Σ_same-cluster w / T − Σ_c a(c)²/T². */
  private def hostQ(
      edges: Seq[(Long, Long, Double)], labels: Map[Long, Long]): Double = {
    val t = edges.map(_._3).sum
    val internal = edges.collect {
      case (u, v, w) if labels(u) == labels(v) => w
    }.sum
    val k = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
      .withDefaultValue(0.0)
    // toSeq before mapping: Set.map would deduplicate equal degrees
    val a = labels.keys.toSeq.groupBy(labels).values.map(_.map(k).sum)
    internal / t - a.map(x => x * x).sum / (t * t)
  }

  test("louvain on karate: engine Q equals host-recomputed Q, in known range") {
    val edges = loadFixture("karate") // both directions present
    val g = graphOf(edges)
    val r = Louvain.run(g)
    val labels = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(labels.size == 34)
    val q = hostQ(edges, labels)
    assert(math.abs(q - r.modularity) < 1e-9,
      s"engine Q ${r.modularity} vs host $q")
    // The reference's own karate assertion: ASSERT_FLOAT_EQ(modularity,
    // 0.408695) — cpp/tests/community/legacy/louvain_test.cpp:251.
    assert(math.abs(r.modularity - 0.408695) < 1e-5, s"Q=${r.modularity}")
    assert(r.levels >= 1)
  }

  test("dendrogram levels flatten to the returned labels") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val r = Louvain.run(g, Louvain.Config(maxLevels = 3,
      keepDendrogram = true))
    assert(r.dendrogram.size == r.levels)
    // Flatten the per-level assignments top-down: level 0 maps original
    // vertices, each later level maps the previous level's communities.
    var flat = r.dendrogram.head.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    for (lvl <- r.dendrogram.tail) {
      val m = lvl.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      flat = flat.map { case (v, c) => v -> m(c) }
    }
    val want = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(flat == want)
    // The standalone flatten_dendrogram API computes the same fold.
    if (r.dendrogram.nonEmpty) {
      val api = Louvain.flattenDendrogram(r.dendrogram).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(api == want)
    }
    // Default config retains nothing.
    assert(Louvain.run(g).dendrogram.isEmpty)
  }

  test("leiden dendrogram levels flatten to the returned labels") {
    import graft.algos.Leiden
    val edges = loadFixture("dolphins")
    val g = graphOf(edges)
    val r = Leiden.run(g, Louvain.Config(maxLevels = 3,
      keepDendrogram = true))
    assert(r.dendrogram.size == r.levels)
    var flat = r.dendrogram.head.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    for (lvl <- r.dendrogram.tail) {
      val m = lvl.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      flat = flat.map { case (v, c) => v -> m(c) }
    }
    val want = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(flat == want)
  }

  test("louvain and leiden past the broadcast bound equal the broadcast plan on karate") {
    // The bound forced to 0, with Spark's own size-based broadcast off
    // too, runs every level's shuffled plan.
    import graft.algos.Leiden
    import graft.core.SparkTuning
    val g = graphOf(loadFixture("karate")).cached()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def labels(r: Louvain.Result) =
      (r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap, r.modularity)
    try {
      for (refine <- Seq(false, true)) {
        val under = labels(
          if (refine) Leiden.run(g) else Louvain.run(g))
        spark.conf.set(key, "-1")
        val past =
          try labels(SparkTuning.withGraph(g)(
            Louvain.runImpl(_, Louvain.Config(), refine, bcastBytes = 0L)))
          finally spark.conf.unset(key)
        assert(past == under, s"refine = $refine")
      }
    } finally g.unpersist()
  }

  test("louvain is deterministic across runs and partitionings") {
    val edges = loadFixture("karate")
    val cfg = Louvain.Config(maxLevels = 2)
    val a = Louvain.run(graphOf(edges, parts = 2), cfg).labels.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = Louvain.run(graphOf(edges, parts = 5), cfg).labels.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b)
  }

  test("fixed-inner-iteration mode improves Q over singletons") {
    val edges = loadFixture("dolphins")
    val g = graphOf(edges)
    val r = Louvain.run(g, Louvain.Config(maxLevels = 1, fixedInnerIter = 3))
    val labels = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val q = hostQ(edges, labels)
    assert(q > 0.0, s"Q=$q") // singleton clustering has Q < 0
    assert(labels.values.toSet.size < labels.size) // actually merged
  }

  test("resolution parameter shifts community granularity") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    // Bounded configs: this asserts the direction of the resolution
    // knob, not convergence depth (covered by the karate test).
    val fine = Louvain.run(g,
        Louvain.Config(resolution = 4.0, maxLevels = 2, maxInnerIter = 6))
      .labels.collect().map(_.getLong(1)).toSet.size
    val coarse = Louvain.run(g,
        Louvain.Config(resolution = 0.25, maxLevels = 2, maxInnerIter = 6))
      .labels.collect().map(_.getLong(1)).toSet.size
    assert(fine >= coarse)
  }
}
