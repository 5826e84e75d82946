package graft

import graft.algos.Spectral

class SpectralSpec extends SparkSpec {

  /** Host mirror of the deflated power iteration (dense, sequential).
   * Float sums associate differently than the distributed engine, so
   * comparisons allow last-ulp-amplified slack. */
  private def hostFiedler(
      edges: Seq[(Long, Long, Double)],
      iterations: Int,
      seed: Long): Map[Long, Double] = {
    val verts = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    val sigma = 2.0 * deg.values.max
    var x = verts.map { v =>
      v -> (RefOraclesY.md5u32(s"$seed:$v") % 1000000L / 1000000.0 - 0.5)
    }.toMap
    for (_ <- 1 to iterations) {
      val msg = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      edges.foreach { case (u, v, w) => msg(v) += w * x(u) }
      val y = verts.map(v => v -> ((sigma - deg(v)) * x(v) + msg(v))).toMap
      val mu = y.values.sum / verts.size
      val norm = math.sqrt(y.values.map(c => (c - mu) * (c - mu)).sum)
      x = y.map { case (v, c) => v -> (c - mu) / norm }
    }
    x
  }

  test("fiedler cut on karate matches host power iteration") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val got = Spectral.fiedlerCut(g, Spectral.Config(iterations = 20))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = hostFiedler(edges, 20, 42L)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, (micro, cluster)) =>
      assert(math.abs(micro - math.round(want(v) * 1e6)) <= 1,
        s"vertex $v micro $micro vs host ${want(v)}")
      if (math.abs(want(v)) > 1e-3)
        assert(cluster == (if (want(v) > 0) 1L else 0L), s"vertex $v side")
    }
    // a real bipartition: both sides populated
    val sizes = got.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0L, 1L))
    assert(sizes.values.min >= 5, s"degenerate split $sizes")
  }

  test("fiedler cut is deterministic across runs") {
    val edges = loadFixture("dolphins")
    val g = graphOf(edges)
    val a = Spectral.fiedlerCut(g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Spectral.fiedlerCut(g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("balanced cut k=4 refines the k=2 bisection; deterministic") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val vs = edges.map(_._1).distinct.toSet
    val k2 = Spectral.fiedlerCut(g).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val k4 = Spectral.balancedCut(g, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k4.keySet == vs) // total assignment
    assert(k4.values.forall(c => c >= 0 && c < 4))
    assert(k4.values.toSet.size >= 3, s"degenerate: ${k4.values.toSet}")
    // By construction clusters {0,1} are the low side, {2,3} the high.
    k4.foreach { case (v, c) =>
      assert((c < 2) == (k2(v) == 0L), s"vertex $v k4=$c k2=${k2(v)}")
    }
    val again = Spectral.balancedCut(g, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == k4)
    // Substituting a precomputed root bisection (the q_spectral /
    // q_spectral_k sharing path) is exact: only the recursion's first
    // cut call is replaced.
    val shared = Spectral.balancedCut(g, 4,
        rootCut = Some(Spectral.fiedlerCut(g))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shared == k4)
  }

  /** Host mirror of the modularity-matrix power iteration
   * (σI + B, B = W − k·kᵀ/2m). */
  private def hostModularity(
      edges: Seq[(Long, Long, Double)],
      iterations: Int,
      seed: Long): Map[Long, Double] = {
    val verts = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    val sigma = 2.0 * deg.values.max
    val w = deg.values.sum
    var x = verts.map { v =>
      v -> (RefOraclesY.md5u32(s"$seed:$v") % 1000000L / 1000000.0 - 0.5)
    }.toMap
    for (_ <- 1 to iterations) {
      val s = verts.map(v => deg(v) * x(v)).sum
      val msg = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      edges.foreach { case (u, v, ew) => msg(v) += ew * x(u) }
      val y = verts.map(v =>
        v -> (sigma * x(v) - deg(v) * (s / w) + msg(v))).toMap
      val mu = y.values.sum / verts.size
      val norm = math.sqrt(y.values.map(c => (c - mu) * (c - mu)).sum)
      x = y.map { case (v, c) => v -> (c - mu) / norm }
    }
    x
  }

  test("modularity cut on karate matches host power iteration and " +
      "beats the balanced cut's modularity") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val got = Spectral.modularityCut(g, Spectral.Config(iterations = 20))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = hostModularity(edges, 20, 42L)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, (micro, cluster)) =>
      assert(math.abs(micro - math.round(want(v) * 1e6)) <= 1,
        s"vertex $v micro $micro vs host ${want(v)}")
      if (math.abs(want(v)) > 1e-3)
        assert(cluster == (if (want(v) > 0) 1L else 0L), s"vertex $v side")
    }
    // The modularity objective must not lose to the balanced-cut
    // objective on its own metric (karate's two factions are the
    // canonical modularity fixture).
    import org.apache.spark.sql.functions.col
    val qMod = Spectral.analyzeClustering(g,
      Spectral.modularityCut(g).select(col("id"), col("cluster"))).modularity
    val qCut = Spectral.analyzeClustering(g,
      Spectral.fiedlerCut(g).select(col("id"), col("cluster"))).modularity
    assert(qMod >= qCut, s"modularity objective $qMod < balanced cut $qCut")
    assert(qMod > 0.3, s"karate bipartition modularity $qMod suspiciously low")
  }

  test("modularity maximization k=4 assigns the full range deterministically") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val k4 = Spectral.modularityMaximization(g, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k4.keySet == edges.map(_._1).distinct.toSet)
    assert(k4.values.forall(c => c >= 0 && c < 4))
    assert(k4.values.toSet.size >= 3, s"degenerate: ${k4.values.toSet}")
    val again = Spectral.modularityMaximization(g, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == k4)
  }

  /** Host mirror of the k-way recursion: `cut` on each side's induced
   * edges, with [[Spectral.balancedCut]]'s range assignment (x <= 0 ->
   * [base, base + k/2), x > 0 -> the rest; a vertex the cut misses
   * joins the low side). Per vertex: its label and the smallest |x| of
   * the splits it passed through (infinite when no cut scored it). */
  private def hostRecursion(
      edges: Seq[(Long, Long, Double)],
      k: Int,
      cut: Seq[(Long, Long, Double)] => Map[Long, Double])
      : Map[Long, (Long, Double)] = {
    def rec(vs: Set[Long], k: Int, base: Long, margin: Map[Long, Double])
        : Map[Long, (Long, Double)] = {
      val es = edges.filter { case (u, v, _) => vs(u) && vs(v) }
      if (k == 1 || es.isEmpty) vs.iterator.map(v => v -> (base, margin(v))).toMap
      else {
        val x = cut(es)
        val m = margin ++ x.map { case (v, xv) => v -> math.min(margin(v), math.abs(xv)) }
        val (high, low) = vs.partition(v => x.get(v).exists(_ > 0))
        rec(low, k / 2, base, m) ++ rec(high, k - k / 2, base + k / 2, m)
      }
    }
    val vs = edges.flatMap(e => Seq(e._1, e._2)).toSet
    rec(vs, k, 0L, vs.iterator.map(_ -> Double.PositiveInfinity).toMap)
  }

  test("k-way cuts match a host recursion of the bisections") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val fiedler = hostFiedler(_: Seq[(Long, Long, Double)], 20, 42L)
    val cases = Seq(
      ("balancedCut k=3", Spectral.balancedCut(g, 3), hostRecursion(edges, 3, fiedler)),
      ("balancedCut k=4", Spectral.balancedCut(g, 4), hostRecursion(edges, 4, fiedler)),
      ("modularityMaximization k=4", Spectral.modularityMaximization(g, 4),
        hostRecursion(edges, 4, hostModularity(_, 20, 42L))))
    for ((name, df, want) <- cases) {
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == want.keySet, name)
      // Labels are compared where every split the vertex passed through
      // scored it clear of 0; float sum order cannot flip those signs.
      val decided = want.filter(_._2._2 > 1e-3)
      assert(decided.size * 2 >= want.size, s"$name: ${decided.size} decided")
      decided.foreach { case (v, (label, _)) =>
        assert(got(v) == label, s"$name: vertex $v got ${got(v)}, host $label")
      }
    }
  }

  test("balanced cut of an empty edge table is empty") {
    val got = Spectral.balancedCut(graphOf(Nil), 4)
    assert(got.columns.toSeq == Seq("id", "cluster"))
    assert(got.collect().isEmpty)
  }

  test("balanced cut keeps a side with no internal edges at its base") {
    // A star: the root cut splits the leaves, and the side without the
    // center has no internal edges, so all of it stays at that side's
    // base while the center's side is cut again.
    val star = (1L to 8L).flatMap(v => Seq((0L, v, 1.0), (v, 0L, 1.0)))
    val got = Spectral.balancedCut(graphOf(star), 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // As the per-subgraph recursion labelled it: leaves 1, 5 and 7 are
    // the root's low side and stay at 0.
    assert(got == Map(0L -> 3L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 2L,
      5L -> 0L, 6L -> 3L, 7L -> 0L, 8L -> 3L))
  }

  test("analyzeClustering metrics match a host recomputation") {
    val edges = loadFixture("karate")
    val g = graphOf(edges)
    val labels = Spectral.balancedCut(g, 3)
    val m = Spectral.analyzeClustering(g, labels)
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // Host: edge cut / ratio cut / modularity from the same labels.
    val cutW = edges.collect {
      case (u, v, w) if lab(u) != lab(v) => w
    }.sum / 2.0
    val sizes = lab.values.groupBy(identity).view.mapValues(_.size).toMap
    val perClusterCut = edges
      .filter { case (u, v, _) => lab(u) != lab(v) }
      .groupBy { case (u, _, _) => lab(u) }
      .view.mapValues(_.map(_._3).sum).toMap
    val ratio = sizes.map { case (c, n) =>
      perClusterCut.getOrElse(c, 0.0) / n
    }.sum
    val t = edges.map(_._3).sum
    val internal = edges.collect {
      case (u, v, w) if lab(u) == lab(v) => w
    }.sum
    val kk = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
      .withDefaultValue(0.0)
    val a = lab.keys.toSeq.groupBy(lab).values.map(_.map(kk).sum)
    val q = internal / t - a.map(x => x * x).sum / (t * t)

    assert(math.abs(m.edgeCut - cutW) < 1e-9, s"${m.edgeCut} vs $cutW")
    assert(math.abs(m.ratioCut - ratio) < 1e-9, s"${m.ratioCut} vs $ratio")
    assert(math.abs(m.modularity - q) < 1e-9, s"${m.modularity} vs $q")
  }
}
