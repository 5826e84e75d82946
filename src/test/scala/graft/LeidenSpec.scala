package graft

import graft.algos.{Leiden, Louvain}

class LeidenSpec extends SparkSpec {

  private def communities(name: String): (Map[Long, Long], Set[(Long, Long)],
      Louvain.Result) = {
    val edges = loadFixture(name).map(e => (e._1, e._2)).toSet
    val g = graphOf(edges.toSeq.map(e => (e._1, e._2, 1.0)))
    val r = Leiden.run(g)
    val labels = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    (labels, edges, r)
  }

  /** The Leiden guarantee: every community is internally connected. */
  private def assertConnected(
      labels: Map[Long, Long], edges: Set[(Long, Long)]): Unit = {
    labels.groupBy(_._2).foreach { case (c, members) =>
      val vs = members.keySet
      if (vs.size > 1) {
        val adj = edges.filter(e => vs(e._1) && vs(e._2))
          .groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
        val seen = scala.collection.mutable.Set(vs.head)
        val stack = scala.collection.mutable.ArrayBuffer(vs.head)
        while (stack.nonEmpty) {
          val v = stack.remove(stack.size - 1)
          adj.getOrElse(v, Set.empty).foreach { w =>
            if (!seen(w)) { seen += w; stack += w }
          }
        }
        assert(seen == vs, s"community $c not connected: $seen != $vs")
      }
    }
  }

  test("leiden communities are internally connected (karate, dolphins)") {
    for (name <- Seq("karate", "dolphins")) {
      val (labels, edges, r) = communities(name)
      assert(labels.keySet == edges.flatMap(e => Seq(e._1, e._2)))
      assertConnected(labels, edges)
      assert(r.modularity > 0.3, s"$name Q=${r.modularity}")
      // refined community ids are canonical: min member id
      labels.groupBy(_._2).foreach { case (c, m) =>
        assert(c == m.keys.min)
      }
    }
  }

  test("leiden is deterministic and comparable to louvain in quality") {
    val edges = loadFixture("karate")
    val g1 = graphOf(edges)
    val a = Leiden.run(g1).labels.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = Leiden.run(graphOf(edges)).labels.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b)
    val lou = Louvain.run(graphOf(edges)).modularity
    val lei = Leiden.run(graphOf(edges)).modularity
    assert(lei > lou - 0.1, s"leiden $lei vs louvain $lou")
  }

  test("refinement splits an artificially disconnected community") {
    val s = spark
    import s.implicits._
    // two triangles {0,1,2} and {10,11,12}, no edges between them
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L),
      (10L, 12L))
    val sym = tri ++ tri.map(e => (e._2, e._1))
    val g = graphOf(sym.map(e => (e._1, e._2, 1.0)))
    // force both triangles into ONE label, then refine
    val labels = sym.map(_._1).distinct.map(v => (v, 0L)).toDF("id", "lbl")
    val refined = Leiden.refine(g, labels, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(refined == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }
}
