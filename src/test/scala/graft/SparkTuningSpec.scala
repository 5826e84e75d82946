package graft

import org.apache.spark.storage.StorageLevel

import graft.core.{LinkGraph, SparkTuning}

class SparkTuningSpec extends SparkSpec {
  test("withGraph lends a cached graph with AQE off and releases only its own cache") {
    val aqe = "spark.sql.adaptive.enabled"
    spark.conf.set(aqe, "true")
    val g0 = graphOf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0)))
    assert(g0.edges.storageLevel == StorageLevel.NONE)

    // An uncached graph arrives cached, with AQE off; the copy is
    // released and AQE restored once the body returns.
    var lent: LinkGraph = null
    val n = SparkTuning.withGraph(g0) { g =>
      lent = g
      assert(g.edges.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(spark.conf.get(aqe) == "false")
      g.edges.count()
    }
    assert(n == 2L)
    assert(lent.edges.storageLevel == StorageLevel.NONE)
    assert(spark.conf.get(aqe) == "true")

    // The same when the body throws; the exception propagates.
    val thrown = intercept[IllegalStateException] {
      SparkTuning.withGraph(g0) { g =>
        lent = g
        assert(g.edges.storageLevel == StorageLevel.MEMORY_AND_DISK)
        g.edges.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(lent.edges.storageLevel == StorageLevel.NONE)
    assert(spark.conf.get(aqe) == "true")

    // A graph the caller cached is lent as is and keeps its cache.
    val mine = g0.cached(StorageLevel.MEMORY_ONLY)
    SparkTuning.withGraph(mine) { g =>
      assert(g eq mine)
      g.edges.count()
    }
    assert(mine.edges.storageLevel == StorageLevel.MEMORY_ONLY)
    mine.unpersist()
  }

  test("transposed: the by-dst layout is built once, at the edges' storage level, and released with them") {
    val g0 = graphOf(Seq((0L, 1L, 2.0), (1L, 2L, 3.0), (2L, 2L, 1.0)))
    val want = Set((1L, 0L), (2L, 1L), (2L, 2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // Caching and releasing a graph whose view was never read starts no job.
    assert(listen { g0.cached().unpersist() }._2.isEmpty)

    val g = g0.cached()
    val t = g.transposed
    assert(t.columns.toSeq == Seq("src", "dst"))
    assert(rows(t) == want)
    assert(t.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(g.transposed eq t)
    // Concurrent first reads of one graph see one build; a copy starts
    // without one.
    val fresh = g0.cached()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val threads = (1 to 4).map(_ => new Thread(() => { seen.add(fresh.transposed); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(seen.size == 1)
    val copied = fresh.copy()
    assert(copied.transposed ne fresh.transposed)
    copied.unpersist()
    fresh.unpersist()

    g.unpersist()
    assert(g.edges.storageLevel == StorageLevel.NONE)
    assert(t.storageLevel == StorageLevel.NONE)

    // On uncached edges it is a plain repartition by its src: nothing
    // is persisted, and withGraph releases the copy's view with it.
    val u = g0.transposed
    assert(rows(u) == want)
    assert(u.storageLevel == StorageLevel.NONE)
    u.queryExecution.sparkPlan.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        assert(h.numPartitions == 4 && h.references.map(_.name).toSeq == Seq("src"))
      case other => fail(s"not hash-partitioned by src: $other")
    }
    var lent: org.apache.spark.sql.DataFrame = null
    SparkTuning.withGraph(g0) { g => lent = g.transposed; lent.count() }
    assert(lent.storageLevel == StorageLevel.NONE)
  }

  test("a second run on one cached graph reuses its by-dst layout") {
    // Each algorithm's first run on a fresh cached graph builds the
    // view inside the job that first reads it: the same jobs as the
    // second run, plus the build's one exchange stage.
    import graft.algos.{Bfs, CoreNumber, Hits}
    val base = graphOf(loadFixture("karate")).symmetrize
    def counts(run: => Unit): (Int, Int) = {
      val (_, jobs, stages) = listen(run)
      (jobs.size, stages)
    }
    for ((name, run) <- Seq[(String, LinkGraph => Unit)](
        "hits" -> (g => Hits.run(g, Hits.Config(tol = 0.0, maxIter = 2))),
        "core_number" -> (g => CoreNumber.run(g, degreeType = CoreNumber.Out)),
        "bfs_pull" -> (g => Bfs.run(g, Seq(0L), Bfs.Config(pull = Some(true))).count()))) {
      val g = base.cached()
      g.edges.count()
      try {
        val (jobs1, stages1) = counts(run(g))
        val (jobs2, stages2) = counts(run(g))
        assert((jobs2, stages2) == (jobs1, stages1 - 1), name)
      } finally g.unpersist()
    }
  }

  test("withShufflePartitions scopes the conf: restored after a return and after a throw") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getOption(key)
    def scoped(): Unit = {
      assert(SparkTuning.withShufflePartitions(spark, 3)(spark.conf.get(key)) == "3")
      val thrown = intercept[IllegalStateException] {
        SparkTuning.withShufflePartitions(spark, 2) {
          assert(spark.conf.get(key) == "2")
          throw new IllegalStateException("body failed")
        }
      }
      assert(thrown.getMessage == "body failed")
    }
    try {
      // From a set value and from an unset key (which reads as its default).
      for (prev <- Seq(Some("7"), None)) {
        prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val want = spark.conf.get(key)
        scoped()
        assert(spark.conf.get(key) == want)
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
