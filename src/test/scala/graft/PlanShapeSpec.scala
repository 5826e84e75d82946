package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.LinkGraph
import graft.core.LinkGraph.{DST, ID, SRC}

/**
 * Physical-plan regression tests: the scale posture ("the message
 * reduce is the ONLY per-superstep exchange") is an explicit claim in
 * BENCH.md/README — these specs pin it so a refactor that silently
 * reintroduces an exchange fails CI, not a 100 TB run.
 */
class PlanShapeSpec extends SparkSpec {

  private def exchanges(df: DataFrame): Int =
    // count live exchange operators in the executed plan; a plain
    // string count would also match the frozen plan text stored
    // inside InMemoryRelation nodes
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.length

  private def cachedGraph(): LinkGraph = {
    val edges = loadFixture("karate")
    graphOf(edges).cached()
  }

  test("superstep join + message reduce = exactly one exchange") {
    val g = cachedGraph()
    g.edges.count() // materialize the cache
    val p = g.numPartitions
    val state = g.edges.select(col(SRC).as(ID)).distinct()
      .select(col(ID), col(ID).cast("double").as("x"))
      .repartition(p, col(ID))
    // the PageRank/WCC/LPA superstep shape
    val msgs = g.edges
      .join(state.hint("shuffle_hash"), g.edges(SRC) === state(ID))
      .select(col(DST), col("x"))
      .groupBy(DST).agg(sum("x"))
    graft.core.SparkTuning.withoutAqe(spark) {
      msgs.count() // force execution so executedPlan is final
      assert(exchanges(msgs) == 1,
        msgs.queryExecution.executedPlan.toString)
    }
    g.unpersist()
  }

  test("superstep loops: jobs and exchanges per superstep of PageRank, WCC, LPA, SSSP") {
    // The real loops, not a hand-built plan: each runs for 2 and then 3
    // supersteps, and the difference is what ONE superstep starts — its
    // jobs and its executed Exchanges: the submitted stages other than
    // each job's result stage (a stage whose shuffle output is reused
    // is skipped, not submitted).
    import graft.algos.{Bfs, ConnectedComponents, CoreNumber, Eigenvector, Hits,
      Katz, KCore, KTruss, LabelPropagation, Louvain, PageRank, Spectral, Sssp}
    val g = graphOf(loadFixture("karate")).symmetrize.cached()
    g.edges.count()
    // Build the by-dst layout up front too: otherwise the first loop
    // that reads it pays its exchange in the n=2 run only, and the
    // difference would measure the build, not a superstep.
    g.transposed.count()
    def counts(run: Int => Unit, iters: Int): (Int, Int) = {
      val (_, jobs, stages) = listen(run(iters))
      (jobs.size, stages - jobs.size)
    }
    def perSuperstep(run: Int => Unit): (Int, Int) = {
      val (j2, x2) = counts(run, 2)
      val (j3, x3) = counts(run, 3)
      (j3 - j2, x3 - x2)
    }
    val loops: Seq[(String, Int => Unit)] = Seq(
      "pagerank" -> (n => assert(!PageRank.run(g,
        PageRank.Config(tol = 0.0, maxIter = n)).converged)),
      // An exact fixpoint that stops at `n` throws, after its supersteps.
      "wcc" -> (n => intercept[IllegalStateException](ConnectedComponents.run(g,
        ConnectedComponents.Config(maxIter = n)))),
      "lpa" -> (n => assert(!LabelPropagation.run(g,
        LabelPropagation.Config(maxIter = n)).converged)),
      "sssp" -> (n => intercept[IllegalStateException](
        Sssp.run(g, 0L, Sssp.Config(maxIter = n)))),
      "katz" -> (n => assert(!Katz.run(g,
        Katz.Config(tol = 0.0, maxIter = n)).converged)),
      "eigenvector" -> (n => assert(!Eigenvector.run(g,
        Eigenvector.Config(tol = 0.0, maxIter = n)).converged)),
      "spectral" -> (n => Spectral.fiedlerCut(g, Spectral.Config(iterations = n))),
      "spectral_mod" -> (n =>
        Spectral.modularityCut(g, Spectral.Config(iterations = n))),
      // Karate takes 3 core-number supersteps, 4 rounds of the 4-core
      // peel and 3 of the 5-truss peel, so every run stops at its cap:
      // `n` for the 4-core, n - 1 for the other two, whose runs of 3
      // would converge.
      "hits" -> (n => assert(!Hits.run(g,
        Hits.Config(tol = 0.0, maxIter = n)).converged)),
      "core_number" -> (n => intercept[IllegalStateException](
        CoreNumber.run(g, maxIter = n - 1))),
      "kcore" -> (n => intercept[IllegalStateException](
        KCore.subgraph(g, 4, maxIter = n))),
      "ktruss" -> (n => intercept[IllegalStateException](
        KTruss.subgraph(g, 5, maxIter = n - 1))),
      // Karate's levels from vertex 0 go 3 deep: every level is non-empty.
      "bfs" -> (n => Bfs.run(g, Seq(0L),
        Bfs.Config(maxDepth = n, pull = Some(false)))),
      "bfs_pull" -> (n => Bfs.run(g, Seq(0L),
        Bfs.Config(maxDepth = n, pull = Some(true)))),
      "ms_bfs" -> (n => Bfs.multiSource(g, Seq(0L), maxDepth = n)),
      // One level of fixed-mode local moving, n iterations.
      "louvain" -> (n => Louvain.run(g,
        Louvain.Config(maxLevels = 1, fixedInnerIter = n))))
    try {
      val got = loops.map { case (name, run) => name -> perSuperstep(run) }.toMap
      // One job per superstep, the convergence aggregate; it runs the
      // message reduce's exchange and its own single-partition one
      // (HITS reduces twice: the auth and the hub gathers; a pulling
      // BFS level prunes the by-dst layout to the unvisited residue
      // where it lies, then moves only the survivors, to src, to meet
      // the frontier; a multi-source level moves its frontier to id for
      // the edge join, and its (source, dst) reduce leaves the level
      // co-partitioned with the (source, id)-keyed visited frame, so
      // the anti-join and the union move nothing; the
      // modularity cut adds the job of its S = Σ d·x pass, with its own
      // single-partition exchange). The
      // peels start more: the k-truss adjacency count and its two
      // broadcast builds; the k-core survivor set's two broadcast
      // builds, beside the count and its single-partition exchange.
      // A Louvain iteration runs the count that fills its labels and
      // one build job per broadcast side: the two label sides and the
      // cached cluster weights, built once for both of their joins.
      assert(got == Map("pagerank" -> (1, 2), "wcc" -> (1, 2),
        "lpa" -> (1, 2), "sssp" -> (1, 2),
        "katz" -> (1, 2), "eigenvector" -> (1, 2),
        "spectral" -> (1, 2), "spectral_mod" -> (2, 3),
        "hits" -> (1, 3), "core_number" -> (1, 2),
        "kcore" -> (3, 1), "ktruss" -> (4, 5),
        "bfs" -> (1, 2), "bfs_pull" -> (1, 3), "ms_bfs" -> (1, 3),
        "louvain" -> (5, 1)))
    } finally g.unpersist()
  }

  test("whole-call jobs and exchanges of SCC and Leiden") {
    // SCC's pass loop around its two fixpoints on the partially
    // oriented karate of SccSpec, and two fixed-mode Leiden levels:
    // every job and executed exchange of the call, pinned as measured.
    import graft.algos.{Leiden, Louvain, Scc}
    val sym = loadFixture("karate").map(e => (e._1, e._2)).toSet
    val oriented = graphOf(sym.filter { case (u, v) => u < v || (u + v) % 3 != 0 }
      .toSeq.map(e => (e._1, e._2, 1.0))).cached()
    val g = graphOf(loadFixture("karate")).symmetrize.cached()
    g.edges.count()
    oriented.edges.count()
    def counts(run: => Unit): (Int, Int) = {
      val (_, jobs, stages) = listen(run)
      (jobs.size, stages - jobs.size)
    }
    try {
      val got = Map(
        "scc" -> counts(Scc.run(oriented)),
        "leiden" -> counts(Leiden.run(g,
          Louvain.Config(maxLevels = 2, fixedInnerIter = 3))))
      assert(got == Map("scc" -> (40, 23), "leiden" -> (53, 55)))
    } finally {
      g.unpersist()
      oriented.unpersist()
    }
  }

  test("whole-call jobs and exchanges of the k-way spectral cuts") {
    // Both recursive bisections to k = 4 on symmetrized karate: every
    // job and executed exchange of the call, pinned as measured.
    import graft.algos.Spectral
    val g = graphOf(loadFixture("karate")).symmetrize.cached()
    g.edges.count()
    def counts(run: => Unit): (Int, Int) = {
      val (_, jobs, stages) = listen(run)
      (jobs.size, stages - jobs.size)
    }
    try {
      val got = Map(
        "balanced" -> counts(Spectral.balancedCut(g, 4)),
        "modularity" -> counts(Spectral.modularityMaximization(g, 4)))
      // ⌈log₂ 4⌉ = 2 levels, each one power iteration over its parts.
      assert(got == Map("balanced" -> (48, 89), "modularity" -> (88, 129)))
    } finally g.unpersist()
  }

  test("whole-call jobs and exchanges of Betweenness, vertex and edge") {
    // Both accumulations from 4 explicit sources on symmetrized karate,
    // under the broadcast bound, every job and executed exchange of the
    // call as measured. Each forward level is one job, its count, with
    // the frontier's move to id, the (source, dst) reduce and the
    // count's single-partition exchange; the backward walk serves both
    // accumulations, its arc terms filled by each level's job.
    import graft.algos.Betweenness
    val g = graphOf(loadFixture("karate")).symmetrize.cached()
    g.edges.count()
    def counts(run: => Unit): (Int, Int) = {
      val (_, jobs, stages) = listen(run)
      (jobs.size, stages - jobs.size)
    }
    val cfg = Betweenness.Config(sources = Some(Seq(0L, 1L, 2L, 3L)))
    try {
      val got = Map(
        "run" -> counts(Betweenness.run(g, cfg)),
        "runEdges" -> counts(Betweenness.runEdges(g, cfg)))
      assert(got == Map("run" -> (21, 17), "runEdges" -> (20, 18)))
    } finally g.unpersist()
  }

  test("triangle count: a fixed number of jobs, each broadcast side built once") {
    // Under the adjacency bound: the degree sum, one broadcast each of
    // the degree table and the adjacency, and the result. Every
    // executed BroadcastExchange runs one build job, tagged with its
    // runId; a reused exchange runs none. Past the bound (with Spark's
    // size-based broadcast off as well): the degree sum and the result.
    import graft.algos.TriangleCount
    val g = graphOf(loadFixture("karate")).symmetrize.cached()
    g.edges.count()
    def shape(adjBytes: Long): (Int, Int) = {
      val (out, jobs, _) = listen(
        graft.core.SparkTuning.withGraph(g)(TriangleCount.runImpl(_, adjBytes)))
      assert(TriangleCount.total(out) == 45L)
      val builds = jobs.flatMap(j =>
        Option(j.properties.getProperty("spark.job.tags")).toSeq
          .flatMap(_.split(",")).filter(_.startsWith("broadcast exchange")))
      (jobs.size, builds.distinct.size)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try {
      assert(shape(graft.core.SparkTuning.BroadcastBytes) == (4, 2))
      spark.conf.set(key, "-1")
      assert(shape(0L) == (2, 0))
    } finally {
      spark.conf.unset(key)
      g.unpersist()
    }
  }

  test("neighbor sampling executes no window and no unbounded collect") {
    // The fanout sample must stay a bounded min-k AGGREGATION: a
    // per-src window rank (round-2 implementation) sorts a mega-hub's
    // whole adjacency in one task. The run materializes intermediates
    // (opaque final plan), so capture EVERY plan executed during the
    // call via a listener and pin: no WindowExec, no
    // collect_list/collect_set anywhere.
    val g = cachedGraph()
    g.edges.count()
    import spark.implicits._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString)
        val hasWindow = qe.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }.nonEmpty
        if (hasWindow) plans.add("WINDOW_EXEC_SEEN")
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val seeds = Seq(0L, 1L).toDF("id")
      graft.algos.NeighborSampling.run(g, seeds, Seq(3, 2), 42L).count()
      // listener callbacks are async; poll until they drain
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      Thread.sleep(500) // allow stragglers
      val all = plans.toArray.map(_.toString)
      assert(all.nonEmpty)
      assert(!all.exists(_ == "WINDOW_EXEC_SEEN"), "window in sampling plan")
      assert(!all.exists(p => p.contains("collect_list") ||
        p.contains("collect_set")), "unbounded collect in sampling plan")
    } finally {
      spark.listenerManager.unregister(listener)
      g.unpersist()
    }
  }

  test("walk selection windows ride bucketed frames only") {
    // The two-level inversion bounds every window partition by
    // max(NBuckets, degree/NBuckets) rows; the pin is that EVERY
    // WindowExec in the selection plan reads a frame carrying the
    // bucket column (level 1: the per-bucket aggregate; level 2: the
    // picked-bucket join) — a window over the RAW candidate frame (the
    // round-3 implementation: one partition = a hub's whole adjacency)
    // has no `bkt` column and fails here.
    import spark.implicits._
    val weighted = Seq(
      (0L, 0L, 0L, 1L, 1.0, 1.0), (0L, 0L, 0L, 2L, 3.0, 3.0),
      (1L, 1L, 1L, 0L, 1.0, 1.0))
      .toDF("start", "prev", "vertex", "nbr", "ew", "wt")
    val picked = graft.algos.Node2Vec.selectNext(weighted, 1, 42L)
    graft.core.SparkTuning.withoutAqe(spark) {
      picked.count() // finalize executedPlan
      val windows = picked.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "no window in selection plan — changed?")
      windows.foreach { w =>
        assert(w.child.output.map(_.name).contains("bkt"),
          s"unbucketed walk window:\n$w")
      }
    }
  }

  test("pathOffsets windows ride the range-partition column, never global") {
    // The two-phase prefix sum must keep every window partitioned by
    // __pid (a range partition of bounded size); a window over the
    // whole frame (one task holds every path) has no __pid column.
    import spark.implicits._
    val sizes = (0L until 1000L).map(i => (i, i % 7 + 1)).toDF("path_id", "size")
    val out = graft.algos.RandomWalks.pathOffsets(sizes, numPartitions = 4)
    graft.core.SparkTuning.withoutAqe(spark) {
      out.count()
      val windows = out.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      windows.foreach { w =>
        assert(w.child.output.map(_.name).contains("__pid"),
          s"global window in pathOffsets:\n$w")
      }
    }
  }

  test("fromDenseAdjacency explodes partition-locally: zero exchanges") {
    // The V^2 cell volume must exist only inside the scan stage — the
    // nonzero filter runs before any shuffle, so the edge list (not
    // the matrix) is what moves.
    import spark.implicits._
    val dense = Seq(
      (0L, Seq(0.0, 1.0, 2.0)),
      (1L, Seq(3.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 4.0))).toDF("id", "row")
    val g = LinkGraph.fromDenseAdjacency(dense, "id", "row")
    graft.core.SparkTuning.withoutAqe(spark) {
      g.edges.count()
      assert(exchanges(g.edges) == 0,
        g.edges.queryExecution.executedPlan.toString)
    }
  }

  test("core-number round body: one exchange for histogram+fold+update") {
    val g = cachedGraph()
    g.edges.count()
    val p = g.numPartitions
    val state = g.edges.select(col(SRC).as(ID)).distinct()
      .select(col(ID), lit(3L).as("c"))
      .repartition(p, col(ID))
    graft.core.SparkTuning.withoutAqe(spark) {
      val stream = g.edges
        .join(state.hint("shuffle_hash"), g.edges(SRC) === state(ID))
        .select(col(DST), col("c").as("v"))
      val byDst = stream.repartition(p, col(DST))
      val hist = byDst.groupBy(col(DST), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val h = hist.groupBy(DST)
        .agg(max("v").as("h")) // stand-in fold; partitioning is the point
      val updated = state.join(h.hint("shuffle_hash"),
        state(ID) === h(DST), "left")
      updated.count()
      // one exchange from the repartition; state is pre-partitioned by
      // the session (repartition above executes as its own exchange
      // before the loop in the real algorithm)
      val n = exchanges(updated)
      assert(n <= 2, updated.queryExecution.executedPlan.toString)
    }
    g.unpersist()
  }

  test("sequence packing: the one window partitions by bucket, never global") {
    // concat-and-split's running sum is the intrinsic sequential pass;
    // it must stay sharded (partitionSpec = bucket) so per-task state
    // is corpus/buckets, and it must be the ONLY window.
    import spark.implicits._
    val d = (0L until 500L).map(i => (i, Seq.fill(5)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Packing.concatSplit(d, "doc_id", "text",
      buckets = 8, ctx = 16)
    graft.core.SparkTuning.withoutAqe(spark) {
      out.count()
      val windows = out.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.length == 1,
        s"expected exactly one window:\n${out.queryExecution.executedPlan}")
      assert(windows.head.partitionSpec.nonEmpty &&
        windows.head.partitionSpec.exists(_.toString.contains("bucket")),
        s"global window in packing:\n${windows.head}")
    }
  }

  test("passage dedup executes no window: owner election is an aggregate") {
    import spark.implicits._
    val d = (0L until 200L)
      .map(i => (i, Seq.fill(50)(s"t${i % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.passageDedup(d, "doc_id", "text")
    graft.core.SparkTuning.withoutAqe(spark) {
      out.count()
      val windows = out.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"window in passage dedup:\n${out.queryExecution.executedPlan}")
    }
  }
}
