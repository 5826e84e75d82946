package graft

import graft.algos.Hungarian

/**
 * Auction assignment vs a host Held–Karp DP (exact min cost over job
 * subsets), mirroring the reference's test strategy of comparing
 * against a host LAP solve (cpp/tests/linear_assignment/hungarian_test.cu
 * checks the returned cost against expected optima).
 */
class HungarianSpec extends SparkSpec {

  /** Exact min assignment cost by DP over job-subset bitmasks. */
  private def bruteCost(
      workers: Seq[Long], jobs: Seq[Long],
      cost: Map[(Long, Long), Double]): Double = {
    val js = jobs.toArray
    val inf = Double.MaxValue / 4
    var dp = Array.fill(1 << js.length)(inf)
    dp(0) = 0.0
    workers.foreach { w =>
      val next = Array.fill(1 << js.length)(inf)
      for (mask <- dp.indices if dp(mask) < inf; ji <- js.indices
           if (mask & (1 << ji)) == 0) {
        cost.get((w, js(ji))).foreach { c =>
          val m2 = mask | (1 << ji)
          if (dp(mask) + c < next(m2)) next(m2) = dp(mask) + c
        }
      }
      dp = next
    }
    dp.iterator.filter(_ < inf).min
  }

  private def df(rows: Seq[(Long, Long, Double)]) = {
    val s = spark; import s.implicits._
    rows.toDF("worker", "job", "cost")
  }

  test("complete 8x8: local auction matches DP optimum and is a perfect matching") {
    val rng = new scala.util.Random(42)
    val ws = (0L until 8L).toSeq
    val js = (100L until 108L).toSeq
    val rows = for (w <- ws; j <- js) yield (w, j, (rng.nextInt(1000) + 1).toDouble)
    val cost = rows.map(r => (r._1, r._2) -> r._3).toMap
    val r = Hungarian.assign(df(rows))
    val got = r.assignments.collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got.map(_._1).toSet == ws.toSet)
    assert(got.map(_._2).distinct.length == 8)
    assert(math.abs(r.totalCost - bruteCost(ws, js, cost)) < 1e-6)
  }

  test("sparse rectangular 7x10 with fractional costs matches DP optimum") {
    val rng = new scala.util.Random(7)
    val ws = (0L until 7L).toSeq
    val js = (50L until 60L).toSeq
    // Keep ~60% of edges but guarantee a perfect matching via w -> 50+w.
    val rows = (for (w <- ws; j <- js
      if j == 50 + w || rng.nextDouble() < 0.6)
      yield (w, j, (rng.nextInt(4000) + 1) / 8.0)).distinct
    val cost = rows.map(r => (r._1, r._2) -> r._3).toMap
    val r = Hungarian.assign(df(rows))
    assert(math.abs(r.totalCost - bruteCost(ws, js, cost)) < 1e-6)
    val got = r.assignments.collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got.forall(cost.contains))
  }

  test("m >> n engages the exact top-n prune and still matches the DP optimum") {
    // 4 workers x 18 jobs (m > 2n, n <= 4096): the prune path keeps
    // each worker's 4 cheapest jobs, shrinking the dummy padding from
    // (m-n)·m to the pruned job universe, and must stay exactly
    // optimal (the pigeonhole exchange argument in Hungarian.assign).
    for (seed <- Seq(1, 2, 11)) {
      val rng = new scala.util.Random(seed)
      val ws = (0L until 4L).toSeq
      val js = (200L until 218L).toSeq
      val rows = (for (w <- ws; j <- js
        if j == 200 + w || rng.nextDouble() < 0.7)
        yield (w, j, (rng.nextInt(3000) + 1) / 4.0)).distinct
      val cost = rows.map(r => (r._1, r._2) -> r._3).toMap
      val r = Hungarian.assign(df(rows))
      val got = r.assignments.collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(got.map(_._1).toSet == ws.toSet, s"seed $seed: not a perfect matching")
      assert(got.map(_._2).distinct.length == ws.length, s"seed $seed: job reused")
      assert(got.forall(cost.contains), s"seed $seed: non-edge assigned")
      assert(math.abs(r.totalCost - bruteCost(ws, js, cost)) < 1e-6,
        s"seed $seed: cost ${r.totalCost} != DP ${bruteCost(ws, js, cost)}")
    }
  }

  test("distributed path produces the identical assignment to the local path") {
    val rng = new scala.util.Random(3)
    val ws = (0L until 6L).toSeq
    val js = (20L until 27L).toSeq
    val rows = for (w <- ws; j <- js) yield (w, j, (rng.nextInt(500) + 1).toDouble)
    val local = Hungarian.assign(df(rows))
    val dist = Hungarian.assign(df(rows), localThreshold = 0)
    assert(dist.rounds == local.rounds,
      "distributed Jacobi evolution must match the local rounds")
    val a = local.assignments.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val b = dist.assignments.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(a == b)
    assert(math.abs(local.totalCost - dist.totalCost) < 1e-9)
  }

  test("a pruned instance is sized by its pruned rows: small ones run locally") {
    // 4 workers x 40 jobs, worker w's job j costing (j - 200 + w) % 40 + 1:
    // the prune keeps each worker's 4 cheapest jobs, 16 rows over 7
    // jobs, padded to 16 + 3·7 = 37 rows, under the 100-row local
    // threshold. Counting the 160 unpruned rows instead (160 + 21)
    // sends it to the distributed auction, which starts jobs every
    // round. Each worker has its own cost-1 job: the optimum is 4.
    val rows = for (w <- 0L until 4L; j <- 200L until 240L)
      yield (w, j, ((j - 200 + w) % 40 + 1).toDouble)
    val (r, jobs, _) = listen(Hungarian.assign(df(rows), localThreshold = 100))
    assert(jobs.size < 30, s"${jobs.size} jobs")
    assert(r.totalCost == 4.0)
    assert(r.assignments.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      Set((0L, 200L), (1L, 239L), (2L, 238L), (3L, 237L)))
  }

  test("more workers than jobs is rejected") {
    val rows = Seq((1L, 9L, 1.0), (2L, 9L, 2.0))
    intercept[IllegalArgumentException] { Hungarian.assign(df(rows)) }
  }
}
