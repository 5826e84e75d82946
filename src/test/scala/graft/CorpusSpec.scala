package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.algos.PageRank
import graft.corpus.{PagesCorpus, Rmat}
import graft.extract.{LinkExtractor, WebGraph}

class RmatSpec extends SparkSpec {
  test("rmat edges are a pure function of (seed, idx)") {
    val e1 = Rmat.edges(42L, 8, 4)
    val e2 = Rmat.edges(42L, 8, 4)
    assert(e1 == e2)
    assert(e1 != Rmat.edges(43L, 8, 4))
    assert(e1.forall { case (s, d) => s >= 0 && s < 256 && d >= 0 && d < 256 })
  }

  test("rmat is power-law-ish: max degree far exceeds mean") {
    val es = Rmat.edges(42L, 10, 16)
    val deg = es.groupBy(_._1).map(_._2.size)
    assert(deg.max > 10 * (es.size / 1024.0))
  }

  test("clip_and_flip puts every edge in the lower triangle (src >= dst)") {
    val es = Rmat.edges(42L, 8, 8, clipAndFlip = true)
    assert(es.forall { case (s, d) => s >= d })
    // Draw stream shared with the directed mode: the flip only mirrors
    // upper-triangle steps, so lower-triangle edges match exactly.
    val plain = Rmat.edges(42L, 8, 8)
    es.zip(plain).foreach { case ((cs, cd), (ps, pd)) =>
      if (ps >= pd) assert((cs, cd) == (ps, pd))
    }
  }

  test("scramble is a permutation of [0, 2^lgN) and deterministic") {
    for (lgN <- Seq(8, 12)) {
      val n = 1L << lgN
      val img = (0L until n).map(Rmat.scramble(_, lgN))
      assert(img.forall(v => v >= 0 && v < n))
      assert(img.distinct.size == n.toInt) // bijective
      assert(img != (0L until n)) // actually permutes
    }
    assert(Rmat.scramble(12345L, 20) == Rmat.scramble(12345L, 20))
    intercept[IllegalArgumentException](Rmat.scramble(256L, 8))
  }
}

class ExtractorSpec extends SparkSpec {

  test("JVM and Catalyst extraction agree byte-for-byte on corpus html") {
    val s = spark
    import s.implicits._
    val pages = PagesCorpus.pages(spark, seed = 42L, scale = 7, edgeFactor = 8)
      .toDF()
    val viaSpark = LinkExtractor.pagesToText(pages)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = pages.select("url", "html").collect()
      .map(r => r.getString(0) ->
        LinkExtractor.extractText(new String(r.getAs[Array[Byte]](1), "UTF-8")))
      .toMap
    assert(viaSpark == local)
  }

  test("generated text column IS the pinned extraction (invariant)") {
    val s = spark
    import s.implicits._
    val pages = PagesCorpus.pages(spark, seed = 7L, scale = 7, edgeFactor = 8)
      .toDF()
    val mismatches = LinkExtractor.pagesToText(pages).as("e")
      .join(pages.select("url", "text").as("p"), "url")
      .filter(org.apache.spark.sql.functions.col("e.text") =!=
        org.apache.spark.sql.functions.col("p.text"))
      .count()
    assert(mismatches == 0L)
  }

  test("extractor is deterministic under arbitrary html (property)") {
    val htmlGen: Gen[String] = for {
      n <- Gen.choose(0, 20)
      parts <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumStr,
        Gen.const("<a href=\"https://x.example/1\">x</a>"),
        Gen.const("<script>bad()</script>"),
        Gen.const("<style>s{}</style>"),
        Gen.const("<p>text</p>"),
        Gen.const("  \n\t "),
        Gen.const("<div class=\"q\">")))
    } yield parts.mkString
    val prop = Prop.forAll(htmlGen) { html =>
      val t = LinkExtractor.extractText(html)
      val deterministic = t == LinkExtractor.extractText(html) &&
        LinkExtractor.extractLinks(html) == LinkExtractor.extractLinks(html)
      // extraction is idempotent: re-extracting extracted text is a no-op
      val idempotent = LinkExtractor.extractText(t) == t
      deterministic && idempotent
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("extracted links reproduce the RMAT edge list exactly (order + dups)") {
    val pages = PagesCorpus.pages(spark, seed = 42L, scale = 7, edgeFactor = 8)
      .toDF()
    val got = LinkExtractor.pagesToEdges(pages)
      .groupBy("src_url")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = PagesCorpus.edgeUrls(42L, 7, 8)
      .groupBy(_._1).map { case (u, xs) => u -> xs.size.toLong }
    assert(got == want)
  }
}

class WebGraphPipelineSpec extends SparkSpec {

  test("pages → extract → renumber → pagerank matches oracle on raw RMAT edges") {
    val seed = 42L; val scale = 7; val ef = 8
    val pages = PagesCorpus.pages(spark, seed, scale, ef).toDF()
    val built = WebGraph.fromPages(pages, numPartitions = 4)

    val res = PageRank.run(built.graph, PageRank.Config(tol = 1e-8))
    assert(res.converged)
    // map internal ids back to urls, compare against driver oracle over
    // the ground-truth url edge list (duplicates kept, same weights).
    val gotByUrl = WebGraph.withUrls(res.ranks, built.urlMap)
      .select("url", "pagerank").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

    val urlEdges = PagesCorpus.edgeUrls(seed, scale, ef)
    val urlIds = urlEdges.flatMap(e => Seq(e._1, e._2)).distinct
      .sorted.zipWithIndex.map { case (u, i) => u -> i.toLong }.toMap
    val oracleEdges = urlEdges.map { case (s, d) => (urlIds(s), urlIds(d), 1.0) }
    val want = RefOracles.pagerank(oracleEdges, urlIds.values.toSeq, 0.85, 1e-8)
      .map { case (v, p) => urlIds.map(_.swap).apply(v) -> p }

    assert(gotByUrl.keySet == want.keySet)
    val maxDiff = want.map { case (u, p) => math.abs(gotByUrl(u) - p) }.max
    assert(maxDiff < 1.1e-6, s"max diff $maxDiff")
  }

  test("renumber assigns dense degree-descending ids, ties by url") {
    val pages = PagesCorpus.pages(spark, 42L, 7, 8).toDF()
    val built = WebGraph.fromPages(pages, numPartitions = 4)
    val rows = built.urlMap.collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("degree"),
        r.getAs[Long]("id")))
    val n = rows.length
    assert(rows.map(_._3).sorted.toSeq == (0L until n).toSeq) // dense
    val byId = rows.sortBy(_._3)
    byId.sliding(2).foreach { case Array((u1, d1, _), (u2, d2, _)) =>
      assert(d1 > d2 || (d1 == d2 && u1 < u2))
    case _ => ()
    }
  }

  test("multi-column renumber round-trips a (host, path) composite key") {
    // The reference's NumberMap takes multi-column external ids;
    // buildMapMulti must assign dense degree-descending ids over the
    // key TUPLE and encode/decode must round-trip the edge list.
    val s = spark
    import s.implicits._
    val edges = Seq(
      ("a.com", "/x", "b.com", "/y"),
      ("a.com", "/x", "b.com", "/z"),
      ("b.com", "/y", "a.com", "/x"),
      ("c.com", "/x", "a.com", "/x"), // same path, different host
      ("b.com", "/z", "c.com", "/x"))
      .toDF("sh", "sp", "dh", "dp")
    val m = graft.core.Renumber.buildMapMulti(
      edges, Seq("sh", "sp"), Seq("dh", "dp"), numPartitions = 4)
    val rows = m.collect().map(r => ((r.getAs[String]("sh"),
      r.getAs[String]("sp")), r.getAs[Long]("degree"), r.getAs[Long]("id")))
    assert(rows.length == 4) // 4 distinct (host, path) tuples
    assert(rows.map(_._3).sorted.toSeq == (0L until 4L).toSeq)
    // ("a.com","/x") occurs 4 times (2 as src, 2 as dst) -> id 0
    assert(rows.find(_._1 == ("a.com", "/x")).get._3 == 0L)
    rows.sortBy(_._3).sliding(2).foreach {
      case Array((k1, d1, _), (k2, d2, _)) =>
        assert(d1 > d2 || (d1 == d2 &&
          (k1._1 < k2._1 || (k1._1 == k2._1 && k1._2 < k2._2))))
      case _ => ()
    }
    val enc = graft.core.Renumber.encodeMulti(
      edges, m, Seq("sh", "sp"), Seq("dh", "dp"))
    assert(enc.count() == 5)
    // decode both endpoints back and compare to the input tuples
    val dec = graft.core.Renumber.decodeMulti(
        enc.select($"src".as("id"), $"dst"), m, Seq("sh", "sp"))
      .select($"sh".as("s_h"), $"sp".as("s_p"), $"dst".as("id"))
    val full = graft.core.Renumber.decodeMulti(dec, m, Seq("sh", "sp"))
      .select("s_h", "s_p", "sh", "sp").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    val want = edges.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3))).toSet
    assert(full == want)
  }
}

class ResumeSpec extends SparkSpec {

  test("wcc resumes from checkpoint and matches an uninterrupted run") {
    // LPA too: its checkpoint stores (id, label), not its chg column.
    import graft.algos.{ConnectedComponents, LabelPropagation}
    import graft.checkpoint.CheckpointManager
    val g = graphOf(loadFixture("karate-disjoint")).symmetrize
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (name, committed columns, whether a run stopped at its cap throws,
    // run(maxIter, checkpoint) = (labels, iterations, converged))
    type Run = (Int, Option[CheckpointManager]) => (Map[Long, Long], Int, Boolean)
    val loops: Seq[(String, Int, Boolean, Run)] = Seq(
      ("wcc", 3, true, (n, cm) => {
        val r = ConnectedComponents.run(g, ConnectedComponents.Config(
          maxIter = n, checkpointEvery = 1, checkpoint = cm))
        (pairs(r.components), r.iterations, r.converged)
      }),
      ("lpa", 2, false, (n, cm) => {
        val r = LabelPropagation.run(g, LabelPropagation.Config(
          maxIter = n, checkpointEvery = 1, checkpoint = cm))
        (pairs(r.labels), r.iterations, r.converged)
      }))
    for ((algo, columns, exact, run) <- loops) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ckpt-$algo").toString
      val full = run(20, None)
      assert(full._3 && full._2 > 2, algo)

      // Phase 1: stop after 2 supersteps (commit every superstep); an
      // exact fixpoint stopped there throws, its commits made.
      val cm1 = new CheckpointManager(dir, spark)
      if (exact) intercept[IllegalStateException](run(2, Some(cm1)))
      else run(2, Some(cm1))
      assert(cm1.latestIteration(algo).contains(2))
      assert(cm1.restore(algo, 2).columns.length == columns, algo)

      // Phase 2: resume and finish; identical labels and superstep count.
      assert(run(20, Some(new CheckpointManager(dir, spark))) == full, algo)
    }
  }

  test("pagerank resumes from checkpoint and matches an uninterrupted run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val edges = loadFixture("karate")
    val g = graphOf(edges)

    val full = PageRank.run(g, PageRank.Config(tol = 1e-6))
    assert(full.converged)
    val want = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // Phase 1: run only 7 iterations, committing every 3 — simulates a
    // job killed mid-algorithm (last commit at iter 6).
    val cm1 = new graft.checkpoint.CheckpointManager(dir, spark)
    PageRank.run(g, PageRank.Config(tol = 1e-6, maxIter = 7,
      checkpointEvery = 3, checkpoint = Some(cm1)))
    assert(cm1.latestIteration("pagerank").contains(6))

    // Phase 2: fresh run with the same checkpoint dir resumes at 7.
    val cm2 = new graft.checkpoint.CheckpointManager(dir, spark)
    val resumed = PageRank.run(g, PageRank.Config(tol = 1e-6,
      checkpointEvery = 3, checkpoint = Some(cm2)))
    assert(resumed.converged)
    assert(resumed.iterations == full.iterations)
    val got = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    assert(want.forall { case (v, p) => math.abs(got(v) - p) < 1e-12 })

    // Manifest carries metrics + per-file lineage.
    val manifest = cm2.manifestJson("pagerank", 6)
    assert(manifest.contains("l1_diff") && manifest.contains("partitions"))
  }

  test("bfs resumes from a committed level and matches a full run") {
    import graft.algos.Bfs
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-bfs").toString
    val edges = loadFixture("karate")
    val g = graphOf(edges).symmetrize
    val want = Bfs.run(g, Seq(0L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // Phase 1: stop after level 1 (commit every level).
    val cm1 = new graft.checkpoint.CheckpointManager(dir, spark)
    Bfs.run(g, Seq(0L), Bfs.Config(maxDepth = 1, checkpointEvery = 1,
      checkpoint = Some(cm1)))
    assert(cm1.latestIteration("bfs").contains(1))

    // Phase 2: resume; identical distances + predecessors.
    val cm2 = new graft.checkpoint.CheckpointManager(dir, spark)
    val got = Bfs.run(g, Seq(0L), Bfs.Config(checkpointEvery = 1,
        checkpoint = Some(cm2)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("sssp resumes mid-relaxation and matches a full run") {
    import graft.algos.Sssp
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-sssp").toString
    val edges = loadFixture("dolphins")
    val g = graphOf(edges).symmetrize
    val root = edges.map(_._1).min
    val want = Sssp.run(g, root).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap

    // Stopped at its cap, the run throws, its commits made.
    val cm1 = new graft.checkpoint.CheckpointManager(dir, spark)
    intercept[IllegalStateException](Sssp.run(g, root, Sssp.Config(maxIter = 3,
      checkpointEvery = 1, checkpoint = Some(cm1))))
    assert(cm1.latestIteration("sssp").contains(3))

    val cm2 = new graft.checkpoint.CheckpointManager(dir, spark)
    val got = Sssp.run(g, root, Sssp.Config(checkpointEvery = 1,
        checkpoint = Some(cm2)))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("sssp does not resume a checkpoint of the reached-only state format") {
    import graft.algos.Sssp
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-sssp-fmt").toString
    val edges = loadFixture("dolphins")
    val g = graphOf(edges).symmetrize
    val root = edges.map(_._1).min
    val want = Sssp.run(g, root).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap

    // The old format kept reached vertices only, under extras without a
    // format tag; resumed into the dense loop it would stay truncated.
    val cm = new graft.checkpoint.CheckpointManager(dir, spark)
    val oldFp = cm.graphFingerprint(g.edges, "sssp", root.toString)
    cm.commit("sssp", 1,
      Seq((root, 0.0, root, true)).toDF("id", "distance", "predecessor", "chg"),
      Map("frontier" -> 1.0), oldFp)
    cm.flush()
    assert(cm.latestIteration("sssp", oldFp).contains(1))
    assert(cm.latestIteration("sssp", Sssp.fingerprint(cm, g, root)).isEmpty)

    val got = Sssp.run(g, root, Sssp.Config(checkpointEvery = 1000,
        checkpoint = Some(cm)))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("stale checkpoints of a different graph/source are NOT resumed") {
    import graft.algos.Bfs
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-fp").toString
    val karate = graphOf(loadFixture("karate")).symmetrize
    val dolphins = graphOf(loadFixture("dolphins")).symmetrize

    // Commit karate BFS state under algo name "bfs".
    val cm = new graft.checkpoint.CheckpointManager(dir, spark)
    Bfs.run(karate, Seq(0L), Bfs.Config(checkpointEvery = 1,
      checkpoint = Some(cm)))
    assert(cm.latestIteration("bfs").isDefined)

    // Same root + algo name, DIFFERENT graph: the fingerprint must
    // reject the stale manifests and produce a correct fresh run.
    val want = Bfs.run(dolphins, Seq(0L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = Bfs.run(dolphins, Seq(0L), Bfs.Config(checkpointEvery = 1000,
        checkpoint = Some(cm)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)

    // Same graph, different SOURCE set: also rejected.
    val want1 = Bfs.run(karate, Seq(1L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got1 = Bfs.run(karate, Seq(1L), Bfs.Config(checkpointEvery = 1000,
        checkpoint = Some(cm)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got1 == want1)
  }
}
