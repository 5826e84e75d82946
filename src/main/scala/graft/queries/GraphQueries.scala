package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.{Betweenness, Bfs, Bipartite, Coarsen, ConnectedComponents, CoreNumber, Ecg, Eigenvector, ExtractPaths, ForceAtlas2, Hits, Hungarian, Katz, KCore, KTruss, LabelPropagation, Leiden, Louvain, Mst, NeighborSampling, Node2Vec, PageRank, RandomWalks, Scc, Similarity, Spectral, Sssp, TraversedCost, TriangleCount}
import graft.core.{LinkGraph, NPartiteGraph}
import graft.core.LinkGraph.{DST, ID, SRC, WEIGHT}
import graft.corpus.Generators
import graft.sources.Mtx

/**
 * Graph queries over edge tables DERIVED deterministically from the
 * driver-provided TPC-H-ish parquet (TESTDATA.md), so every query has a
 * DuckDB-expressible oracle over the same files:
 *
 *  - "chain" graph: part co-purchase pairs from CONSECUTIVE lineitem
 *    line numbers within an order, symmetrized, deduped (sparse —
 *    used for the iterative algorithms);
 *  - "all" graph: all part pairs within an order (dense — used for
 *    triangle counting and similarity, where triangles must exist).
 *
 * The web-corpus pipeline (url pages → extracted link graph) lives in
 * [[graft.corpus]] / [[graft.extract]]; these derived graphs exist so
 * the correctness gate can hash-compare against DuckDB on shared input.
 */
object GraphQueries {

  private def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")

  /** Directed consecutive-line part pairs (u, v, q = a.l_quantity). */
  private def chainPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val li = lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val a = li.as("a")
    val b = li.as("b")
    a.join(b,
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("b.l_linenumber") === col("a.l_linenumber") + 1 &&
        col("a.l_partkey") =!= col("b.l_partkey"))
      .select(
        col("a.l_partkey").cast("long").as("u"),
        col("b.l_partkey").cast("long").as("v"),
        col("a.l_quantity").cast("double").as("q"))
  }

  /** Sparse symmetric unweighted edge table (src, dst, weight=1.0). */
  def chainEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val p = chainPairs(spark, sfDir)
    p.select(col("u").as(SRC), col("v").as(DST))
      .union(p.select(col("v").as(SRC), col("u").as(DST)))
      .distinct()
      .withColumn(WEIGHT, lit(1.0))
  }

  // Memoize the derived (and cached) graphs per (session, sf):
  // Verify/Bench run every query independently, and without this each
  // query re-runs the lineitem self-join and re-shuffles the edges —
  // which made round-over-round per-query timings incomparable
  // (q_pagerank_top10 = q_pagerank + rebuild noise).
  private val graphCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), LinkGraph]

  private def memo(s: SparkSession, dir: String, kind: String)(
      build: => LinkGraph): LinkGraph =
    graphCache.computeIfAbsent((s, dir, kind), _ => build.cached())

  // Memoize shared intermediate RESULT frames the same way (e.g. the
  // q_spectral Fiedler labels, which q_spectral_metrics scores):
  // whichever query runs first pays the computation; the rest join
  // against the cached frame.
  private val frameCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  private def memoFrame(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    frameCache.computeIfAbsent((s, dir, kind), _ => {
      val df = build.cache()
      df.count()
      df
    })

  /** Publish-or-reuse for derived results shared by sibling queries:
   * the OWNER query recomputes and republishes on every call — its
   * benchmark timing stays honest, and every shared computation runs
   * exactly once per sweep — while DEPENDENT queries reuse the
   * published frame through memoFrame, falling back to building it
   * when run standalone. Nothing persists across Spark sessions:
   * every bench/verify invocation recomputes from the parquet
   * inputs. */
  private def publishFrame(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = {
    val df = build.cache()
    df.count()
    Option(frameCache.put((s, dir, kind), df))
      .filter(_ ne df).foreach(_.unpersist())
    df
  }

  // ---- shared derived results (owner publishes, siblings reuse) ----

  /** The q_spectral Fiedler bipartition (20 fixed deflated power
   * iterations, seed 42): published by q_spectral, reused by
   * q_spectral_metrics (which scores it) and q_spectral_k (whose root
   * bisection it is). */
  private def buildFiedler(s: SparkSession, dir: String): DataFrame =
    Spectral.fiedlerCut(chainGraph(s, dir),
      Spectral.Config(iterations = 20, seed = 42L))

  /** q_pagerank's exact output frame (10 fixed iterations, micro-
   * rounded): published by q_pagerank, reused by q_pagerank_top10. */
  private def buildPagerank10(s: SparkSession, dir: String): DataFrame = {
    val r = PageRank.run(chainGraph(s, dir),
      PageRank.Config(alpha = 0.85, tol = 0.0, maxIter = 10))
    r.ranks.select(col(ID),
      round(col("pagerank") * 1e6, 0).cast("long").as("pr_micro"))
  }

  /** q_wcc's component frame: published by q_wcc, reused by
   * q_component_count (q_checkpoint_roundtrip keeps its own run —
   * the checkpoint sink is the thing it certifies). */
  private def buildWcc(s: SparkSession, dir: String): DataFrame =
    ConnectedComponents.run(chainGraph(s, dir)).components

  /** The min-root BFS traversal (id, distance, predecessor):
   * published by q_bfs, reused by q_extract_paths and
   * q_traversed_cost (both post-process the same predecessor tree). */
  private def buildBfsRoot(s: SparkSession, dir: String): DataFrame = {
    val g = chainGraph(s, dir)
    val root = g.edges.agg(min(col(SRC))).head().getLong(0)
    Bfs.run(g, Seq(root))
  }

  /** The min-root weighted SSSP frame (id, distance, predecessor):
   * published by q_sssp, reused by q_sssp_utils. */
  private def buildSssp(s: SparkSession, dir: String): DataFrame = {
    val g = weightedChainGraph(s, dir)
    val root = g.edges.agg(min(col(SRC))).head().getLong(0)
    Sssp.run(g, root)
  }

  /** Similarity intersection-statistics base (src, dst, i, da, db) —
   * the wedge join all three coefficients share: published by
   * q_jaccard, reused by q_sorensen / q_overlap. */
  private def buildSimBase(s: SparkSession, dir: String): DataFrame =
    Similarity.base(chainGraph(s, dir))

  /** Weighted similarity base: published by q_wjaccard, reused by
   * q_wsorensen / q_woverlap. */
  private def buildWSimBase(s: SparkSession, dir: String): DataFrame =
    Similarity.baseWeighted(chainGraph(s, dir), vertexWeights(s, dir))

  /** The one-level Louvain labels (id, community) q_louvain declares
   * — identical to the dendrogram's level 0 for maxLevels = 1:
   * published by q_louvain, reused by q_flatten_dendrogram as its
   * level-0 input. */
  private def buildLouvainL0(s: SparkSession, dir: String): DataFrame =
    Louvain.run(chainGraph(s, dir),
      Louvain.Config(maxLevels = 1, fixedInnerIter = 3)).labels

  /** The edge-form neighbor sample (hop, src, dst) both sampling
   * queries derive from: published by q_neighbor_sample, regrouped
   * into the adjacency form by q_adj_sample. */
  private def buildNbrSample(s: SparkSession, dir: String): DataFrame = {
    val g = chainGraph(s, dir)
    val seeds = g.edges.select(col(SRC).as(ID)).distinct()
      .orderBy(col(ID)).limit(10)
    NeighborSampling.run(g, seeds, Seq(3, 2), seed = 42L)
  }

  def chainGraph(spark: SparkSession, sfDir: String): LinkGraph =
    memo(spark, sfDir, "chain") {
      LinkGraph(chainEdges(spark, sfDir), directed = false,
        spark.sessionState.conf.numShufflePartitions)
    }

  /** The directed consecutive-pair graph: one arc u → v per distinct
   * chain pair, unit weight. */
  def dchainGraph(spark: SparkSession, sfDir: String): LinkGraph =
    memo(spark, sfDir, "dchain") {
      val de = chainPairs(spark, sfDir)
        .select(col("u").as(SRC), col("v").as(DST)).distinct()
        .withColumn(WEIGHT, lit(1.0))
      LinkGraph(de, directed = true,
        spark.sessionState.conf.numShufflePartitions)
    }

  /** Dense symmetric co-occurrence edge table (all pairs per order). */
  def allEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val a = li.as("a")
    val b = li.as("b")
    a.join(b,
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") =!= col("b.l_partkey"))
      .select(
        col("a.l_partkey").cast("long").as(SRC),
        col("b.l_partkey").cast("long").as(DST))
      .distinct()
      .withColumn(WEIGHT, lit(1.0))
  }

  def allGraph(spark: SparkSession, sfDir: String): LinkGraph =
    memo(spark, sfDir, "all") {
      LinkGraph(allEdges(spark, sfDir), directed = false,
        spark.sessionState.conf.numShufflePartitions)
    }

  /** Min-quantity-weighted symmetrized chain graph (q_sssp/q_coarsen
   * input), memoized like the unweighted graphs. */
  def weightedChainGraph(s: SparkSession, sfDir: String): LinkGraph =
    memo(s, sfDir, "wchain") {
      val p = chainPairs(s, sfDir)
      val directed = p.groupBy(col("u").as(SRC), col("v").as(DST))
        .agg(min(col("q")).as(WEIGHT))
      val sym = directed
        .union(directed.select(col(DST).as(SRC), col(SRC).as(DST), col(WEIGHT)))
        .groupBy(SRC, DST).agg(min(WEIGHT).as(WEIGHT))
      LinkGraph(sym, directed = false,
        s.sessionState.conf.numShufflePartitions)
    }

  /** Where Verify dumps the multi-RMAT batch for the q_multi_rmat
   * DuckDB oracle (same pattern as WebQueries.CorpusDumpDir: the
   * oracle recomputes the per-graph statistics from the dumped
   * generator frame; the generator itself is certified by
   * MultiRmatSpec's equality with the host Rmat stream). */
  val MultiRmatDumpDir = "/root/repo/target/verify_corpus/multirmat"

  private def multiRmatBatch(s: SparkSession): DataFrame =
    Generators.multiRmat(s, nGraphs = 3, minScale = 4, maxScale = 6,
      edgeFactor = 4, seed = 42L)

  def dumpMultiRmat(s: SparkSession): Unit =
    multiRmatBatch(s).coalesce(1).write.mode("overwrite")
      .parquet(MultiRmatDumpDir)

  /** Materialize the memoized graphs (Bench calls this before timing
   * queries so per-query numbers measure the algorithm, not the
   * shared derivation). */
  def warm(s: SparkSession, sfDir: String): Unit = {
    chainGraph(s, sfDir).edges.count()
    allGraph(s, sfDir).edges.count()
    weightedChainGraph(s, sfDir).edges.count()
  }

  /** Deterministic per-vertex weights for the weighted similarity
   * queries: vw = id % 7 + 1 (reproducible by the SQL oracle). */
  private def vertexWeights(s: SparkSession, dir: String): DataFrame =
    chainEdges(s, dir).select(col(SRC).as(ID)).distinct()
      .select(col(ID), (pmod(col(ID), lit(7L)) + 1).cast("double").as("vw"))

  // ---------------------------------------------------------------- //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_degrees" -> ((s, dir) =>
      chainGraph(s, dir).degreeTable
        .select(col(ID), col("out_degree"), col("in_degree"))),

    "q_pagerank" -> ((s, dir) =>
      // Fixed 10 power iterations (tol=0 disables early stop) so the
      // DuckDB recursive-CTE oracle runs the identical computation;
      // scores exported as integer micro-PageRank to make the hash
      // compare float-noise-proof. Publishes the frame for
      // q_pagerank_top10 (owner recomputes every call).
      publishFrame(s, dir, "pr10")(buildPagerank10(s, dir))),

    "q_pagerank_top10" -> ((s, dir) =>
      memoFrame(s, dir, "pr10")(buildPagerank10(s, dir))
        .orderBy(col("pr_micro").desc, col(ID))
        .limit(10)),

    "q_pagerank_personalized" -> ((s, dir) => {
      // Teleport mass pinned to the 3 smallest vertices (equal values),
      // fixed 10 iterations; exported as integer micro-PageRank.
      val g = chainGraph(s, dir)
      val pers = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(3)
        .select(col(ID), lit(1.0).as("value"))
      val r = PageRank.run(g, PageRank.Config(alpha = 0.85, tol = 0.0,
        maxIter = 10, personalization = Some(pers)))
      r.ranks.select(col(ID),
        round(col("pagerank") * 1e6, 0).cast("long").as("pr_micro"))
    }),

    "q_pagerank_weighted" -> ((s, dir) => {
      // PageRank over EDGE-WEIGHTED input (min-quantity weights): the
      // reference's weighted path normalizes each contribution by the
      // source's out-WEIGHT sum (pagerank_impl.cuh:158-164,248-257),
      // not its out-degree. Fixed 10 iterations, micro-rounded.
      val g = weightedChainGraph(s, dir)
      val r = PageRank.run(g, PageRank.Config(alpha = 0.85, tol = 0.0,
        maxIter = 10))
      r.ranks.select(col(ID),
        round(col("pagerank") * 1e6, 0).cast("long").as("pr_micro"))
    }),

    "q_wcc" -> ((s, dir) =>
      publishFrame(s, dir, "wcc")(buildWcc(s, dir))),

    "q_checkpoint_roundtrip" -> ((s, dir) => {
      // Drives the checkpoint SINK through the correctness gate: run
      // WCC committing every superstep, then RESTORE the latest
      // committed manifest and emit the restored state — which must
      // equal the plain q_wcc oracle. Certifies commit + manifest +
      // fingerprint + restore end-to-end, not just in ScalaTest.
      val root = s"/tmp/graft_ckpt_${Integer.toHexString(dir.hashCode)}"
      org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cm = new graft.checkpoint.CheckpointManager(root, s)
      val g = chainGraph(s, dir)
      ConnectedComponents.run(g,
        ConnectedComponents.Config(checkpointEvery = 1,
          checkpoint = Some(cm))).components.count()
      val it = cm.latestIteration("wcc").getOrElse(
        sys.error("no committed checkpoint"))
      cm.restore("wcc", it).select("id", "component")
    }),

    "q_component_count" -> ((s, dir) => {
      // Scalar count-distinct over component labels (reference
      // connectivity.py:86 unique-label count).
      import s.implicits._
      val comps = memoFrame(s, dir, "wcc")(buildWcc(s, dir))
      Seq(Tuple1(
        comps.agg(countDistinct("component")).head().getLong(0)))
        .toDF("n_components")
    }),

    "q_lpa" -> ((s, dir) => {
      val g = chainGraph(s, dir)
      LabelPropagation.run(g, LabelPropagation.Config(maxIter = 5)).labels
    }),

    "q_triangles" -> ((s, dir) => {
      TriangleCount.run(allGraph(s, dir))
    }),

    "q_two_hop" -> ((s, dir) => {
      val e = chainGraph(s, dir).edges
      val e2 = e.select(col(SRC).as("mid"), col(DST).as("dst2"))
      e.select(col(SRC), col(DST).as("mid"))
        .join(e2, Seq("mid"))
        .filter(col(SRC) =!= col("dst2"))
        .select(col(SRC), col("dst2").as(DST))
        .distinct()
    }),

    "q_jaccard" -> ((s, dir) =>
      // Drives the library operator itself (reference similarity
      // family: cpp/src/link_prediction/similarity_impl.cuh), so the
      // green CORRECTNESS row certifies Similarity.base/fromBase, not
      // a copy. Publishes the shared intersection base for
      // q_sorensen / q_overlap (owner recomputes every call).
      Similarity.fromBase(
          publishFrame(s, dir, "simbase")(buildSimBase(s, dir)),
          Similarity.Jaccard)
        .select(col(SRC), col(DST),
          round(col("jaccard") * 1e6, 0).cast("long").as("jac_micro"))),

    "q_symmetrize" -> ((s, dir) => {
      // Directed weighted pairs -> canonical undirected edge list with
      // min weight (reference symmetrize.py:78-92 groupby-min).
      val p = chainPairs(s, dir)
      val directed = p.groupBy(col("u").as(SRC), col("v").as(DST))
        .agg(min(col("q")).as(WEIGHT))
      directed
        .union(directed.select(col(DST).as(SRC), col(SRC).as(DST), col(WEIGHT)))
        .groupBy(SRC, DST)
        .agg(min(WEIGHT).as(WEIGHT))
    }),

    "q_betweenness" -> ((s, dir) => {
      // Sampled Brandes over the dense co-occurrence graph (diameter 2
      // at test SFs) from the 4 smallest vertices; micro-rounded.
      val g = allGraph(s, dir)
      val srcs = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(4).collect().map(_.getLong(0)).toSeq
      Betweenness.run(g,
          Betweenness.Config(normalized = true, sources = Some(srcs)))
        .select(col(ID),
          round(col("bc") * 1e6, 0).cast("long").as("bc_micro"))
    }),

    "q_edge_betweenness" -> ((s, dir) => {
      // Edge betweenness (reference edge_betweenness_centrality) over
      // the dense graph from the same 4 sources as q_betweenness.
      val g = allGraph(s, dir)
      val srcs = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(4).collect().map(_.getLong(0)).toSeq
      Betweenness.runEdges(g,
          Betweenness.Config(normalized = true, sources = Some(srcs)))
        .select(col(SRC), col(DST),
          round(col("bc") * 1e6, 0).cast("long").as("ebc_micro"))
    }),

    "q_louvain" -> ((s, dir) =>
      // One dendrogram level, exactly 3 fixed inner iterations (the
      // oracle unrolls the identical computation; multi-level +
      // Q-driven control is certified by LouvainSpec vs a host oracle).
      // Publishes the level for q_flatten_dendrogram (owner recomputes
      // every call).
      publishFrame(s, dir, "louvain0")(buildLouvainL0(s, dir))),

    "q_flatten_dendrogram" -> ((s, dir) => {
      // Standalone flatten_dendrogram fold (algorithms.hpp:610-633):
      // level 0 is the real retained Louvain level (same config as
      // q_louvain — the shared frame: for maxLevels = 1 the labels ARE
      // the dendrogram's level 0), levels 1-2 are deterministic
      // coarsenings of the community id space — so the 3-level fold's
      // joins all execute and the oracle stays expressible
      // (community % 10 % 3).
      val l0 = memoFrame(s, dir, "louvain0")(buildLouvainL0(s, dir))
      val l1 = l0.select(col("community").as(ID)).distinct()
        .select(col(ID), (col(ID) % 10).as("community"))
      val l2 = l1.select(col("community").as(ID)).distinct()
        .select(col(ID), (col(ID) % 3).as("community"))
      Louvain.flattenDendrogram(Seq(l0, l1, l2))
    }),

    "q_core2" -> ((s, dir) => {
      // Vertices surviving the 2-core peel of the chain graph (which
      // has no self-loops for the peel to drop).
      val r = KCore.subgraph(chainGraph(s, dir), 2)
      require(r.rounds <= 10, s"q_core2 took ${r.rounds} peel rounds > " +
        "the 10 the SQL oracle unrolls")
      r.graph.edges.select(col(SRC).as(ID)).distinct()
    }),

    "q_katz" -> ((s, dir) => {
      // Fixed 8 iterations (tol=0), alpha=0.01 beta=1, L2-normalized.
      val r = Katz.run(chainGraph(s, dir),
        Katz.Config(alpha = 0.01, beta = 1.0, tol = 0.0, maxIter = 8))
      r.centralities.select(col(ID),
        round(col("katz") * 1e6, 0).cast("long").as("katz_micro"))
    }),

    "q_eigenvector" -> ((s, dir) => {
      val r = Eigenvector.run(chainGraph(s, dir),
        Eigenvector.Config(tol = 0.0, maxIter = 8))
      r.centralities.select(col(ID),
        round(col("eigenvector") * 1e6, 0).cast("long").as("eig_micro"))
    }),

    "q_hits" -> ((s, dir) => {
      val r = Hits.run(chainGraph(s, dir),
        Hits.Config(tol = 0.0, maxIter = 5))
      r.scores.select(col(ID),
        round(col("hub") * 1e6, 0).cast("long").as("hub_micro"),
        round(col("auth") * 1e6, 0).cast("long").as("auth_micro"))
    }),

    "q_bfs" -> ((s, dir) =>
      // Publishes the traversal for q_extract_paths /
      // q_traversed_cost (owner recomputes every call).
      publishFrame(s, dir, "bfs0")(buildBfsRoot(s, dir))),

    "q_bfs_limited" -> ((s, dir) => {
      // depth_limit semantics (reference bfs/bfs_edges depth_limit,
      // traversal/bfs.py:264-283): stop after 2 levels — a BINDING cap
      // (the chain graph's giant component sits within 3 hops of the
      // root, so a depth-3 limit would be a no-op); only vertices
      // within distance 2 are labeled, same min-predecessor rule.
      val g = chainGraph(s, dir)
      val root = g.edges.agg(min(col(SRC))).head().getLong(0)
      Bfs.run(g, Seq(root), Bfs.Config(maxDepth = 2))
    }),

    "q_core_number" -> ((s, dir) =>
      CoreNumber.run(chainGraph(s, dir))),

    "q_coarsen" -> ((s, dir) => {
      // Contract the weighted symmetrized chain graph by label=id%10.
      val g = weightedChainGraph(s, dir)
      val labels = g.edges.select(col(SRC).as(ID)).distinct()
        .select(col(ID), pmod(col(ID), lit(10L)).as("label"))
      Coarsen.run(g, labels).edges
    }),

    "q_sorensen" -> ((s, dir) => {
      Similarity.fromBase(
          memoFrame(s, dir, "simbase")(buildSimBase(s, dir)),
          Similarity.Sorensen)
        .select(col(SRC), col(DST),
          round(col("sorensen") * 1e6, 0).cast("long").as("sor_micro"))
    }),

    // Weighted similarity family (reference algorithms.hpp:62-136):
    // per-vertex weight vw = id % 7 + 1 (deterministic, SQL-expressible).
    "q_wjaccard" -> ((s, dir) =>
      // Publishes the shared weighted base for q_wsorensen /
      // q_woverlap (owner recomputes every call).
      Similarity.fromBaseWeighted(
          publishFrame(s, dir, "wsimbase")(buildWSimBase(s, dir)),
          Similarity.Jaccard)
        .select(col(SRC), col(DST),
          round(col("wjaccard") * 1e6, 0).cast("long").as("wjac_micro"))),

    "q_wsorensen" -> ((s, dir) =>
      Similarity.fromBaseWeighted(
          memoFrame(s, dir, "wsimbase")(buildWSimBase(s, dir)),
          Similarity.Sorensen)
        .select(col(SRC), col(DST),
          round(col("wsorensen") * 1e6, 0).cast("long").as("wsor_micro"))),

    "q_woverlap" -> ((s, dir) =>
      Similarity.fromBaseWeighted(
          memoFrame(s, dir, "wsimbase")(buildWSimBase(s, dir)),
          Similarity.Overlap)
        .select(col(SRC), col(DST),
          round(col("woverlap") * 1e6, 0).cast("long").as("wovl_micro"))),

    "q_overlap" -> ((s, dir) => {
      Similarity.fromBase(
          memoFrame(s, dir, "simbase")(buildSimBase(s, dir)),
          Similarity.Overlap)
        .select(col(SRC), col(DST),
          round(col("overlap") * 1e6, 0).cast("long").as("ovl_micro"))
    }),

    "q_sssp" -> ((s, dir) =>
      // Weighted shortest paths over the min-quantity symmetrized
      // chain graph from its smallest vertex. Publishes the frame
      // for q_sssp_utils (owner recomputes every call).
      publishFrame(s, dir, "sssp0")(buildSssp(s, dir))),

    "q_sssp_utils" -> ((s, dir) => {
      // shortest_path_length + filter_unreachable (sssp.py:253-299):
      // fill every vertex with the Double.MaxValue sentinel the
      // reference uses for unreachable, then filterUnreachable must
      // drop exactly the unreached component(s).
      val g = weightedChainGraph(s, dir)
      val spl = memoFrame(s, dir, "sssp0")(buildSssp(s, dir))
        .select(col(ID), col("distance"))
      val verts = g.edges.select(col(SRC).as(ID)).distinct()
      val filled = verts.join(spl, Seq(ID), "left")
        .select(col(ID),
          coalesce(col("distance"), lit(Double.MaxValue)).as("distance"))
      Sssp.filterUnreachable(filled)
        .select(col(ID),
          round(col("distance") * 1e6, 0).cast("long").as("dist_micro"))
    }),

    "q_random_walks" -> ((s, dir) => {
      // Deterministic (md5-counter) uniform walks of length 4 from the
      // 10 smallest vertices.
      val g = chainGraph(s, dir)
      val starts = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(10)
      RandomWalks.run(g, starts, RandomWalks.Config(length = 4, seed = 42L))
    }),

    "q_egonet" -> ((s, dir) => {
      // Radius-1 egonet of the 3 smallest vertices (induced subgraph,
      // reference extract_ego / induced_subgraph).
      val g = chainGraph(s, dir)
      val seeds = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(3)
      val ego = seeds
        .union(g.edges.join(seeds.withColumnRenamed(ID, SRC), Seq(SRC),
          "left_semi").select(col(DST).as(ID)))
        .distinct()
      g.inducedSubgraph(ego).edges.select(SRC, DST)
    }),

    "q_egonet_per_seed" -> ((s, dir) => {
      // Per-seed radius-1 egonets (reference extract_ego's per-seed
      // offset semantics — one tagged subgraph per seed, overlapping
      // allowed), seeds = 3 smallest vertices.
      val g = chainGraph(s, dir)
      val seeds = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(3)
      graft.algos.Egonet.extract(g, seeds, radius = 1)
    }),

    "q_kcore" -> ((s, dir) => {
      // Generic k-core (k=3) of the dense graph; canonical edge list.
      val r = KCore.subgraph(allGraph(s, dir), 3)
      require(r.rounds <= 10, s"q_kcore took ${r.rounds} peel rounds > " +
        "the 10 the SQL oracle unrolls")
      r.graph.edges.filter(col(SRC) < col(DST)).select(SRC, DST)
    }),

    "q_scc" -> ((s, dir) => {
      // SCC over a DIRECTED graph with web-like structure (Broder
      // bow-tie: big SCCs + shallow one-way periphery): each chain
      // pair keeps both directions unless (u+v)%3=0, which stays
      // one-way u→v. Label-propagation SCC passes scale with the
      // condensation's pivot depth — shallow here, as on web graphs;
      // a pure DAG path would be its adversarial case.
      val p = chainPairs(s, dir).select(col("u"), col("v"))
      val both = p.filter(pmod(col("u") + col("v"), lit(3L)) =!= 0L)
      val de = p.select(col("u").as(SRC), col("v").as(DST))
        .union(both.select(col("v").as(SRC), col("u").as(DST)))
        .distinct()
        .withColumn(WEIGHT, lit(1.0))
      Scc.run(LinkGraph(de, directed = true,
        s.sessionState.conf.numShufflePartitions)).components
    }),

    "q_ktruss" -> ((s, dir) => {
      // 4-truss of the dense graph (every surviving edge in >= 2
      // triangles within the subgraph); canonical edge list.
      val r = KTruss.subgraph(allGraph(s, dir), 4)
      require(r.rounds <= 6, s"q_ktruss took ${r.rounds} peel rounds > " +
        "the 6 the SQL oracle unrolls")
      r.edges
    }),

    "q_spectral_k" -> ((s, dir) =>
      // Recursive Fiedler bisection to k=4 leaves (reference
      // spectralBalancedCutClustering for arbitrary n_clusters). The
      // root bisection is exactly the q_spectral cut — reuse the
      // shared frame (built here if run standalone); the two induced
      // halves are then cut by one power iteration over both parts.
      Spectral.balancedCut(chainGraph(s, dir), 4,
        Spectral.Config(iterations = 20, seed = 42L),
        rootCut = Some(memoFrame(s, dir, "fiedler")(buildFiedler(s, dir))))),

    "q_node2vec" -> ((s, dir) => {
      // Deterministic node2vec walks (p=2, q=0.5), length 4, from the
      // 10 smallest vertices.
      val g = chainGraph(s, dir)
      val starts = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(10)
      Node2Vec.run(g, starts,
        Node2Vec.Config(length = 4, p = 2.0, q = 0.5, seed = 42L))
    }),

    "q_biased_walks" -> ((s, dir) => {
      // Edge-weight-proportional walks over the weighted chain graph.
      val g = weightedChainGraph(s, dir)
      val starts = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(10)
      Node2Vec.biased(g, starts, length = 4, seed = 42L)
    }),

    "q_neighbor_sample" -> ((s, dir) => {
      // Uniform neighbor sampling, fanouts [3, 2], from the 10
      // smallest vertices.
      val g = chainGraph(s, dir)
      val seeds = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(10)
      // Publishes the edge-form sample for q_adj_sample (owner
      // recomputes every call).
      publishFrame(s, dir, "nbrsample")(
        NeighborSampling.run(g, seeds, Seq(3, 2), seed = 42L))
    }),

    "q_adj_sample" -> ((s, dir) => {
      // Adjacency-list output form of the same sample (reference
      // sample_neighbors_adjacency_list, algorithms.hpp:1620-1650).
      // The fanout-bounded per-(hop, src) arrays are exploded with
      // their positions so the gate hash-compares scalars only.
      NeighborSampling.adjacencyOf(
          memoFrame(s, dir, "nbrsample")(buildNbrSample(s, dir)))
        .select(col("hop"), col(SRC),
          posexplode(col("nbrs")).as(Seq("idx", "nbr")))
        .select(col("hop"), col(SRC), col("idx").cast("long").as("idx"),
          col("nbr"))
    }),

    "q_generators" -> ((s, dir) => {
      // All simple generators in one tagged edge list (path 30,
      // complete 8, star 10, 5x4 grid, ER(40, 0.15, seed 7)).
      def tag(t: String, df: DataFrame): DataFrame =
        df.select(lit(t).as("tag"), col(SRC), col(DST))
      tag("path", Generators.path(s, 30))
        .union(tag("complete", Generators.complete(s, 8)))
        .union(tag("star", Generators.star(s, 10)))
        .union(tag("grid", Generators.grid2d(s, 5, 4)))
        .union(tag("er", Generators.erdosRenyi(s, 40, 0.15, 7)))
    }),

    "q_mtx_roundtrip" -> ((s, dir) => {
      // MatrixMarket write -> read round trip over the weighted
      // symmetrized chain graph; certifies the parser end-to-end.
      val path = s"/tmp/graft_mtx_${Integer.toHexString(dir.hashCode)}.mtx"
      Mtx.write(weightedChainGraph(s, dir).edges
        .select(SRC, DST, WEIGHT), path)
      Mtx.read(s, path)
    }),

    "q_leiden" -> ((s, dir) => {
      // One Leiden level: Louvain label loop (3 fixed inner
      // iterations) + connectivity refinement; multi-level control is
      // certified by LeidenSpec.
      val r = Leiden.run(chainGraph(s, dir),
        Louvain.Config(maxLevels = 1, fixedInnerIter = 3))
      r.labels
    }),

    "q_spectral" -> ((s, dir) =>
      // Fiedler-vector balanced bipartition, 20 deflated power
      // iterations (fixed, oracle-parity). Publishes the labels for
      // q_spectral_metrics to score.
      publishFrame(s, dir, "fiedler")(buildFiedler(s, dir))),

    "q_spectral_mod" -> ((s, dir) =>
      // Modularity-matrix bipartition (reference
      // spectralModularityMaximization, algorithms.hpp:849-875) —
      // leading eigenvector of B = W - k·kᵀ/2m by the same fixed-20-
      // iteration deflated power scheme.
      Spectral.modularityCut(chainGraph(s, dir),
        Spectral.Config(iterations = 20, seed = 42L))),

    "q_ecg" -> ((s, dir) =>
      // ECG ensemble votes per canonical edge (3 one-level members,
      // md5 relabeling, fixed 3 inner iterations — SQL-reproducible;
      // the final re-weighted Louvain is certified by EcgSpec).
      Ecg.runVotes(chainGraph(s, dir),
          Ecg.Config(ensembleSize = 3, innerIter = 3, seed = 42L))
        .select(SRC, DST, "votes")),

    "q_from_adjlist" -> ((s, dir) => {
      // Adjacency-list builder round trip (reference from_adjlist).
      val adj = chainGraph(s, dir).edges
        .groupBy(col(SRC).as(ID)).agg(collect_list(col(DST)).as("nbrs"))
      LinkGraph.fromAdjList(adj, ID, "nbrs").edges.select(SRC, DST)
    }),

    "q_adj_roundtrip" -> ((s, dir) => {
      // Dense-adjacency converter round trip (reference
      // from/to_pandas_adjacency, convert_matrix.py:337,368): the
      // weighted chain graph projected into a 128-vertex id space
      // (pmod — keeps the matrix V^2-bounded at every SF), exported as
      // a dense row-per-vertex matrix, re-imported, and compared as an
      // edge list. Projection collisions dedupe to min weight — the
      // same rule symmetrize pins.
      val g = weightedChainGraph(s, dir)
      val proj = g.edges.select(
        pmod(col(SRC), lit(128L)).as(SRC),
        pmod(col(DST), lit(128L)).as(DST), col(WEIGHT))
      val pg = LinkGraph(proj, directed = true,
        s.sessionState.conf.numShufflePartitions)
      val dense = LinkGraph.toDenseAdjacency(pg, maxVertices = 128)
      LinkGraph.fromDenseAdjacency(dense, ID, "row")
        .edges.select(SRC, DST, WEIGHT)
    }),

    "q_multi_rmat" -> ((s, dir) => {
      // Per-graph shape statistics of the 3-graph RMAT batch: edge
      // count, distinct-edge count, vertex-space bound. The oracle
      // recomputes them from the Verify-dumped frame.
      multiRmatBatch(s).groupBy("graph_id").agg(
        count(lit(1)).as("n_edges"),
        countDistinct(col("src"), col("dst")).as("n_distinct_edges"),
        max(greatest(col("src"), col("dst"))).as("max_vertex"))
    }),

    "q_is_bipartite" -> ((s, dir) => {
      // Real 2-colorability (reference is_bipartite is a stub,
      // graph_classes.py:529-538) via the bipartite double cover — one
      // WCC pass per graph. Two instances: the chain graph (odd cycles
      // expected) and the 8x5 grid (bipartite by construction, but
      // COMPUTED here and by the oracle, not asserted).
      import s.implicits._
      val chain = Bipartite.check(chainGraph(s, dir))
      val grid = Bipartite.check(LinkGraph(
        Generators.grid2d(s, 8, 5).withColumn(WEIGHT, lit(1.0)),
        directed = true, s.sessionState.conf.numShufflePartitions))
      Seq(("chain", chain.isBipartite, chain.merged),
        ("grid", grid.isBipartite, grid.merged))
        .toDF("g", "bipartite", "merged")
    }),

    "q_npartite_sets" -> ((s, dir) => {
      // User-asserted partition bookkeeping (reference NPartiteGraph /
      // BiPartiteGraph, graph_classes.py:704-886). Two instances over
      // the chain graph's vertex set: a bipartite graph with only the
      // even side DECLARED — the odd side comes out of sets()'s
      // complement anti-join — and a 3-partite graph with all parts
      // declared by id mod 3. Output is (g, id, part) rows.
      val g = chainGraph(s, dir)
      val bi = NPartiteGraph.biPartite(g)
      bi.addNodesFrom(g.vertices.filter(pmod(col(ID), lit(2L)) === 0L),
        bipartite = Some("top"))
      val (top, bottom) = bi.bipartiteSets
      val np = NPartiteGraph(g)
      (0 to 2).foreach { r =>
        np.addNodesFrom(g.vertices.filter(pmod(col(ID), lit(3L)) === r),
          multipartite = Some(s"p$r"))
      }
      val biRows = top.select(lit("bi").as("g"), col(ID),
          lit("top").as("part"))
        .union(bottom.select(lit("bi"), col(ID), lit("bottom")))
      val npRows = np.partiteSets.toSeq.map { case (name, nodes) =>
        nodes.select(lit("multi").as("g"), col(ID), lit(name).as("part"))
      }.reduce(_ union _)
      biRows.union(npRows)
    }),

    "q_path_offsets" -> ((s, dir) => {
      // Coalesced-path offset retrieval (reference rw_path,
      // random_walks.py:107): per-path vertex/weight offsets over a
      // deterministic variable-size frame — each chain vertex's
      // out-degree stands in for its walk length, so the result is
      // reproducible by a plain SQL window without unrolling walks.
      val sizes = chainGraph(s, dir).degreeTable
        .select(col(ID).as("path_id"), col("out_degree").as("size"))
      RandomWalks.pathOffsets(sizes)
    }),

    "q_core_number_out" -> ((s, dir) => {
      // OUT-degree core numbers of the DIRECTED consecutive-pair graph
      // (reference degree_type OUT, algorithms.hpp:1581-1610 — the
      // variant triangle counting's 2-core uses).
      CoreNumber.run(dchainGraph(s, dir), degreeType = CoreNumber.Out)
    }),

    "q_core_number_in" -> ((s, dir) => {
      // IN-degree core numbers of the directed pair graph (reference
      // degree_type IN, algorithms.hpp:1581-1610) — closes the
      // degree_type matrix: INOUT (q_core_number), OUT
      // (q_core_number_out), IN here.
      CoreNumber.run(dchainGraph(s, dir), degreeType = CoreNumber.In)
    }),

    "q_spectral_metrics" -> ((s, dir) => {
      // analyzeClustering_{modularity,edge_cut,ratio_cut} (reference
      // algorithms.hpp:875-919) over the q_spectral Fiedler
      // bipartition — one micro-rounded row. All inputs are
      // integer-valued (unit weights), so every sum is exact in both
      // engines; only the final divisions float.
      val g = chainGraph(s, dir)
      val labels = memoFrame(s, dir, "fiedler")(buildFiedler(s, dir))
      val m = Spectral.analyzeClustering(g, labels)
      // half-away-from-zero micro rounding, matching DuckDB round()
      def micro(x: Double): Long =
        if (x >= 0) math.round(x * 1e6) else -math.round(-x * 1e6)
      import s.implicits._
      Seq((micro(m.modularity), micro(m.edgeCut), micro(m.ratioCut)))
        .toDF("modularity_micro", "edge_cut_micro", "ratio_cut_micro")
    }),

    "q_degree_centrality" -> ((s, dir) => {
      // (in+out)/(n-1) over the directed pair graph — the reference's
      // degree_centrality (python/cugraph/cugraph/centrality/
      // degree_centrality.py:52-56, validated vs networkx semantics).
      val g = dchainGraph(s, dir)
      val n = g.numVertices
      g.degreeTable.select(col(ID),
        round((col("out_degree") + col("in_degree"))
          / (n - 1.0) * 1e6, 0).cast("long").as("dc_micro"))
    }),

    "q_mst_max" -> ((s, dir) => {
      // Maximum spanning forest (reference maximum_spanning_tree:
      // negate-weights wrapper around the minimum call).
      val r = Mst.maximumForest(weightedChainGraph(s, dir))
      // mstSql unrolls exactly 12 Borůvka rounds; if the GATE corpus
      // (not just a fixture) ever needs more, fail the engine side
      // loudly instead of silently drifting past a truncated oracle.
      require(r.rounds <= 12,
        s"q_mst_max took ${r.rounds} Borůvka rounds > the 12 the " +
          "SQL oracle unrolls; raise mstSql(rounds)")
      r.forest
    }),

    "q_mst" -> ((s, dir) => {
      // Minimum spanning forest of the weighted symmetrized chain
      // graph (reference minimum_spanning_tree, algorithms.hpp:743);
      // the (weight, src, dst) pick key makes the forest unique, so
      // the oracle's unrolled Borůvka produces the identical edge set.
      val r = Mst.forest(weightedChainGraph(s, dir))
      require(r.rounds <= 12,
        s"q_mst took ${r.rounds} Borůvka rounds > the 12 the " +
          "SQL oracle unrolls; raise mstSql(rounds)")
      r.forest
    }),

    "q_extract_paths" -> ((s, dir) => {
      // Root→destination paths from the BFS predecessor tree
      // (reference extract_bfs_paths, algorithms.hpp:1063), for the 3
      // LARGEST reached vertex ids.
      val trav = memoFrame(s, dir, "bfs0")(buildBfsRoot(s, dir))
      val dests = trav.select(col(ID)).orderBy(col(ID).desc).limit(3)
      ExtractPaths.fromPredecessors(trav, dests)
    }),

    "q_traversed_cost" -> ((s, dir) => {
      // get_traversed_cost (reference path_retrieval.py:22): the BFS
      // hop tree costed with the min-quantity edge weights — the value
      // column deliberately differs from the traversal's own metric.
      val trav = memoFrame(s, dir, "bfs0")(buildBfsRoot(s, dir))
      TraversedCost.run(trav, weightedChainGraph(s, dir).edges)
        .select(col(ID),
          round(col("cost") * 1e6, 0).cast("long").as("cost_micro"))
    }),

    "q_ms_bfs" -> ((s, dir) => {
      // Per-source BFS from the 4 smallest chain vertices in ONE
      // superstep loop (reference multi_source_bfs, ms_bfs.py:187).
      val g = chainGraph(s, dir)
      val srcs = g.edges.select(col(SRC).as(ID)).distinct()
        .orderBy(col(ID)).limit(4).collect().map(_.getLong(0)).toSeq
      Bfs.multiSource(g, srcs, maxDepth = 60)
    }),

    "q_force_atlas2" -> ((s, dir) => {
      // ForceAtlas2 layout (reference algorithms.hpp:197) over the
      // per-order part cliques of the 8 smallest orders — overlapping
      // cliques give the layout real structure at every SF. 10
      // iterations, reference-default forces; positions are micro-
      // rounded every iteration so the unrolled SQL oracle reproduces
      // the evolution exactly (see ForceAtlas2 Scaladoc).
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val oks = li.select("l_orderkey").distinct().orderBy("l_orderkey").limit(8)
      val lif = li.join(broadcast(oks), Seq("l_orderkey"))
      val a = lif.as("a"); val b = lif.as("b")
      val edges = a.join(b,
          col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").cast("long").as(SRC),
          col("b.l_partkey").cast("long").as(DST))
        .distinct().withColumn(WEIGHT, lit(1.0))
      val g = LinkGraph(edges, directed = false,
        s.sessionState.conf.numShufflePartitions)
      val out = ForceAtlas2.run(g, ForceAtlas2.Config(maxIter = 10))
      out.select(col(ID),
        round(col("x") * 1e6, 0).cast("long").as("x_micro"),
        round(col("y") * 1e6, 0).cast("long").as("y_micro"))
    }),

    "q_hungarian" -> ((s, dir) => {
      // Min-cost bipartite assignment (reference hungarian,
      // algorithms.hpp:510-543) on a deterministic 8x8 instance: the 8
      // smallest part keys are workers, the 8 smallest supplier keys
      // jobs, cost a quadratic mixing hash with a UNIQUE optimum so
      // the oracle's DP recovers the identical assignment. The 8x8
      // crossJoin is bounded fixture construction, not an engine scan.
      val workers = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").cast("long").as("w"))
        .orderBy("w").limit(8)
      val jobs = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").cast("long").as("j"))
        .orderBy("j").limit(8)
      val costs = workers.crossJoin(jobs)
        .select(col("w"), col("j"),
          (pmod(col("w") * col("w") * 577 + col("j") * col("j") * 331 +
            col("w") * col("j") * 7919, lit(9973L)) + 1)
            .cast("double").as("cost"))
      val r = Hungarian.assign(costs)
      r.assignments.withColumn("edge_cost",
        (pmod(col("vertex") * col("vertex") * 577 +
          col("assignment") * col("assignment") * 331 +
          col("vertex") * col("assignment") * 7919, lit(9973L)) + 1)
          .cast("long"))
    }),

    "q_dense_hungarian" -> ((s, dir) => {
      // dense_hungarian (lap.py:98-150): the SAME 8x8 instance as
      // q_hungarian but fed as one flat cost row per worker; the
      // assignment comes back as the job's COLUMN INDEX 0..7 (the
      // dense contract), so the optimum must agree with q_hungarian's
      // modulo the index <-> supplier-key mapping. The 8-value job
      // list is driver-collected fixture construction (like the
      // 4-row source picks elsewhere), not an engine scan.
      val jseq = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").cast("long").as("j"))
        .orderBy("j").limit(8).collect().map(_.getLong(0)).toSeq
      val workers = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").cast("long").as("w"))
        .orderBy("w").limit(8)
      val rowArr = array(jseq.map { j =>
        (pmod(col("w") * col("w") * 577 + lit(j * j) * 331 +
          col("w") * lit(j) * 7919, lit(9973L)) + 1).cast("double")
      }: _*)
      val dense = workers.select(col("w"), rowArr.as("costs"))
      val r = Hungarian.assignDense(dense, "w", "costs")
      val jArr = typedLit(jseq)
      val jOf = element_at(jArr, (col("assignment") + 1).cast("int"))
      r.assignments.withColumn("edge_cost",
        (pmod(col("vertex") * col("vertex") * 577 + jOf * jOf * 331 +
          col("vertex") * jOf * 7919, lit(9973L)) + 1).cast("long"))
    }),

    "q_renumber_multi" -> ((s, dir) => {
      // Multi-column renumber (number_map.py:327-500): composite
      // (key % 50, key % 7) vertex identifiers over the raw chain
      // pairs; the map must assign dense degree-descending ids with
      // the key columns as tie-break.
      val p = chainPairs(s, dir)
      val ek = p.select(
        (col("u") % 50).as("k1"), (col("u") % 7).as("k2"),
        (col("v") % 50).as("d1"), (col("v") % 7).as("d2"))
      graft.core.Renumber.buildMapMulti(ek, Seq("k1", "k2"),
          Seq("d1", "d2"), s.sessionState.conf.numShufflePartitions)
        .select(col("k1"), col("k2"), col("id"), col("degree"))
    }),

    "q_graph_stats" -> ((s, dir) => {
      // Graph hygiene counters over the RAW consecutive-pair
      // multigraph (self-pairs kept, parallel edges kept): the
      // reference's count_self_loops / count_multi_edges
      // (graph_view.hpp:685-686) and count_if_e / count_if_v
      // (count_if_e.cuh:91, count_if_v.cuh:100).
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val a = li.as("a"); val b = li.as("b")
      val raw = a.join(b,
          col("a.l_orderkey") === col("b.l_orderkey") &&
          col("b.l_linenumber") === col("a.l_linenumber") + 1)
        .select(
          col("a.l_partkey").cast("long").as(SRC),
          col("b.l_partkey").cast("long").as(DST),
          col("a.l_quantity").cast("double").as(WEIGHT))
      // Cache the raw multigraph for the counter pass: each counter is
      // its own driver action, and uncached each re-ran the lineitem
      // self-join (6 joins for 6 scalars).
      val g = LinkGraph(raw, directed = true,
        s.sessionState.conf.numShufflePartitions).cached()
      import s.implicits._
      val stats = Seq((
        g.numEdges,
        g.numVertices,
        g.countSelfLoops,
        g.countMultiEdges,
        g.countIfE(col(WEIGHT) > 25.0),
        g.countIfV(pmod(col(ID), lit(2L)) === 0L)
      )).toDF("n_edges", "n_vertices", "self_loops", "multi_edges",
        "heavy_edges", "even_vertices")
      g.unpersist()
      stats
    })
  )

  // DuckDB-dialect oracle SQL producing identical rows over the same
  // parquet tables. Shared CTE prefixes:
  private val CHAIN =
    """WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_quantity AS q
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |   AND b.l_linenumber = a.l_linenumber + 1
      |   AND a.l_partkey <> b.l_partkey
      |), edges AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT u AS src, v AS dst FROM pairs
      |    UNION ALL SELECT v AS src, u AS dst FROM pairs
      |  ) t
      |)""".stripMargin

  private val DENSE =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_degrees" -> s"""$CHAIN
      |SELECT src AS id,
      |       count(*) AS out_degree,
      |       count(*) AS in_degree
      |FROM edges GROUP BY src""".stripMargin,

    "q_pagerank" -> pagerankSql(limit = None),
    "q_pagerank_weighted" -> weightedPagerankSql,
    "q_pagerank_top10" -> pagerankSql(limit = Some(10)),
    "q_pagerank_personalized" -> personalizedPagerankSql,

    "q_wcc" -> s"""$CHAIN, verts AS (SELECT DISTINCT src AS v FROM edges),
      |cc(v, comp) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.v = e.src
      |  WHERE cc.comp < e.dst
      |)
      |SELECT v AS id, min(comp) AS component FROM cc GROUP BY v""".stripMargin
      .replace("WITH pairs", "WITH RECURSIVE pairs"),

    "q_lpa" -> lpaSql(5),

    // Restored checkpoint state == the WCC fixpoint.
    "q_checkpoint_roundtrip" -> s"""$CHAIN, verts AS (SELECT DISTINCT src AS v FROM edges),
      |cc(v, comp) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.v = e.src
      |  WHERE cc.comp < e.dst
      |)
      |SELECT v AS id, min(comp) AS component FROM cc GROUP BY v""".stripMargin
      .replace("WITH pairs", "WITH RECURSIVE pairs"),

    "q_component_count" -> s"""$CHAIN, verts AS (SELECT DISTINCT src AS v FROM edges),
      |cc(v, comp) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.v = e.src
      |  WHERE cc.comp < e.dst
      |),
      |comps AS (SELECT v, min(comp) AS component FROM cc GROUP BY v)
      |SELECT count(DISTINCT component) AS n_components FROM comps"""
      .stripMargin
      .replace("WITH pairs", "WITH RECURSIVE pairs"),

    "q_triangles" -> s"""$DENSE,
      |deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY src),
      |o AS (
      |  SELECT e.src AS u, e.dst AS v FROM edges e
      |  JOIN deg a ON a.v = e.src JOIN deg b ON b.v = e.dst
      |  WHERE a.d < b.d OR (a.d = b.d AND e.src < e.dst)
      |),
      |tri AS (
      |  SELECT o1.u AS a, o1.v AS b, o2.v AS c
      |  FROM o o1 JOIN o o2 ON o1.v = o2.u
      |  JOIN o o3 ON o3.u = o1.u AND o3.v = o2.v
      |),
      |credits AS (
      |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri
      |),
      |cnt AS (SELECT v, count(*) AS c FROM credits GROUP BY v)
      |SELECT d.v AS id, CAST(coalesce(c.c, 0) AS BIGINT) AS triangles
      |FROM deg d LEFT JOIN cnt c ON d.v = c.v""".stripMargin,

    "q_two_hop" -> s"""$CHAIN
      |SELECT DISTINCT e1.src AS src, e2.dst AS dst
      |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
      |WHERE e1.src <> e2.dst""".stripMargin,

    "q_jaccard" -> s"""$CHAIN,
      |deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY src),
      |common AS (
      |  SELECT e.src, e.dst, count(*) AS inter
      |  FROM edges e
      |  JOIN edges n1 ON n1.src = e.src
      |  JOIN edges n2 ON n2.src = e.dst AND n2.dst = n1.dst
      |  WHERE e.src < e.dst
      |  GROUP BY e.src, e.dst
      |)
      |SELECT e.src, e.dst,
      |  CAST(round(coalesce(c.inter, 0) * 1e6
      |       / (a.d + b.d - coalesce(c.inter, 0)), 0) AS BIGINT) AS jac_micro
      |FROM edges e
      |JOIN deg a ON a.v = e.src JOIN deg b ON b.v = e.dst
      |LEFT JOIN common c ON c.src = e.src AND c.dst = e.dst
      |WHERE e.src < e.dst""".stripMargin,

    "q_symmetrize" -> s"""$CHAIN, directed AS (
      |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
      |)
      |SELECT src, dst, min(weight) AS weight FROM (
      |  SELECT src, dst, weight FROM directed
      |  UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
      |) t GROUP BY src, dst""".stripMargin,

    "q_katz" -> s"""${recChain},
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |eplus AS (
      |  SELECT src, dst, 1.0 AS w FROM edges
      |  UNION ALL SELECT v, v, 0.0 FROM verts
      |),
      |kz(iter, v, k) AS (
      |  -- CAST matters: a bare 0.0 makes the recursive column DECIMAL
      |  -- and silently truncates every later value
      |  SELECT 0, v, CAST(0.0 AS DOUBLE) FROM verts
      |  UNION ALL
      |  SELECT iter + 1, dst, 0.01 * contrib + 1.0
      |  FROM (
      |    SELECT max(t.iter) AS iter, e.dst AS dst,
      |           sum(t.k * e.w) AS contrib
      |    FROM kz t JOIN eplus e ON t.v = e.src
      |    WHERE t.iter < 8 GROUP BY e.dst
      |  ) s
      |)
      |SELECT v AS id,
      |  CAST(round(k / sqrt(sum(k * k) OVER ()) * 1e6, 0) AS BIGINT)
      |    AS katz_micro
      |FROM kz WHERE iter = 8""".stripMargin,

    "q_eigenvector" -> s"""${recChain},
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |nv AS (SELECT count(*) AS n FROM verts),
      |eplus AS (
      |  SELECT src, dst, 1.0 AS w FROM edges
      |  UNION ALL SELECT v, v, 0.0 FROM verts
      |),
      |ev(iter, v, c) AS (
      |  SELECT 0, v, 1.0 / (SELECT n FROM nv) FROM verts
      |  UNION ALL
      |  SELECT iter + 1, dst, raw / sqrt(sum(raw * raw) OVER ())
      |  FROM (
      |    SELECT max(t.iter) AS iter, e.dst AS dst, sum(t.c * e.w) AS raw
      |    FROM ev t JOIN eplus e ON t.v = e.src
      |    WHERE t.iter < 8 GROUP BY e.dst
      |  ) s
      |)
      |SELECT v AS id, CAST(round(c * 1e6, 0) AS BIGINT) AS eig_micro
      |FROM ev WHERE iter = 8""".stripMargin,

    "q_hits" -> s"""${recChain},
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |nv AS (SELECT count(*) AS n FROM verts),
      |eplus AS (
      |  SELECT src, dst, 1.0 AS w FROM edges
      |  UNION ALL SELECT v, v, 0.0 FROM verts
      |),
      |ht(iter, v, hub) AS (
      |  SELECT 0, v, 1.0 / (SELECT n FROM nv) FROM verts
      |  UNION ALL
      |  SELECT iter + 1, v, hub_raw / max(hub_raw) OVER ()
      |  FROM (
      |    SELECT au.iter AS iter, e2.src AS v,
      |           sum(CASE WHEN e2.w > 0 THEN au.auth ELSE 0 END) AS hub_raw
      |    FROM (
      |      SELECT max(t.iter) AS iter, e.dst AS v,
      |             sum(CASE WHEN e.w > 0 THEN t.hub ELSE 0 END) AS auth
      |      FROM ht t JOIN eplus e ON t.v = e.src
      |      WHERE t.iter < 5 GROUP BY e.dst
      |    ) au JOIN eplus e2 ON au.v = e2.dst
      |    GROUP BY au.iter, e2.src
      |  ) s
      |),
      |final_hub AS (
      |  SELECT v, hub / sum(hub) OVER () AS hub FROM ht WHERE iter = 5
      |),
      |auth_raw AS (
      |  SELECT e.dst AS v,
      |         sum(CASE WHEN e.w > 0 THEN t.hub ELSE 0 END) AS a
      |  FROM ht t JOIN eplus e ON t.v = e.src
      |  WHERE t.iter = 4 GROUP BY e.dst
      |),
      |auth_norm AS (
      |  SELECT v, a / max(a) OVER () AS an FROM auth_raw
      |),
      |final_auth AS (
      |  SELECT v, an / sum(an) OVER () AS auth FROM auth_norm
      |)
      |SELECT h.v AS id,
      |  CAST(round(h.hub * 1e6, 0) AS BIGINT) AS hub_micro,
      |  CAST(round(a.auth * 1e6, 0) AS BIGINT) AS auth_micro
      |FROM final_hub h JOIN final_auth a ON h.v = a.v""".stripMargin,

    "q_bfs" -> s"""${recChain},
      |root AS (SELECT min(src) AS r FROM edges),
      |d(v, dist) AS (
      |  SELECT r, 0 FROM root
      |  UNION
      |  SELECT e.dst, d.dist + 1 FROM d JOIN edges e ON d.v = e.src
      |  WHERE d.dist < 60
      |),
      |dmin AS (SELECT v, CAST(min(dist) AS BIGINT) AS distance FROM d GROUP BY v)
      |SELECT dm.v AS id, dm.distance,
      |  CASE WHEN dm.v = (SELECT r FROM root) THEN dm.v
      |       ELSE (SELECT min(e.src) FROM edges e
      |             JOIN dmin d2 ON d2.v = e.src
      |             WHERE e.dst = dm.v AND d2.distance = dm.distance - 1)
      |  END AS predecessor
      |FROM dmin dm""".stripMargin,

    // Same BFS with the recursion capped at depth 2: level-synchronous
    // min-distances within the cap equal the uncapped ones, so the
    // truncated CTE is exact.
    "q_bfs_limited" -> s"""${recChain},
      |root AS (SELECT min(src) AS r FROM edges),
      |d(v, dist) AS (
      |  SELECT r, 0 FROM root
      |  UNION
      |  SELECT e.dst, d.dist + 1 FROM d JOIN edges e ON d.v = e.src
      |  WHERE d.dist < 2
      |),
      |dmin AS (SELECT v, CAST(min(dist) AS BIGINT) AS distance FROM d GROUP BY v)
      |SELECT dm.v AS id, dm.distance,
      |  CASE WHEN dm.v = (SELECT r FROM root) THEN dm.v
      |       ELSE (SELECT min(e.src) FROM edges e
      |             JOIN dmin d2 ON d2.v = e.src
      |             WHERE e.dst = dm.v AND d2.distance = dm.distance - 1)
      |  END AS predecessor
      |FROM dmin dm""".stripMargin,

    "q_coarsen" -> s"""$CHAIN, directed AS (
      |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
      |), sym AS (
      |  SELECT src, dst, min(weight) AS weight FROM (
      |    SELECT src, dst, weight FROM directed
      |    UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
      |  ) t GROUP BY src, dst
      |)
      |SELECT src % 10 AS src, dst % 10 AS dst, sum(weight) AS weight
      |FROM sym GROUP BY src % 10, dst % 10""".stripMargin,

    "q_sssp" -> ssspSql(
      "SELECT v AS id, dist AS distance, pred AS predecessor"),

    // Drives filter_unreachable + shortest_path_length (reference
    // sssp.py:253-281,299) through the gate: identical distance
    // recursion, micro-rounded (id, dist) projection — the engine side
    // goes through the sentinel-fill → filterUnreachable path.
    "q_sssp_utils" -> ssspSql(
      "SELECT v AS id, CAST(round(dist * 1e6, 0) AS BIGINT) AS dist_micro"),

    "q_random_walks" -> s"""${recChain},
      |adj AS (
      |  SELECT src AS v, list(dst ORDER BY dst) AS nbrs,
      |         count(*) AS deg
      |  FROM edges GROUP BY src
      |),
      |starts AS (SELECT DISTINCT src AS v FROM edges ORDER BY v LIMIT 10),
      |wk(start, step, vertex) AS (
      |  SELECT v, CAST(0 AS BIGINT), v FROM starts
      |  UNION ALL
      |  SELECT w.start, w.step + 1,
      |    list_extract(a.nbrs, CAST(
      |      ('0x' || substr(md5(42 || ':' || w.start || ':' || (w.step + 1)), 1, 8))::BIGINT
      |      % a.deg AS INT) + 1)
      |  FROM wk w JOIN adj a ON w.vertex = a.v
      |  WHERE w.step < 4
      |)
      |SELECT start, step, vertex FROM wk""".stripMargin,

    "q_sorensen" -> similaritySql("2.0 * i / (da + db)", "sor_micro"),
    "q_overlap" -> similaritySql("i / least(da, db)", "ovl_micro"),

    "q_wjaccard" -> weightedSimilaritySql("i / (da + db - i)", "wjac_micro"),
    "q_wsorensen" -> weightedSimilaritySql("2.0 * i / (da + db)", "wsor_micro"),
    "q_woverlap" -> weightedSimilaritySql("i / least(da, db)", "wovl_micro"),

    "q_louvain" -> louvainSql(3),

    // Same level-0 labels as q_louvain, folded through the two
    // deterministic coarsening levels the query synthesizes.
    "q_flatten_dendrogram" -> louvainSql(3).replace(
      "SELECT v AS id, lbl AS community FROM l3",
      "SELECT v AS id, (lbl % 10) % 3 AS community FROM l3"),
    "q_betweenness" -> betweennessSql(levels = 4, k = 4),
    "q_edge_betweenness" -> edgeBetweennessSql(levels = 4, k = 4),

    // H-index iteration mirroring the engine exactly (init c = degree,
    // c' = min(c, h-index of neighbor values)); 30 fixed rounds —
    // monotone convergence makes extra rounds no-ops, and the engine
    // fixpoint at sf0.01 is 14 supersteps.
    "q_core_number" -> s"""${recChain},
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY src),
      |eplus AS (
      |  SELECT src, dst, 1 AS w FROM edges
      |  UNION ALL SELECT v, v, 0 FROM verts
      |),
      |cn(iter, v, c) AS (
      |  SELECT 0, verts.v, coalesce(d.d, 0)
      |  FROM verts LEFT JOIN deg d ON verts.v = d.v
      |  UNION ALL
      |  SELECT iter + 1, v, least(cur, coalesce(h, cur))
      |  FROM (
      |    SELECT max(x.iter) AS iter, x.dst AS v,
      |      max(CASE WHEN x.w = 0 THEN x.c END) AS cur,
      |      max(CASE WHEN x.w > 0 THEN least(x.c, x.r) END) AS h
      |    FROM (
      |      SELECT t.iter AS iter, e.dst AS dst, t.c AS c, e.w AS w,
      |        CAST(row_number() OVER (
      |          PARTITION BY e.dst, (e.w > 0) ORDER BY t.c DESC)
      |          AS BIGINT) AS r
      |      FROM cn t JOIN eplus e ON t.v = e.src
      |      WHERE t.iter < 30
      |    ) x
      |    GROUP BY x.dst
      |  ) y
      |)
      |SELECT v AS id, CAST(c AS BIGINT) AS core_number
      |FROM cn WHERE iter = 30""".stripMargin,

    // 2-core peel: drop edges with an endpoint of degree < 2 until
    // stable (10 fixed rounds; the peel is a no-op once stable, and the
    // engine fixpoint at sf0.01 is 1 round). Degrees via window (the
    // recursive term may reference the CTE once only).
    "q_core2" -> s"""${recChain},
      |core(iter, src, dst) AS (
      |  SELECT 0, src, dst FROM edges
      |  UNION ALL
      |  SELECT iter + 1, src, dst FROM (
      |    SELECT e.iter AS iter, e.src AS src, e.dst AS dst,
      |      count(*) OVER (PARTITION BY e.src) AS ds,
      |      count(*) OVER (PARTITION BY e.dst) AS dd
      |    FROM core e WHERE e.iter < 10
      |  ) x WHERE ds >= 2 AND dd >= 2
      |)
      |SELECT DISTINCT src AS id FROM core WHERE iter = 10""".stripMargin,

    "q_egonet" -> s"""$CHAIN,
      |seeds AS (SELECT DISTINCT src AS v FROM edges ORDER BY v LIMIT 3),
      |ego AS (
      |  SELECT v FROM seeds
      |  UNION SELECT e.dst FROM edges e JOIN seeds s ON e.src = s.v
      |)
      |SELECT e.src, e.dst FROM edges e
      |JOIN ego a ON e.src = a.v JOIN ego b ON e.dst = b.v""".stripMargin,

    "q_egonet_per_seed" -> s"""$CHAIN,
      |seeds AS (SELECT DISTINCT src AS v FROM edges ORDER BY v LIMIT 3),
      |reach AS (
      |  SELECT s.v AS seed, s.v FROM seeds s
      |  UNION
      |  SELECT s.v AS seed, e.dst AS v
      |  FROM seeds s JOIN edges e ON e.src = s.v
      |)
      |SELECT a.seed, e.src, e.dst FROM edges e
      |JOIN reach a ON a.v = e.src
      |JOIN reach b ON b.seed = a.seed AND b.v = e.dst""".stripMargin,

    // Generic k-core peel (k=3) on the dense graph: same recursive
    // window-degree peel as q_core2; the peel is monotone, so rounds
    // beyond the fixpoint are no-ops (engine fixpoint is measured well
    // under the 10-round bound by KCoreSpec).
    "q_kcore" -> s"""${DENSE.replace("WITH edges", "WITH RECURSIVE edges")},
      |core(iter, src, dst) AS (
      |  SELECT 0, src, dst FROM edges
      |  UNION ALL
      |  SELECT iter + 1, src, dst FROM (
      |    SELECT e.iter AS iter, e.src AS src, e.dst AS dst,
      |      count(*) OVER (PARTITION BY e.src) AS ds,
      |      count(*) OVER (PARTITION BY e.dst) AS dd
      |    FROM core e WHERE e.iter < 10
      |  ) x WHERE ds >= 3 AND dd >= 3
      |)
      |SELECT DISTINCT src, dst FROM core
      |WHERE iter = 10 AND src < dst""".stripMargin,

    // SCC = min mutually-reachable vertex, via the directed transitive
    // closure (set-semantics recursion terminates at the closure).
    "q_scc" -> s"""${recChain},
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT u AS src, v AS dst FROM pairs
      |    UNION ALL
      |    SELECT v AS src, u AS dst FROM pairs WHERE (u + v) % 3 <> 0
      |  ) t
      |),
      |-- DISTINCT-over-UNION-ALL, not bare UNION: inside a WITH
      |-- RECURSIVE chain DuckDB 1.0 treats a non-self-referencing
      |-- UNION CTE as UNION ALL (observed; bare UNION here doubled
      |-- every vertex).
      |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
      |  SELECT src AS v FROM dedges UNION ALL SELECT dst FROM dedges) t),
      |reach(a, b) AS (
      |  SELECT src, dst FROM dedges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN dedges e ON r.b = e.src
      |),
      |mutual AS MATERIALIZED (
      |  SELECT r1.a AS u, r1.b AS v FROM reach r1
      |  JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
      |)
      |SELECT vv.v AS id,
      |  CAST(least(vv.v, coalesce(m.mn, vv.v)) AS BIGINT) AS scc
      |FROM verts vv
      |LEFT JOIN (SELECT u, min(v) AS mn FROM mutual GROUP BY u) m
      |  ON m.u = vv.v""".stripMargin,

    "q_ktruss" -> ktrussSql(rounds = 6, k = 4),

    "q_ecg" -> ecgSql(k = 3, iters = 3, seed = 42L),

    // Leiden level = the q_louvain chain + refinement: connected
    // components (min-label closure) restricted to intra-community
    // edges of the final labels. mat = true on the Louvain chain is
    // LOAD-BEARING (see louvainSql — non-materialized chains take
    // ~10 min in DuckDB and starved round 2's correctness artifact).
    "q_leiden" -> s"""${recChain
        .replace("WITH RECURSIVE pairs AS (", "WITH RECURSIVE pairs AS MATERIALIZED (")
        .replace("), edges AS (", "), edges AS MATERIALIZED (")},
      |${louvainChain("", "edges", 3, mat = true)},
      |ref_edges AS (
      |  SELECT e.src, e.dst FROM edges e
      |  JOIN l3 a ON a.v = e.src JOIN l3 b ON b.v = e.dst
      |  WHERE a.lbl = b.lbl
      |),
      |cc(v, comp) AS (
      |  SELECT v, v FROM (SELECT DISTINCT src AS v FROM edges) q
      |  UNION
      |  SELECT e.dst, cc.comp FROM cc JOIN ref_edges e ON cc.v = e.src
      |  WHERE cc.comp < e.dst
      |)
      |SELECT v AS id, min(comp) AS community FROM cc GROUP BY v""".stripMargin,

    // Deflated power iteration on sigma*I - L; the (sigma - d)x self
    // term rides the w=0 self-loop rows, so one grouped sum per
    // iteration is the whole superstep (same skeleton as
    // q_eigenvector). Centering + L2 normalize via nested windows.
    "q_spectral" -> s"""${recChain},
      |${spectralChain("", "edges", 20, 42L)}
      |SELECT v AS id,
      |  CAST(round(x * 1e6, 0) AS BIGINT) AS fiedler_micro,
      |  CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT) AS cluster
      |FROM it WHERE iter = 20""".stripMargin,

    // Recursive bisection: the q_spectral chain run on the full graph,
    // then again on each side's induced subgraph; low side -> clusters
    // {0,1}, high side -> {2,3} (exactly Spectral.balancedCut's range
    // assignment). Vertices isolated within their side join its low
    // cluster, as in the engine.
    "q_spectral_k" -> s"""${recChain
        .replace("WITH RECURSIVE pairs AS (", "WITH RECURSIVE pairs AS MATERIALIZED (")
        .replace("), edges AS (", "), edges AS MATERIALIZED (")},
      |${spectralChain("", "edges", 20, 42L, mat = true)},
      |cut0 AS MATERIALIZED (
      |  SELECT v, CASE WHEN x > 0 THEN 1 ELSE 0 END AS side
      |  FROM it WHERE iter = 20),
      |allv AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
      |sides AS MATERIALIZED (SELECT a.v, coalesce(c.side, 0) AS side
      |          FROM allv a LEFT JOIN cut0 c ON c.v = a.v),
      |elow AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
      |  JOIN sides a ON a.v = e.src JOIN sides b ON b.v = e.dst
      |  WHERE a.side = 0 AND b.side = 0),
      |ehigh AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
      |  JOIN sides a ON a.v = e.src JOIN sides b ON b.v = e.dst
      |  WHERE a.side = 1 AND b.side = 1),
      |${spectralChain("lo", "elow", 20, 42L, mat = true)},
      |${spectralChain("hi", "ehigh", 20, 42L, mat = true)},
      |cutlo AS (SELECT v, CASE WHEN x > 0 THEN 1 ELSE 0 END AS sub
      |          FROM itlo WHERE iter = 20),
      |cuthi AS (SELECT v, CASE WHEN x > 0 THEN 1 ELSE 0 END AS sub
      |          FROM ithi WHERE iter = 20)
      |SELECT s.v AS id,
      |  CAST(CASE WHEN s.side = 0 THEN coalesce(cl.sub, 0)
      |       ELSE 2 + coalesce(ch.sub, 0) END AS BIGINT) AS cluster
      |FROM sides s
      |LEFT JOIN cutlo cl ON cl.v = s.v
      |LEFT JOIN cuthi ch ON ch.v = s.v""".stripMargin,

    // Power iteration on sigma*I + B (modularity matrix): the self
    // rows carry sigma*x - d*(S/W), with S = sum(d*x) computed as a
    // full-frame window over the self rows (each vertex exactly once)
    // — mirroring Spectral.modularityCut's two scalar passes.
    "q_spectral_mod" -> s"""${recChain},
      |${modularityChain("", "edges", 20, 42L)}
      |SELECT v AS id,
      |  CAST(round(x * 1e6, 0) AS BIGINT) AS mod_micro,
      |  CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT) AS cluster
      |FROM it WHERE iter = 20""".stripMargin,

    "q_node2vec" -> node2vecSql(length = 4, seed = 42L),
    "q_biased_walks" -> biasedWalksSql(length = 4, seed = 42L),

    // Two-hop hash-ranked uniform neighbor sample, fanouts [3, 2].
    "q_neighbor_sample" -> s"""$CHAIN,
      |starts AS (SELECT DISTINCT src AS v FROM edges ORDER BY v LIMIT 10),
      |h1 AS (
      |  SELECT e.src, e.dst FROM (
      |    SELECT e.src, e.dst,
      |      row_number() OVER (PARTITION BY e.src
      |        ORDER BY md5('42:1:' || e.src || ':' || e.dst), e.dst) AS rk
      |    FROM edges e JOIN starts s ON s.v = e.src
      |  ) e WHERE rk <= 3
      |),
      |f2 AS (SELECT DISTINCT dst AS v FROM h1),
      |h2 AS (
      |  SELECT e.src, e.dst FROM (
      |    SELECT e.src, e.dst,
      |      row_number() OVER (PARTITION BY e.src
      |        ORDER BY md5('42:2:' || e.src || ':' || e.dst), e.dst) AS rk
      |    FROM edges e JOIN f2 s ON s.v = e.src
      |  ) e WHERE rk <= 2
      |)
      |SELECT CAST(1 AS BIGINT) AS hop, src, dst FROM h1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS hop, src, dst FROM h2""".stripMargin,

    // Adjacency-list form: the same sample, position = rank of the
    // neighbor inside its (hop, src) sorted array.
    "q_adj_sample" -> s"""$CHAIN,
      |starts AS (SELECT DISTINCT src AS v FROM edges ORDER BY v LIMIT 10),
      |h1 AS (
      |  SELECT e.src, e.dst FROM (
      |    SELECT e.src, e.dst,
      |      row_number() OVER (PARTITION BY e.src
      |        ORDER BY md5('42:1:' || e.src || ':' || e.dst), e.dst) AS rk
      |    FROM edges e JOIN starts s ON s.v = e.src
      |  ) e WHERE rk <= 3
      |),
      |f2 AS (SELECT DISTINCT dst AS v FROM h1),
      |h2 AS (
      |  SELECT e.src, e.dst FROM (
      |    SELECT e.src, e.dst,
      |      row_number() OVER (PARTITION BY e.src
      |        ORDER BY md5('42:2:' || e.src || ':' || e.dst), e.dst) AS rk
      |    FROM edges e JOIN f2 s ON s.v = e.src
      |  ) e WHERE rk <= 2
      |),
      |samp AS (
      |  SELECT CAST(1 AS BIGINT) AS hop, src, dst FROM h1
      |  UNION ALL SELECT CAST(2 AS BIGINT), src, dst FROM h2
      |)
      |SELECT hop, src,
      |  CAST(row_number() OVER (PARTITION BY hop, src ORDER BY dst) - 1
      |    AS BIGINT) AS idx,
      |  dst AS nbr
      |FROM samp""".stripMargin,

    // Simple generators: path 30, complete 8, star 10, 5x4 grid,
    // ER(40, p=0.15, seed 7) with the same md5 coin as the engine.
    "q_generators" -> """WITH pg AS (
      |  SELECT 'path' AS tag, CAST(i AS BIGINT) AS src,
      |         CAST(i + 1 AS BIGINT) AS dst
      |  FROM generate_series(0, 28) t(i)
      |), cg AS (
      |  SELECT 'complete' AS tag, CAST(a.i AS BIGINT) AS src,
      |         CAST(b.i AS BIGINT) AS dst
      |  FROM generate_series(0, 7) a(i) JOIN generate_series(0, 7) b(i)
      |    ON a.i < b.i
      |), sg AS (
      |  SELECT 'star' AS tag, CAST(0 AS BIGINT) AS src,
      |         CAST(i AS BIGINT) AS dst
      |  FROM generate_series(1, 9) t(i)
      |), gg AS (
      |  SELECT 'grid' AS tag, CAST(i AS BIGINT) AS src,
      |         CAST(i + 1 AS BIGINT) AS dst
      |  FROM generate_series(0, 19) t(i) WHERE i % 4 < 3
      |  UNION ALL
      |  SELECT 'grid', CAST(i AS BIGINT), CAST(i + 4 AS BIGINT)
      |  FROM generate_series(0, 19) t(i) WHERE i // 4 < 4
      |), eg AS (
      |  SELECT 'er' AS tag, CAST(a.i AS BIGINT) AS src,
      |         CAST(b.i AS BIGINT) AS dst
      |  FROM generate_series(0, 39) a(i) JOIN generate_series(0, 39) b(i)
      |    ON a.i < b.i
      |  WHERE ('0x' || substr(md5(7 || ':' || a.i || ':' || b.i), 1, 8))::BIGINT
      |        % 1000000 < 150000
      |)
      |SELECT * FROM pg UNION ALL SELECT * FROM cg
      |UNION ALL SELECT * FROM sg UNION ALL SELECT * FROM gg
      |UNION ALL SELECT * FROM eg""".stripMargin,

    // Round trip through MatrixMarket is identity on the weighted
    // symmetrized chain edges (the q_symmetrize oracle).
    "q_mtx_roundtrip" -> s"""$CHAIN, directed AS (
      |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
      |)
      |SELECT src, dst, CAST(min(weight) AS DOUBLE) AS weight FROM (
      |  SELECT src, dst, weight FROM directed
      |  UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
      |) t GROUP BY src, dst""".stripMargin,

    // Adjacency-list round trip is identity on the chain edges.
    "q_from_adjlist" -> s"""$CHAIN
      |SELECT src, dst FROM edges""".stripMargin,

    "q_multi_rmat" -> s"""SELECT graph_id,
      |  count(*) AS n_edges,
      |  count(DISTINCT (src, dst)) AS n_distinct_edges,
      |  max(greatest(src, dst)) AS max_vertex
      |FROM read_parquet('$MultiRmatDumpDir/*.parquet')
      |GROUP BY graph_id""".stripMargin,

    // Bipartiteness via the double cover: one min-label CC over vertex
    // copies 2v / 2v+1 with edges lifted across parities; a vertex's
    // copies sharing a component == an odd cycle through it. Two
    // instances (chain + 8x5 grid) in one result.
    "q_is_bipartite" -> s"""$CHAIN, ccov AS (
      |  SELECT src * 2 AS s, dst * 2 + 1 AS d FROM edges
      |  UNION ALL SELECT src * 2 + 1, dst * 2 FROM edges
      |),
      |cverts AS (SELECT DISTINCT s AS v FROM ccov),
      |ccc(v, comp) AS (
      |  SELECT v, v FROM cverts
      |  UNION
      |  SELECT e.d, ccc.comp FROM ccc JOIN ccov e ON ccc.v = e.s
      |  WHERE ccc.comp < e.d
      |),
      |ccomp AS MATERIALIZED (SELECT v, min(comp) AS comp FROM ccc GROUP BY v),
      |cmerged AS (
      |  SELECT count(*) AS m FROM ccomp a JOIN ccomp b
      |    ON b.v = a.v + 1 AND a.v % 2 = 0 AND a.comp = b.comp
      |),
      |gedges0 AS (
      |  SELECT CAST(i AS BIGINT) AS src, CAST(i + 1 AS BIGINT) AS dst
      |  FROM generate_series(0, 39) t(i) WHERE i % 5 < 4
      |  UNION ALL
      |  SELECT CAST(i AS BIGINT), CAST(i + 5 AS BIGINT)
      |  FROM generate_series(0, 39) t(i) WHERE i // 5 < 7
      |),
      |gedges AS (
      |  SELECT src, dst FROM gedges0 UNION ALL SELECT dst, src FROM gedges0
      |),
      |gcov AS (
      |  SELECT src * 2 AS s, dst * 2 + 1 AS d FROM gedges
      |  UNION ALL SELECT src * 2 + 1, dst * 2 FROM gedges
      |),
      |gverts AS (SELECT DISTINCT s AS v FROM gcov),
      |gcc(v, comp) AS (
      |  SELECT v, v FROM gverts
      |  UNION
      |  SELECT e.d, gcc.comp FROM gcc JOIN gcov e ON gcc.v = e.s
      |  WHERE gcc.comp < e.d
      |),
      |gcomp AS MATERIALIZED (SELECT v, min(comp) AS comp FROM gcc GROUP BY v),
      |gmerged AS (
      |  SELECT count(*) AS m FROM gcomp a JOIN gcomp b
      |    ON b.v = a.v + 1 AND a.v % 2 = 0 AND a.comp = b.comp
      |)
      |SELECT 'chain' AS g, (m = 0) AS bipartite, CAST(m AS BIGINT) AS merged
      |FROM cmerged
      |UNION ALL
      |SELECT 'grid', (m = 0), CAST(m AS BIGINT) FROM gmerged"""
      .stripMargin.replace("WITH pairs", "WITH RECURSIVE pairs"),

    // Dense-adjacency round trip == the mod-128 projection of the
    // min-quantity symmetrized pairs (min is associative, so one flat
    // GROUP BY over both directions equals symmetrize-then-project).
    "q_adj_roundtrip" -> s"""$CHAIN, bidir AS (
      |  SELECT u, v, q FROM pairs
      |  UNION ALL SELECT v AS u, u AS v, q FROM pairs
      |)
      |SELECT u % 128 AS src, v % 128 AS dst, min(q) AS weight
      |FROM bidir GROUP BY 1, 2""".stripMargin,

    // Partition bookkeeping: the declared sides are id-parity / id mod 3
    // selections of the chain vertex set; the bipartite bottom side is
    // the complement of the declared even side.
    "q_npartite_sets" -> s"""$CHAIN,
      |verts AS (SELECT DISTINCT src AS id FROM edges)
      |SELECT 'bi' AS g, id,
      |       CASE WHEN id % 2 = 0 THEN 'top' ELSE 'bottom' END AS part
      |FROM verts
      |UNION ALL
      |SELECT 'multi' AS g, id, 'p' || CAST(id % 3 AS VARCHAR) AS part
      |FROM verts""".stripMargin,

    "q_path_offsets" -> s"""$CHAIN,
      |deg AS (SELECT src AS path_id, count(*) AS sz FROM edges GROUP BY src)
      |SELECT path_id,
      |  CAST(coalesce(sum(sz) OVER (ORDER BY path_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS vertex_offsets,
      |  CAST(sz - 1 AS BIGINT) AS weight_sizes,
      |  CAST(coalesce(sum(sz - 1) OVER (ORDER BY path_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS weight_offsets
      |FROM deg""".stripMargin,

    "q_mst" -> mstSql(rounds = 12),
    "q_mst_max" -> mstSql(rounds = 12, maximum = true),

    "q_degree_centrality" -> s"""$CHAIN,
      |dedges AS (SELECT DISTINCT u AS src, v AS dst FROM pairs),
      |verts AS (SELECT DISTINCT v FROM (
      |  SELECT src AS v FROM dedges UNION ALL SELECT dst FROM dedges) t),
      |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
      |degs AS (
      |  SELECT v, sum(o) AS outd, sum(i) AS ind FROM (
      |    SELECT src AS v, 1 AS o, 0 AS i FROM dedges
      |    UNION ALL SELECT dst, 0, 1 FROM dedges
      |  ) t GROUP BY v
      |)
      |SELECT vv.v AS id,
      |  CAST(round((coalesce(d.outd, 0) + coalesce(d.ind, 0))
      |    / ((SELECT n FROM nv) - 1.0) * 1e6, 0) AS BIGINT) AS dc_micro
      |FROM verts vv LEFT JOIN degs d ON d.v = vv.v""".stripMargin,

    // Backtrack the BFS predecessor tree for the 3 largest reached
    // ids: the q_bfs oracle's dist+pred computation, materialized as
    // predt, then a strictly-pos-decreasing recursion vertex :=
    // predecessor(vertex).
    "q_extract_paths" -> s"""${recChain
        .replace("WITH RECURSIVE pairs AS (", "WITH RECURSIVE pairs AS MATERIALIZED (")
        .replace("), edges AS (", "), edges AS MATERIALIZED (")},
      |root AS MATERIALIZED (SELECT min(src) AS r FROM edges),
      |d(v, dist) AS (
      |  SELECT r, 0 FROM root
      |  UNION
      |  SELECT e.dst, d.dist + 1 FROM d JOIN edges e ON d.v = e.src
      |  WHERE d.dist < 60
      |),
      |dmin AS MATERIALIZED (
      |  SELECT v, CAST(min(dist) AS BIGINT) AS distance FROM d GROUP BY v),
      |predt AS MATERIALIZED (
      |  SELECT dm.v, dm.distance,
      |    CASE WHEN dm.v = (SELECT r FROM root) THEN dm.v
      |         ELSE (SELECT min(e.src) FROM edges e
      |               JOIN dmin d2 ON d2.v = e.src
      |               WHERE e.dst = dm.v AND d2.distance = dm.distance - 1)
      |    END AS predecessor
      |  FROM dmin dm),
      |dests AS MATERIALIZED (
      |  SELECT v FROM predt ORDER BY v DESC LIMIT 3),
      |wk(destination, pos, vertex) AS (
      |  SELECT p.v, p.distance, p.v
      |  FROM predt p JOIN dests dd ON dd.v = p.v
      |  UNION ALL
      |  SELECT w.destination, p2.distance, p1.predecessor
      |  FROM wk w
      |  JOIN predt p1 ON p1.v = w.vertex
      |  JOIN predt p2 ON p2.v = p1.predecessor
      |  WHERE w.pos > 0
      |)
      |SELECT destination, pos, vertex FROM wk""".stripMargin,

    // OUT-core h-index iteration on the DIRECTED pair graph: a vertex
    // reduces over its OUT-neighbors' values, so the delivery join is
    // REVERSED (owner = e.dst, receiver = e.src) relative to
    // q_core_number; self-value rides the w=0 self-loop rows as there.
    "q_core_number_out" -> s"""${recChain},
      |dedges AS (SELECT DISTINCT u AS src, v AS dst FROM pairs),
      |verts AS (SELECT DISTINCT v FROM (
      |  SELECT src AS v FROM dedges UNION ALL SELECT dst FROM dedges) t),
      |outd AS (SELECT src AS v, count(*) AS d FROM dedges GROUP BY src),
      |eplus AS (
      |  SELECT dst AS owner, src AS receiver, 1 AS w FROM dedges
      |  UNION ALL SELECT v, v, 0 FROM verts
      |),
      |cn(iter, v, c) AS (
      |  SELECT 0, verts.v, coalesce(d.d, 0)
      |  FROM verts LEFT JOIN outd d ON verts.v = d.v
      |  UNION ALL
      |  SELECT iter + 1, v, least(cur, coalesce(h, cur))
      |  FROM (
      |    SELECT max(x.iter) AS iter, x.receiver AS v,
      |      max(CASE WHEN x.w = 0 THEN x.c END) AS cur,
      |      max(CASE WHEN x.w > 0 THEN least(x.c, x.r) END) AS h
      |    FROM (
      |      SELECT t.iter AS iter, e.receiver AS receiver, t.c AS c,
      |        e.w AS w,
      |        CAST(row_number() OVER (
      |          PARTITION BY e.receiver, (e.w > 0) ORDER BY t.c DESC)
      |          AS BIGINT) AS r
      |      FROM cn t JOIN eplus e ON t.v = e.owner
      |      WHERE t.iter < 30
      |    ) x
      |    GROUP BY x.receiver
      |  ) y
      |)
      |SELECT v AS id, CAST(c AS BIGINT) AS core_number
      |FROM cn WHERE iter = 30""".stripMargin,

    // IN-core h-index iteration on the DIRECTED pair graph: a vertex
    // reduces over its IN-neighbORS' values, so the delivery join runs
    // edge-forward (owner = e.src, receiver = e.dst) and the init is
    // the IN-degree; self-value rides the w=0 self-loop rows.
    "q_core_number_in" -> s"""${recChain},
      |dedges AS (SELECT DISTINCT u AS src, v AS dst FROM pairs),
      |verts AS (SELECT DISTINCT v FROM (
      |  SELECT src AS v FROM dedges UNION ALL SELECT dst FROM dedges) t),
      |ind AS (SELECT dst AS v, count(*) AS d FROM dedges GROUP BY dst),
      |eplus AS (
      |  SELECT src AS owner, dst AS receiver, 1 AS w FROM dedges
      |  UNION ALL SELECT v, v, 0 FROM verts
      |),
      |cn(iter, v, c) AS (
      |  SELECT 0, verts.v, coalesce(d.d, 0)
      |  FROM verts LEFT JOIN ind d ON verts.v = d.v
      |  UNION ALL
      |  SELECT iter + 1, v, least(cur, coalesce(h, cur))
      |  FROM (
      |    SELECT max(x.iter) AS iter, x.receiver AS v,
      |      max(CASE WHEN x.w = 0 THEN x.c END) AS cur,
      |      max(CASE WHEN x.w > 0 THEN least(x.c, x.r) END) AS h
      |    FROM (
      |      SELECT t.iter AS iter, e.receiver AS receiver, t.c AS c,
      |        e.w AS w,
      |        CAST(row_number() OVER (
      |          PARTITION BY e.receiver, (e.w > 0) ORDER BY t.c DESC)
      |          AS BIGINT) AS r
      |      FROM cn t JOIN eplus e ON t.v = e.owner
      |      WHERE t.iter < 30
      |    ) x
      |    GROUP BY x.receiver
      |  ) y
      |)
      |SELECT v AS id, CAST(c AS BIGINT) AS core_number
      |FROM cn WHERE iter = 30""".stripMargin,

    // Clustering quality metrics of the q_spectral labels, mirroring
    // Spectral.analyzeClustering exactly: edge cut = inter-cluster
    // weight / 2 (symmetric table), ratio cut = sum_c cut(c)/|c|,
    // modularity = internal/W - sum_c (sum of degrees in c)^2 / W^2.
    // Unit weights make every sum exact; micro rounding absorbs the
    // division ulps.
    "q_spectral_metrics" -> s"""${recChain},
      |${spectralChain("", "edges", 20, 42L)},
      |cut AS (SELECT v, CASE WHEN x > 0 THEN 1 ELSE 0 END AS cluster
      |        FROM it WHERE iter = 20),
      |ann AS (
      |  SELECT e.src, e.dst, a.cluster AS ls, b.cluster AS ld
      |  FROM edges e JOIN cut a ON a.v = e.src JOIN cut b ON b.v = e.dst),
      |tw AS (SELECT CAST(count(*) AS DOUBLE) AS w FROM edges),
      |internal AS (SELECT CAST(count(*) AS DOUBLE) AS w FROM ann
      |             WHERE ls = ld),
      |ecut AS (SELECT CAST(count(*) AS DOUBLE) / 2.0 AS w FROM ann
      |         WHERE ls <> ld),
      |csum AS (
      |  SELECT c.cluster, CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(d.d) AS DOUBLE) AS kk
      |  FROM cut c JOIN deg d ON d.v = c.v
      |  GROUP BY c.cluster),
      |ccut AS (
      |  SELECT ls AS cluster, CAST(count(*) AS DOUBLE) AS cut
      |  FROM ann WHERE ls <> ld GROUP BY ls)
      |SELECT
      |  CAST(round(((SELECT w FROM internal) / (SELECT w FROM tw)
      |    - (SELECT sum(kk * kk) FROM csum)
      |      / ((SELECT w FROM tw) * (SELECT w FROM tw))) * 1e6, 0)
      |    AS BIGINT) AS modularity_micro,
      |  CAST(round((SELECT w FROM ecut) * 1e6, 0) AS BIGINT)
      |    AS edge_cut_micro,
      |  CAST(round((SELECT sum(coalesce(cc.cut, 0) / s.n)
      |    FROM csum s LEFT JOIN ccut cc ON cc.cluster = s.cluster) * 1e6, 0)
      |    AS BIGINT) AS ratio_cut_micro""".stripMargin,

    "q_force_atlas2" -> fa2Sql(iters = 10),

    // Per-source BFS: the q_bfs recursion with the source id carried
    // through the expansion (and predecessor re-derived per source).
    // BFS hop tree (the q_bfs reconstruction) costed with the
    // min-quantity weights: recursive walk cur→predecessor summing the
    // weight of each tree edge; terminal row per vertex once cur hits
    // the root. Weights are integer-valued doubles, so the engine's
    // doubling-order sum and this sequential sum agree exactly.
    "q_traversed_cost" -> s"""${recChain
        .replace("WITH RECURSIVE pairs AS (", "WITH RECURSIVE pairs AS MATERIALIZED (")
        .replace("), edges AS (", "), edges AS MATERIALIZED (")},
      |directed AS (
      |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
      |), wedges AS MATERIALIZED (
      |  SELECT src, dst, min(weight) AS weight FROM (
      |    SELECT src, dst, weight FROM directed
      |    UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
      |  ) t GROUP BY src, dst
      |),
      |root AS MATERIALIZED (SELECT min(src) AS r FROM edges),
      |d(v, dist) AS (
      |  SELECT r, 0 FROM root
      |  UNION
      |  SELECT e.dst, d.dist + 1 FROM d JOIN edges e ON d.v = e.src
      |  WHERE d.dist < 60
      |),
      |dmin AS MATERIALIZED (
      |  SELECT v, CAST(min(dist) AS BIGINT) AS distance FROM d GROUP BY v),
      |predt AS MATERIALIZED (
      |  SELECT dm.v, dm.distance,
      |    CASE WHEN dm.v = (SELECT r FROM root) THEN dm.v
      |         ELSE (SELECT min(e.src) FROM edges e
      |               JOIN dmin d2 ON d2.v = e.src
      |               WHERE e.dst = dm.v AND d2.distance = dm.distance - 1)
      |    END AS predecessor
      |  FROM dmin dm),
      |wk(v, cur, acc) AS (
      |  SELECT v, v, CAST(0.0 AS DOUBLE) FROM predt
      |  UNION ALL
      |  SELECT w.v, p.predecessor, w.acc + CAST(e.weight AS DOUBLE)
      |  FROM wk w
      |  JOIN predt p ON p.v = w.cur AND p.distance > 0
      |  JOIN wedges e ON e.src = p.predecessor AND e.dst = w.cur
      |)
      |SELECT w.v AS id, CAST(round(w.acc * 1e6) AS BIGINT) AS cost_micro
      |FROM wk w JOIN predt p2 ON p2.v = w.cur WHERE p2.distance = 0""".stripMargin,

    "q_ms_bfs" -> s"""${recChain},
      |roots AS (
      |  SELECT src AS s FROM (SELECT DISTINCT src FROM edges) t
      |  ORDER BY s LIMIT 4),
      |d(s, v, dist) AS (
      |  SELECT s, s, 0 FROM roots
      |  UNION
      |  SELECT d.s, e.dst, d.dist + 1 FROM d JOIN edges e ON d.v = e.src
      |  WHERE d.dist < 60
      |),
      |dmin AS (
      |  SELECT s, v, CAST(min(dist) AS BIGINT) AS distance
      |  FROM d GROUP BY s, v)
      |SELECT dm.s AS source, dm.v AS id, dm.distance,
      |  CASE WHEN dm.v = dm.s AND dm.distance = 0 THEN dm.v
      |       ELSE (SELECT min(e.src) FROM edges e
      |             JOIN dmin d2 ON d2.s = dm.s AND d2.v = e.src
      |             WHERE e.dst = dm.v AND d2.distance = dm.distance - 1)
      |  END AS predecessor
      |FROM dmin dm""".stripMargin,

    // Exact DP over job subsets (Held–Karp style; 8 workers -> ~1e5
    // permutation prefixes) recovering the assignment via the list
    // carried per dp row; the quadratic-hash cost matrix has a unique
    // optimum (checked at fixture design time), so the argmin list is
    // well-defined and must equal the auction engine's assignment.
    "q_hungarian" -> """WITH RECURSIVE workers AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS w FROM part
      |  ORDER BY p_partkey LIMIT 8
      |), jobs AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS j FROM supplier
      |  ORDER BY s_suppkey LIMIT 8
      |), widx AS (
      |  SELECT w, row_number() OVER (ORDER BY w) AS k FROM workers
      |), jidx AS (
      |  SELECT j, row_number() OVER (ORDER BY j) - 1 AS ji FROM jobs
      |), costs AS (
      |  SELECT w.w, ji.j, ji.ji,
      |    CAST((w.w*w.w*577 + ji.j*ji.j*331 + w.w*ji.j*7919) % 9973 + 1
      |      AS DOUBLE) AS cost
      |  FROM workers w CROSS JOIN jidx ji
      |), dp AS (
      |  SELECT 0 AS k, CAST(0 AS BIGINT) AS mask, CAST(0 AS DOUBLE) AS tot,
      |         CAST([] AS BIGINT[]) AS js
      |  UNION ALL
      |  SELECT d.k + 1, d.mask + (CAST(1 AS BIGINT) << c.ji), d.tot + c.cost,
      |         list_append(d.js, c.j)
      |  FROM dp d
      |  JOIN widx w ON w.k = d.k + 1
      |  JOIN costs c ON c.w = w.w
      |   AND (d.mask & (CAST(1 AS BIGINT) << c.ji)) = 0
      |), best AS (
      |  SELECT js FROM dp WHERE k = (SELECT count(*) FROM workers)
      |  ORDER BY tot LIMIT 1
      |)
      |SELECT wi.w AS vertex, b.js[CAST(wi.k AS INT)] AS assignment,
      |  CAST((wi.w*wi.w*577 + b.js[CAST(wi.k AS INT)]*b.js[CAST(wi.k AS INT)]*331
      |    + wi.w*b.js[CAST(wi.k AS INT)]*7919) % 9973 + 1 AS BIGINT) AS edge_cost
      |FROM widx wi, best b""".stripMargin,

    // dense_hungarian: identical DP, assignment reported as the job's
    // dense column index (its rank among the 8 smallest suppliers).
    "q_dense_hungarian" -> """WITH RECURSIVE workers AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS w FROM part
      |  ORDER BY p_partkey LIMIT 8
      |), jobs AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS j FROM supplier
      |  ORDER BY s_suppkey LIMIT 8
      |), widx AS (
      |  SELECT w, row_number() OVER (ORDER BY w) AS k FROM workers
      |), jidx AS (
      |  SELECT j, row_number() OVER (ORDER BY j) - 1 AS ji FROM jobs
      |), costs AS (
      |  SELECT w.w, ji.j, ji.ji,
      |    CAST((w.w*w.w*577 + ji.j*ji.j*331 + w.w*ji.j*7919) % 9973 + 1
      |      AS DOUBLE) AS cost
      |  FROM workers w CROSS JOIN jidx ji
      |), dp AS (
      |  SELECT 0 AS k, CAST(0 AS BIGINT) AS mask, CAST(0 AS DOUBLE) AS tot,
      |         CAST([] AS BIGINT[]) AS js
      |  UNION ALL
      |  SELECT d.k + 1, d.mask + (CAST(1 AS BIGINT) << c.ji), d.tot + c.cost,
      |         list_append(d.js, c.j)
      |  FROM dp d
      |  JOIN widx w ON w.k = d.k + 1
      |  JOIN costs c ON c.w = w.w
      |   AND (d.mask & (CAST(1 AS BIGINT) << c.ji)) = 0
      |), best AS (
      |  SELECT js FROM dp WHERE k = (SELECT count(*) FROM workers)
      |  ORDER BY tot LIMIT 1
      |)
      |SELECT wi.w AS vertex, CAST(ji.ji AS BIGINT) AS assignment,
      |  CAST((wi.w*wi.w*577 + ji.j*ji.j*331 + wi.w*ji.j*7919) % 9973 + 1
      |    AS BIGINT) AS edge_cost
      |FROM widx wi CROSS JOIN best b
      |JOIN jidx ji ON ji.j = b.js[CAST(wi.k AS INT)]""".stripMargin,

    // Composite-key renumber: dense degree-descending ids, key-column
    // ascending tie-break — the exact buildMapMulti order.
    "q_renumber_multi" -> """WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |   AND b.l_linenumber = a.l_linenumber + 1
      |   AND a.l_partkey <> b.l_partkey
      |), occ AS (
      |  SELECT CAST(u % 50 AS BIGINT) AS k1, CAST(u % 7 AS BIGINT) AS k2
      |  FROM pairs
      |  UNION ALL
      |  SELECT CAST(v % 50 AS BIGINT), CAST(v % 7 AS BIGINT) FROM pairs
      |), deg AS (
      |  SELECT k1, k2, count(*) AS degree FROM occ GROUP BY k1, k2
      |)
      |SELECT k1, k2,
      |  CAST(row_number() OVER (ORDER BY degree DESC, k1, k2) - 1
      |    AS BIGINT) AS id,
      |  degree
      |FROM deg""".stripMargin,

    "q_graph_stats" -> """WITH raw AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
      |         CAST(a.l_quantity AS DOUBLE) AS weight
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |   AND b.l_linenumber = a.l_linenumber + 1
      |),
      |verts AS (SELECT DISTINCT v FROM (
      |  SELECT src AS v FROM raw UNION ALL SELECT dst FROM raw) t)
      |SELECT
      |  (SELECT count(*) FROM raw) AS n_edges,
      |  (SELECT count(*) FROM verts) AS n_vertices,
      |  (SELECT count(*) FROM raw WHERE src = dst) AS self_loops,
      |  (SELECT count(*) FROM (
      |     SELECT 1 FROM raw GROUP BY src, dst HAVING count(*) > 1) m)
      |    AS multi_edges,
      |  (SELECT count(*) FROM raw WHERE weight > 25.0) AS heavy_edges,
      |  (SELECT count(*) FROM verts WHERE v % 2 = 0) AS even_vertices"""
      .stripMargin
  )

  private def recChain: String =
    CHAIN.replace("WITH pairs", "WITH RECURSIVE pairs")

  /** Shared SSSP distance recursion over the weighted chain graph;
   * `finalSelect` projects from the converged `sss(iter, v, dist,
   * pred)` frame (rows with dist >= 1e17 are unreachable). */
  private def ssspSql(finalSelect: String): String = s"""${recChain},
    |directed AS (
    |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
    |), wedges AS (
    |  SELECT src, dst, min(weight) AS weight FROM (
    |    SELECT src, dst, weight FROM directed
    |    UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
    |  ) t GROUP BY src, dst
    |),
    |verts AS (SELECT DISTINCT src AS v FROM wedges),
    |root AS (SELECT min(src) AS r FROM wedges),
    |eplus AS (
    |  SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM wedges
    |  UNION ALL SELECT v, v, 0.0 FROM verts
    |),
    |sss(iter, v, dist, pred) AS (
    |  SELECT 0, v,
    |    CASE WHEN v = (SELECT r FROM root) THEN CAST(0.0 AS DOUBLE)
    |         ELSE CAST(1e18 AS DOUBLE) END, v
    |  FROM verts
    |  UNION ALL
    |  SELECT iter + 1, dst,
    |    CASE WHEN best.d < cur.d THEN best.d ELSE cur.d END,
    |    CASE WHEN best.d < cur.d THEN best.p ELSE cur.p END
    |  FROM (
    |    SELECT max(t.iter) AS iter, e.dst AS dst,
    |      min(CASE WHEN e.w > 0
    |            THEN struct_pack(d := t.dist + e.w, p := t.v) END) AS best,
    |      min(CASE WHEN e.w = 0
    |            THEN struct_pack(d := t.dist, p := t.pred) END) AS cur
    |    FROM sss t JOIN eplus e ON t.v = e.src
    |    -- Bound = 60 supersteps (same as q_bfs): Bellman-Ford needs
    |    -- at most (weighted hop depth) rounds, measured 3 at sf0.01,
    |    -- and the UNION-set recursion is NOT free past the fixpoint
    |    -- (cyclic re-expansion makes each extra round a real join:
    |    -- bound 200 cost 25 s at sf0.01, bound 60 costs 7.5 s with
    |    -- value-identical output at both test SFs). The engine runs
    |    -- to fixpoint; this only has to exceed the sf's hop depth.
    |    WHERE t.iter < 60
    |    GROUP BY e.dst
    |  ) s
    |)
    |$finalSelect
    |FROM sss WHERE iter = 60 AND dist < 1e17""".stripMargin

  /** Unrolled ForceAtlas2 mirroring [[graft.algos.ForceAtlas2.run]]
   * with default Config on the 8-smallest-orders clique fixture:
   * exact all-pairs repulsion, linear attraction with outbound
   * compensation, linear gravity, the FA2 global speed adaptation as
   * a scalar CTE chain, and the SAME per-iteration micro-rounding of
   * positions / forces / global swing+traction / speed scalars, so
   * both engines walk an identical micro-lattice trajectory. */
  private def fa2Sql(iters: Int): String = {
    def mr(e: String): String = s"round(($e)*1e6)/1e6"
    val roundCtes = (1 to iters).map { i =>
      val p = s"fpos${i - 1}"
      val sp = s"fsp${i - 1}"
      // swing expression per vertex over the forces frame f
      val swing = "f.m*sqrt((f.odx-f.fx)*(f.odx-f.fx)+(f.ody-f.fy)*(f.ody-f.fy))"
      s"""frep$i AS MATERIALIZED (
        |  SELECT a.id,
        |    ${mr(s"sum((a.x-b.x)*2.0*a.m*b.m/" +
             "((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)+1e-9))")} AS rx,
        |    ${mr(s"sum((a.y-b.y)*2.0*a.m*b.m/" +
             "((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)+1e-9))")} AS ry
        |  FROM $p a JOIN $p b ON a.id <> b.id GROUP BY a.id),
        |fatt$i AS MATERIALIZED (
        |  SELECT id, sum(ax) AS ax, sum(ay) AS ay FROM (
        |    SELECT e.src AS id,
        |      (ps.x-pd.x)*(-(SELECT coef FROM fcf))/ps.m AS ax,
        |      (ps.y-pd.y)*(-(SELECT coef FROM fcf))/ps.m AS ay
        |    FROM fcanon e JOIN $p ps ON ps.id = e.src
        |    JOIN $p pd ON pd.id = e.dst
        |    UNION ALL
        |    SELECT e.dst,
        |      -(ps.x-pd.x)*(-(SELECT coef FROM fcf))/ps.m,
        |      -(ps.y-pd.y)*(-(SELECT coef FROM fcf))/ps.m
        |    FROM fcanon e JOIN $p ps ON ps.id = e.src
        |    JOIN $p pd ON pd.id = e.dst
        |  ) t GROUP BY id),
        |ff$i AS MATERIALIZED (
        |  SELECT pp.id, pp.m, pp.x, pp.y, pp.odx, pp.ody,
        |    ${mr("coalesce(r.rx,0)+coalesce(a.ax,0) - " +
             "pp.x*pp.m*1.0/sqrt(pp.x*pp.x+pp.y*pp.y+1e-9)")} AS fx,
        |    ${mr("coalesce(r.ry,0)+coalesce(a.ay,0) - " +
             "pp.y*pp.m*1.0/sqrt(pp.x*pp.x+pp.y*pp.y+1e-9)")} AS fy
        |  FROM $p pp LEFT JOIN frep$i r ON r.id = pp.id
        |  LEFT JOIN fatt$i a ON a.id = pp.id),
        |fg$i AS (
        |  SELECT
        |    ${mr("sum(m*sqrt((odx-fx)*(odx-fx)+(ody-fy)*(ody-fy)))")} AS s,
        |    ${mr("sum(0.5*m*sqrt((odx+fx)*(odx+fx)+(ody+fy)*(ody+fy)))")} AS t
        |  FROM ff$i),
        |fsp$i AS (
        |  SELECT
        |    ${mr("speed0 + least(target - speed0, 0.5*speed0)")} AS speed,
        |    ${mr("eff2")} AS eff
        |  FROM (
        |    SELECT speed0, eff1, jt1, s, t,
        |      CASE WHEN s = 0 THEN 1e308 ELSE jt1*eff1*t/s END AS target,
        |      CASE WHEN s > jt1*t THEN
        |             (CASE WHEN eff1 > 0.05 THEN eff1*0.7 ELSE eff1 END)
        |           WHEN speed0 < 1000 THEN eff1*1.3 ELSE eff1 END AS eff2
        |    FROM (
        |      SELECT speed0, s, t,
        |        CASE WHEN t > 0 AND s/t > 2.0 AND eff0 > 0.05
        |             THEN eff0*0.5 ELSE eff0 END AS eff1,
        |        CASE WHEN t > 0 AND s/t > 2.0
        |             THEN greatest(jt0, 1.0) ELSE jt0 END AS jt1
        |      FROM (
        |        SELECT q.speed AS speed0, q.eff AS eff0, g.s, g.t,
        |          1.0*greatest(sqrt(0.05*sqrt(n.n)),
        |            least(10.0, 0.05*sqrt(n.n)*g.t/(n.n*n.n))) AS jt0
        |        FROM $sp q, fg$i g, fnv n) t1) t2) t3),
        |fpos$i AS MATERIALIZED (
        |  SELECT f.id, f.m,
        |    ${mr("f.x + f.fx*sp.speed/(1.0+sqrt(sp.speed*" + swing + "))")} AS x,
        |    ${mr("f.y + f.fy*sp.speed/(1.0+sqrt(sp.speed*" + swing + "))")} AS y,
        |    f.fx AS odx, f.fy AS ody
        |  FROM ff$i f, fsp$i sp)""".stripMargin
    }.mkString(",\n")

    s"""WITH foks AS (
      |  SELECT DISTINCT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 8
      |), fedges AS (
      |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
      |         CAST(b.l_partkey AS BIGINT) AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  WHERE a.l_orderkey IN (SELECT l_orderkey FROM foks)
      |), fcanon AS (SELECT src, dst FROM fedges WHERE src < dst),
      |fmass AS (
      |  SELECT src AS id, CAST(count(*) AS DOUBLE) AS m FROM fedges GROUP BY src
      |), fverts AS (SELECT DISTINCT src AS id FROM fedges),
      |fnv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM fverts),
      |fcf AS (SELECT (SELECT sum(m) FROM fmass)/(SELECT n FROM fnv) AS coef),
      |fpos0 AS MATERIALIZED (
      |  SELECT v.id, coalesce(ms.m, 0.0) AS m,
      |    ${mr("(((v.id*37+11)%193)/96.0 - 1.0)*100.0")} AS x,
      |    ${mr("(((v.id*53+29)%181)/90.0 - 1.0)*100.0")} AS y,
      |    0.0 AS odx, 0.0 AS ody
      |  FROM fverts v LEFT JOIN fmass ms ON ms.id = v.id),
      |fsp0 AS (SELECT 1.0 AS speed, 1.0 AS eff),
      |$roundCtes
      |SELECT id, CAST(round(x*1e6, 0) AS BIGINT) AS x_micro,
      |       CAST(round(y*1e6, 0) AS BIGINT) AS y_micro
      |FROM fpos$iters""".stripMargin
  }

  /** Unrolled Borůvka over the weighted symmetrized chain graph,
   * mirroring [[graft.algos.Mst]] exactly: per round, per-component
   * argmin cross edge by the unique (weight, src, dst) key, then
   * component merge via min-label cc over the picked COMPONENT-pair
   * graph (tiny and shrinking — running the cc over the full forest
   * instead costs ~q_wcc per round). `rounds` past the fixpoint are
   * no-ops (no cross edges → empty picks → identity merge). */
  private def mstSql(rounds: Int, maximum: Boolean = false): String = {
    // maximum = true mirrors Mst.maximumForest: pick on negated
    // weights, emit the original sign (the reference's wrapper).
    val sgn = if (maximum) "-" else ""

    val roundCtes = (1 to rounds).map { i =>
      val pc = s"comp${i - 1}"
      s"""xe$i AS MATERIALIZED (
        |  SELECT e.src, e.dst, e.w, a.c AS cs, b.c AS cd
        |  FROM canon e JOIN $pc a ON a.v = e.src
        |  JOIN $pc b ON b.v = e.dst
        |  WHERE a.c <> b.c),
        |picks$i AS MATERIALIZED (
        |  SELECT DISTINCT q.k.s AS src, q.k.d AS dst, q.k.w AS w FROM (
        |    SELECT min(struct_pack(w := w, s := src, d := dst)) AS k
        |    FROM (
        |      SELECT cs AS c, w, src, dst FROM xe$i
        |      UNION ALL SELECT cd, w, src, dst FROM xe$i
        |    ) t GROUP BY c
        |  ) q),
        |pp$i AS MATERIALIZED (
        |  SELECT DISTINCT a.c AS x, b.c AS y FROM picks$i p
        |  JOIN $pc a ON a.v = p.src JOIN $pc b ON b.v = p.dst),
        |ppsym$i AS MATERIALIZED (
        |  SELECT x, y FROM pp$i UNION SELECT y AS x, x AS y FROM pp$i),
        |mcc$i(c, m) AS (
        |  SELECT DISTINCT c, c FROM $pc
        |  UNION
        |  SELECT e.y, t.m FROM mcc$i t JOIN ppsym$i e ON t.c = e.x
        |  WHERE t.m < e.y),
        |merged$i AS MATERIALIZED (
        |  SELECT c, min(m) AS m FROM mcc$i GROUP BY c),
        |comp$i AS MATERIALIZED (
        |  SELECT t.v, g.m AS c FROM $pc t JOIN merged$i g ON g.c = t.c)"""
        .stripMargin
    }.mkString(",\n")
    val allPicks = (1 to rounds).map(i => s"SELECT * FROM picks$i")
      .mkString(" UNION ALL ")
    s"""${recChain
        .replace("WITH RECURSIVE pairs AS (", "WITH RECURSIVE pairs AS MATERIALIZED (")
        .replace("), edges AS (", "), edges AS MATERIALIZED (")},
      |directed AS MATERIALIZED (
      |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
      |), wedges AS MATERIALIZED (
      |  SELECT src, dst, min(weight) AS weight FROM (
      |    SELECT src, dst, weight FROM directed
      |    UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
      |  ) t GROUP BY src, dst
      |),
      |canon AS MATERIALIZED (
      |  SELECT src, dst, CAST(${sgn}weight AS DOUBLE) AS w FROM wedges
      |  WHERE src < dst),
      |mverts AS MATERIALIZED (SELECT DISTINCT v FROM (
      |  SELECT src AS v FROM canon UNION ALL SELECT dst FROM canon) t),
      |comp0 AS MATERIALIZED (SELECT v, v AS c FROM mverts),
      |$roundCtes
      |SELECT src, dst, ${sgn}w AS weight FROM ($allPicks) f""".stripMargin
  }

  /** Deflated-power-iteration CTE chain over `edgesRel` (unweighted,
   * both directions stored), every CTE name suffixed with `sfx` so
   * several instances coexist in one statement (q_spectral_k's
   * recursive bisection). Defines verts/deg/sg/eplus/it; read the
   * final vector with `SELECT v, x FROM it$sfx WHERE iter = $iters`.
   * Arithmetic is structured IDENTICALLY to [[Spectral.fiedlerCut]]
   * (same sigma, same centered-norm algebra), so the two engines share
   * the float path up to sum-order noise. */
  private def spectralChain(
      sfx: String, edgesRel: String, iters: Int, seed: Long,
      mat: Boolean = false): String = {
    // mat = true MATERIALIZEs the helper CTEs: in q_spectral_k the
    // sub-chains' recursion would otherwise re-inline (and re-run)
    // the level-1 chain behind its induced edge relation on every
    // recursive step — measured 70 s vs ~2 s at sf0.01.
    val M = if (mat) " MATERIALIZED" else ""
    s"""verts$sfx AS$M (SELECT DISTINCT src AS v FROM $edgesRel),
      |deg$sfx AS$M (SELECT src AS v, CAST(count(*) AS DOUBLE) AS d
      |        FROM $edgesRel GROUP BY src),
      |sg$sfx AS$M (SELECT 2.0 * max(d) AS s FROM deg$sfx),
      |eplus$sfx AS$M (
      |  SELECT src, dst, 1.0 AS w FROM $edgesRel
      |  UNION ALL SELECT v, v, 0.0 FROM verts$sfx
      |),
      |it$sfx(iter, v, x) AS (
      |  SELECT 0, d.v,
      |    CAST(('0x' || substr(md5($seed || ':' || d.v), 1, 8))::BIGINT
      |         % 1000000 AS DOUBLE) / 1000000.0 - 0.5
      |  FROM deg$sfx d
      |  UNION ALL
      |  SELECT iter, v,
      |    (y - mu) / sqrt(sq - cnt * mu * mu)
      |  FROM (
      |    SELECT iter, v, y, avg(y) OVER () AS mu,
      |      sum(y * y) OVER () AS sq,
      |      CAST(count(*) OVER () AS DOUBLE) AS cnt
      |    FROM (
      |      SELECT max(t.iter) + 1 AS iter, e.dst AS v,
      |        sum(CASE WHEN e.w > 0 THEN t.x * e.w
      |                 ELSE ((SELECT s FROM sg$sfx) - dd.d) * t.x END) AS y
      |      FROM it$sfx t
      |      JOIN eplus$sfx e ON t.v = e.src
      |      JOIN deg$sfx dd ON dd.v = e.dst
      |      WHERE t.iter < $iters
      |      GROUP BY e.dst
      |    ) raw
      |  ) centered
      |)""".stripMargin
  }

  /** Deflated power iteration on σI + B (B = W − k·kᵀ/2m, the
   * modularity matrix) over unweighted `edgesRel`, structured like
   * [[spectralChain]]: self-loop rows carry the σ·x − d·(S/W) term,
   * where S = Σ d·x rides a full-frame window over the self rows
   * (each vertex appears exactly once there) and W = Σ degrees.
   * Arithmetic mirrors [[graft.algos.Spectral.modularityCut]] —
   * same σ, same d·(S/W) association, same centered-norm algebra. */
  private def modularityChain(
      sfx: String, edgesRel: String, iters: Int, seed: Long): String = {
    s"""verts$sfx AS (SELECT DISTINCT src AS v FROM $edgesRel),
      |deg$sfx AS (SELECT src AS v, CAST(count(*) AS DOUBLE) AS d
      |        FROM $edgesRel GROUP BY src),
      |sg$sfx AS (SELECT 2.0 * max(d) AS s, sum(d) AS w FROM deg$sfx),
      |eplus$sfx AS (
      |  SELECT src, dst, 1.0 AS w FROM $edgesRel
      |  UNION ALL SELECT v, v, 0.0 FROM verts$sfx
      |),
      |it$sfx(iter, v, x) AS (
      |  SELECT 0, d.v,
      |    CAST(('0x' || substr(md5($seed || ':' || d.v), 1, 8))::BIGINT
      |         % 1000000 AS DOUBLE) / 1000000.0 - 0.5
      |  FROM deg$sfx d
      |  UNION ALL
      |  SELECT iter, v,
      |    (y - mu) / sqrt(sq - cnt * mu * mu)
      |  FROM (
      |    SELECT iter, v, y, avg(y) OVER () AS mu,
      |      sum(y * y) OVER () AS sq,
      |      CAST(count(*) OVER () AS DOUBLE) AS cnt
      |    FROM (
      |      SELECT max(z.iter) + 1 AS iter, z.dst AS v,
      |        sum(CASE WHEN z.w > 0 THEN z.x * z.w
      |                 ELSE (SELECT s FROM sg$sfx) * z.x
      |                      - z.d * (z.sv / (SELECT w FROM sg$sfx)) END)
      |          AS y
      |      FROM (
      |        SELECT t.iter AS iter, e.dst AS dst, t.x AS x, e.w AS w,
      |          dd.d AS d,
      |          sum(CASE WHEN e.w = 0 THEN t.x * dd.d END) OVER () AS sv
      |        FROM it$sfx t
      |        JOIN eplus$sfx e ON t.v = e.src
      |        JOIN deg$sfx dd ON dd.v = e.dst
      |        WHERE t.iter < $iters
      |      ) z
      |      GROUP BY z.dst
      |    ) raw
      |  ) centered
      |)""".stripMargin
  }

  /** k-truss support peel on the dense graph, UNROLLED to `rounds`
   * rounds (peel is monotone: rounds past the fixpoint are no-ops;
   * the engine fixpoint is measured well under the bound by
   * KTrussSpec). Each round: per-canonical-edge triangle support via
   * the symmetric adjacency self-join, then HAVING >= k-2. */
  private def ktrussSql(rounds: Int, k: Int): String = {
    // Inner join + HAVING drops support-0 edges in every round, which
    // is only correct when minSup >= 1 (k=2 would have to KEEP
    // triangle-free edges; the engine early-returns for that case).
    require(k >= 3, s"ktrussSql needs k >= 3 (inner-join peel), got $k")
    val minSup = k - 2
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"e${i - 1}"
      s"""sym${i - 1} AS MATERIALIZED (
        |  SELECT src, dst FROM $prev
        |  UNION ALL SELECT dst, src FROM $prev),
        |e$i AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM $prev e
        |  JOIN sym${i - 1} a ON a.src = e.src
        |  JOIN sym${i - 1} b ON b.src = e.dst AND b.dst = a.dst
        |  GROUP BY e.src, e.dst
        |  HAVING count(*) >= $minSup)""".stripMargin
    }.mkString(",\n")
    s"""${DENSE.replace("WITH edges AS (", "WITH edges AS MATERIALIZED (")},
      |e0 AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
      |$roundCtes
      |SELECT src, dst FROM e$rounds""".stripMargin
  }

  /** node2vec walks (p=2, q=0.5): cumulative-weight inversion with the
   * md5 counter draw, candidates ordered by the engine's pinned
   * (md5-bucket % 65536, nbr) total order (the hub-safe two-level
   * scheme collapses to this single running sum). PRECONDITION shared
   * with the engine: weights are DYADIC (0.5/1/2 here), so every
   * running/bucket sum is exact in both engines, the
   * `cum·10^6 > r·tot` compare is bit-identical, and the last-
   * candidate fallback (mirrored below as `cum = tot` vs the engine's
   * `cum = maxcum`) never changes the pick — a future non-dyadic
   * weight column would need micro-rounded weights first. */
  private def node2vecSql(length: Int, seed: Long): String =
    s"""${recChain},
      |starts AS (SELECT DISTINCT src AS v FROM edges ORDER BY v LIMIT 10),
      |wk(start, step, prev, cur) AS (
      |  SELECT v, CAST(0 AS BIGINT), v, v FROM starts
      |  UNION ALL
      |  SELECT y.start, y.step, y.prev, y.pk.v
      |  FROM (
      |    SELECT x.start, x.step, x.prev,
      |      min(struct_pack(c := x.cum, v := x.nbr)) AS pk
      |    FROM (
      |      SELECT w.start, w.step + 1 AS step, w.cur AS prev, e.dst AS nbr,
      |        sum(CASE WHEN e.dst = w.prev THEN 0.5
      |                 WHEN e2.src IS NOT NULL THEN 1.0 ELSE 2.0 END)
      |          OVER (PARTITION BY w.start ORDER BY
      |            ('0x' || substr(md5(e.dst || ''), 1, 8))::BIGINT % 65536,
      |            e.dst) AS cum,
      |        sum(CASE WHEN e.dst = w.prev THEN 0.5
      |                 WHEN e2.src IS NOT NULL THEN 1.0 ELSE 2.0 END)
      |          OVER (PARTITION BY w.start) AS tot,
      |        ('0x' || substr(md5($seed || ':' || w.start || ':'
      |            || (w.step + 1)), 1, 8))::BIGINT % 1000000 AS r
      |      FROM wk w
      |      JOIN edges e ON e.src = w.cur
      |      LEFT JOIN edges e2 ON e2.src = w.prev AND e2.dst = e.dst
      |      WHERE w.step < $length
      |    ) x
      |    WHERE x.cum * 1000000 > x.r * x.tot OR x.cum = x.tot
      |    GROUP BY x.start, x.step, x.prev
      |  ) y
      |)
      |SELECT start, step, cur AS vertex FROM wk""".stripMargin

  /** Edge-weight-proportional walks over the weighted symmetrized
   * chain graph, candidates in the engine's (md5-bucket % 65536, nbr)
   * order. Same DYADIC-weight precondition as [[node2vecSql]]
   * (weights here are integer-valued min-l_quantity doubles), same
   * mirrored `cum = tot` last-candidate fallback. */
  private def biasedWalksSql(length: Int, seed: Long): String =
    s"""${recChain},
      |directed AS (
      |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
      |), wedges AS (
      |  SELECT src, dst, CAST(min(weight) AS DOUBLE) AS w FROM (
      |    SELECT src, dst, weight FROM directed
      |    UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
      |  ) t GROUP BY src, dst
      |),
      |starts AS (SELECT DISTINCT src AS v FROM wedges ORDER BY v LIMIT 10),
      |wk(start, step, cur) AS (
      |  SELECT v, CAST(0 AS BIGINT), v FROM starts
      |  UNION ALL
      |  SELECT y.start, y.step, y.pk.v
      |  FROM (
      |    SELECT x.start, x.step,
      |      min(struct_pack(c := x.cum, v := x.nbr)) AS pk
      |    FROM (
      |      SELECT w.start, w.step + 1 AS step, e.dst AS nbr,
      |        sum(e.w) OVER (PARTITION BY w.start ORDER BY
      |          ('0x' || substr(md5(e.dst || ''), 1, 8))::BIGINT % 65536,
      |          e.dst) AS cum,
      |        sum(e.w) OVER (PARTITION BY w.start) AS tot,
      |        ('0x' || substr(md5($seed || ':' || w.start || ':'
      |            || (w.step + 1)), 1, 8))::BIGINT % 1000000 AS r
      |      FROM wk w JOIN wedges e ON e.src = w.cur
      |      WHERE w.step < $length
      |    ) x
      |    WHERE x.cum * 1000000 > x.r * x.tot OR x.cum = x.tot
      |    GROUP BY x.start, x.step
      |  ) y
      |)
      |SELECT start, step, cur AS vertex FROM wk""".stripMargin

  /** Fixed-10-iteration PERSONALIZED PageRank: teleport/dangling mass
   * goes to the 3 smallest vertices (equal weights) instead of 1/V. */
  private def personalizedPagerankSql: String =
    s"""${recChain},
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |pw AS (
      |  SELECT v, CAST(1.0 AS DOUBLE) / 3 AS w
      |  FROM (SELECT v FROM verts ORDER BY v LIMIT 3) t
      |),
      |outw AS (SELECT src AS v, CAST(count(*) AS DOUBLE) AS ow
      |         FROM edges GROUP BY src),
      |eplus AS (
      |  SELECT src, dst, 1.0 AS w FROM edges
      |  UNION ALL SELECT v, v, 0.0 FROM verts
      |),
      |pr(iter, v, p) AS (
      |  SELECT 0, v, 1.0 / (SELECT count(*) FROM verts) FROM verts
      |  UNION ALL
      |  SELECT iter + 1, dst,
      |         0.85 * contrib +
      |         (0.85 * sum(dpart) OVER () + 0.15) * coalesce(pw.w, 0)
      |  FROM (
      |    SELECT max(t.iter) AS iter, e.dst AS dst,
      |           sum(CASE WHEN e.w > 0 THEN t.p * (e.w / o.ow) ELSE 0 END)
      |             AS contrib,
      |           sum(CASE WHEN e.w = 0 AND coalesce(o.ow, 0) = 0
      |                    THEN t.p ELSE 0 END) AS dpart
      |    FROM pr t
      |    JOIN eplus e ON t.v = e.src
      |    LEFT JOIN outw o ON o.v = t.v
      |    WHERE t.iter < 10
      |    GROUP BY e.dst
      |  ) s LEFT JOIN pw ON s.dst = pw.v
      |)
      |SELECT v AS id, CAST(round(p * 1e6, 0) AS BIGINT) AS pr_micro
      |FROM pr WHERE iter = 10""".stripMargin

  /** Shared skeleton for similarity-coefficient oracles over chain
   * edges with src < dst; `formula` uses i (intersection), da, db. */
  private def similaritySql(formula: String, outCol: String): String =
    s"""$CHAIN,
      |deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY src),
      |common AS (
      |  SELECT e.src, e.dst, count(*) AS inter
      |  FROM edges e
      |  JOIN edges n1 ON n1.src = e.src
      |  JOIN edges n2 ON n2.src = e.dst AND n2.dst = n1.dst
      |  WHERE e.src < e.dst
      |  GROUP BY e.src, e.dst
      |)
      |SELECT e.src, e.dst,
      |  CAST(round(($formula) * 1e6, 0) AS BIGINT) AS $outCol
      |FROM (
      |  SELECT e0.src, e0.dst,
      |    CAST(coalesce(c.inter, 0) AS DOUBLE) AS i,
      |    CAST(a.d AS DOUBLE) AS da, CAST(b.d AS DOUBLE) AS db
      |  FROM edges e0
      |  JOIN deg a ON a.v = e0.src JOIN deg b ON b.v = e0.dst
      |  LEFT JOIN common c ON c.src = e0.src AND c.dst = e0.dst
      |  WHERE e0.src < e0.dst
      |) e""".stripMargin

  /** Sampled-Brandes betweenness over the DENSE graph, UNROLLED to
   * `levels` BFS levels (diameter at test SFs is 2; extra levels are
   * empty no-ops). Forward: per-level σ sums with a NOT EXISTS
   * visited check. Backward: per-depth δ with the engine's exact
   * term shape σ_v/σ_w·(1+δ_w). k = number of sampled sources
   * (the k smallest vertex ids). */
  private def betweennessSql(levels: Int, k: Int): String = {
    // MATERIALIZED everywhere: these CTEs are referenced repeatedly and
    // DuckDB would otherwise re-inline (and re-compute) the whole
    // forward chain per reference.
    val forward = (1 to levels).map { d =>
      val pv = d - 1
      s"""f$d AS MATERIALIZED (
        |  SELECT p.s, e.dst AS v, $d AS dist, sum(p.sigma) AS sigma
        |  FROM w$pv p JOIN edges e ON e.src = p.v
        |  GROUP BY p.s, e.dst),
        |w$d AS MATERIALIZED (
        |  SELECT f.s, f.v, f.dist, f.sigma FROM f$d f
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM vis$pv x WHERE x.s = f.s AND x.v = f.v)),
        |vis$d AS MATERIALIZED (
        |  SELECT s, v FROM vis$pv UNION ALL SELECT s, v FROM w$d)"""
        .stripMargin
    }.mkString(",\n")
    val allLevels = (0 to levels).map(d => s"SELECT * FROM w$d")
      .mkString(" UNION ALL ")
    val backward = (0 until levels).reverse.map { d =>
      val nx = d + 1
      s"""t$d AS MATERIALIZED (
        |  SELECT l.s, e.src AS v,
        |    sum(a.sigma / l.sigma * (1.0 + l.delta)) AS delta
        |  FROM lvl$nx l
        |  JOIN edges e ON e.dst = l.v
        |  JOIN lay a ON a.s = l.s AND a.v = e.src AND a.dist = $d
        |  GROUP BY l.s, e.src),
        |lvl$d AS MATERIALIZED (
        |  SELECT a.s, a.v, a.sigma, coalesce(t.delta, 0.0) AS delta
        |  FROM (SELECT * FROM lay WHERE dist = $d) a
        |  LEFT JOIN t$d t ON t.s = a.s AND t.v = a.v)""".stripMargin
    }.mkString(",\n")
    val allDeltas = (0 to levels).map(d => s"SELECT s, v, delta FROM lvl$d")
      .mkString(" UNION ALL ")
    s"""${DENSE.replace("WITH edges AS (", "WITH edges AS MATERIALIZED (")},
      |verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
      |srcs AS (SELECT v AS s FROM verts ORDER BY v LIMIT $k),
      |w0 AS MATERIALIZED (SELECT s, s AS v, 0 AS dist, 1.0 AS sigma
      |                    FROM srcs),
      |vis0 AS (SELECT s, v FROM w0),
      |$forward,
      |lay AS MATERIALIZED ($allLevels),
      |lvl$levels AS (SELECT s, v, sigma, 0.0 AS delta FROM lay
      |               WHERE dist = $levels),
      |$backward,
      |sums AS (
      |  SELECT v, sum(delta) AS d0
      |  FROM ($allDeltas) q WHERE v <> s GROUP BY v
      |)
      |SELECT vv.v AS id,
      |  CAST(round((coalesce(s.d0, 0.0)
      |    * ((1.0 / (((SELECT n FROM nn) - 1.0) * ((SELECT n FROM nn) - 2.0)))
      |       * ((SELECT n FROM nn) / $k.0))) * 1e6, 0) AS BIGINT) AS bc_micro
      |FROM verts vv LEFT JOIN sums s ON s.v = vv.v""".stripMargin
  }

  /** Edge-betweenness oracle: the [[betweennessSql]] skeleton with the
   * per-arc backward terms MATERIALIZED before their per-vertex
   * grouping, so the arc credits (the edge-BC values) and the vertex
   * deltas (needed to keep descending) come from one computation.
   * Normalized edge rescale = 1/(n(n−1)), no source rescale
   * (reference betweenness_centrality.cu:90,392-403). */
  private def edgeBetweennessSql(levels: Int, k: Int): String = {
    val forward = (1 to levels).map { d =>
      val pv = d - 1
      s"""f$d AS MATERIALIZED (
        |  SELECT p.s, e.dst AS v, $d AS dist, sum(p.sigma) AS sigma
        |  FROM w$pv p JOIN edges e ON e.src = p.v
        |  GROUP BY p.s, e.dst),
        |w$d AS MATERIALIZED (
        |  SELECT f.s, f.v, f.dist, f.sigma FROM f$d f
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM vis$pv x WHERE x.s = f.s AND x.v = f.v)),
        |vis$d AS MATERIALIZED (
        |  SELECT s, v FROM vis$pv UNION ALL SELECT s, v FROM w$d)"""
        .stripMargin
    }.mkString(",\n")
    val allLevels = (0 to levels).map(d => s"SELECT * FROM w$d")
      .mkString(" UNION ALL ")
    val backward = (0 until levels).reverse.map { d =>
      val nx = d + 1
      s"""et$d AS MATERIALIZED (
        |  SELECT l.s, e.src AS v, l.v AS w,
        |    a.sigma / l.sigma * (1.0 + l.delta) AS t
        |  FROM lvl$nx l
        |  JOIN edges e ON e.dst = l.v
        |  JOIN lay a ON a.s = l.s AND a.v = e.src AND a.dist = $d),
        |t$d AS MATERIALIZED (
        |  SELECT s, v, sum(t) AS delta FROM et$d GROUP BY s, v),
        |lvl$d AS MATERIALIZED (
        |  SELECT a.s, a.v, a.sigma, coalesce(t.delta, 0.0) AS delta
        |  FROM (SELECT * FROM lay WHERE dist = $d) a
        |  LEFT JOIN t$d t ON t.s = a.s AND t.v = a.v)""".stripMargin
    }.mkString(",\n")
    val allTerms = (0 until levels).map(d => s"SELECT v, w, t FROM et$d")
      .mkString(" UNION ALL ")
    s"""${DENSE.replace("WITH edges AS (", "WITH edges AS MATERIALIZED (")},
      |verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
      |srcs AS (SELECT v AS s FROM verts ORDER BY v LIMIT $k),
      |w0 AS MATERIALIZED (SELECT s, s AS v, 0 AS dist, 1.0 AS sigma
      |                    FROM srcs),
      |vis0 AS (SELECT s, v FROM w0),
      |$forward,
      |lay AS MATERIALIZED ($allLevels),
      |lvl$levels AS (SELECT s, v, sigma, 0.0 AS delta FROM lay
      |               WHERE dist = $levels),
      |$backward,
      |credits AS (
      |  SELECT v, w, sum(t) AS t0 FROM ($allTerms) q GROUP BY v, w
      |)
      |SELECT e.src, e.dst,
      |  CAST(round(coalesce(c.t0, 0.0)
      |    / ((SELECT n FROM nn) * ((SELECT n FROM nn) - 1.0))
      |    * 1e6, 0) AS BIGINT) AS ebc_micro
      |FROM edges e LEFT JOIN credits c ON c.v = e.src AND c.w = e.dst"""
      .stripMargin
  }

  /** Louvain inner-iteration CTE chain over `edgesRel` (weight 1.0),
   * every CTE name suffixed with `sfx` so several instances coexist
   * in one statement (ECG's ensemble). Defines vw$sfx, tw$sfx and the
   * label CTEs l${sfx}0 … l$sfx$iters. Arithmetic is structured
   * IDENTICALLY to [[graft.algos.Louvain]]'s delta expression —
   * weights are 1.0 so every aggregate is an integer-valued double
   * and the comparison `delta > 0` and struct argmax are bit-exact
   * across engines. (Unrolled, not recursive: the recursive form
   * would need the label CTE referenced several times per term, which
   * DuckDB's recursion forbids.) */
  private def louvainChain(sfx: String, edgesRel: String, iters: Int,
      mat: Boolean = false): String = {
    // MATERIALIZED keeps DuckDB from re-inlining (and re-computing /
    // re-opening the parquet behind) each of the many references in
    // the multiplied ECG chain.
    val M = if (mat) " MATERIALIZED" else ""
    val prefix =
      s"""vw$sfx AS$M (SELECT src AS v, CAST(count(*) AS DOUBLE) AS kk
        |       FROM $edgesRel GROUP BY src),
        |tw$sfx AS$M (SELECT CAST(count(*) AS DOUBLE) AS t FROM $edgesRel),
        |l${sfx}0 AS$M (SELECT v, v AS lbl
        |  FROM (SELECT DISTINCT src AS v FROM $edgesRel) q)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val pl = s"l$sfx${i - 1}"
      // up_down alternates starting true (louvain_impl.cuh:155,185)
      val up = if (i % 2 == 1) "TRUE" else "FALSE"
      s"""a$sfx$i AS$M (SELECT l.lbl, sum(w.kk) AS a
        |  FROM $pl l JOIN vw$sfx w ON w.v = l.v GROUP BY l.lbl),
        |eb$sfx$i AS$M (SELECT e.src, e.dst, 1.0 AS w, ls.lbl AS lsrc, ld.lbl AS ldst
        |  FROM $edgesRel e JOIN $pl ls ON ls.v = e.src
        |  JOIN $pl ld ON ld.v = e.dst),
        |own$sfx$i AS$M (SELECT src,
        |    sum(CASE WHEN src <> dst THEN w ELSE 0 END) AS osum,
        |    sum(CASE WHEN src = dst THEN w ELSE 0 END) AS sub
        |  FROM eb$sfx$i WHERE lsrc = ldst GROUP BY src),
        |cand$sfx$i AS$M (SELECT src, ldst, sum(w) AS ns
        |  FROM eb$sfx$i GROUP BY src, ldst),
        |scored$sfx$i AS$M (
        |  SELECT c.src, c.ldst,
        |    2 * (((c.ns
        |        - CASE WHEN c.ldst = vi.lbl THEN coalesce(o.sub, 0) ELSE 0 END
        |        - coalesce(o.osum, 0)) / (SELECT t FROM tw$sfx))
        |      - 1.0 * (an.a * vi.kk - ao.a * vi.kk + vi.kk * vi.kk)
        |        / ((SELECT t FROM tw$sfx) * (SELECT t FROM tw$sfx))) AS delta
        |  FROM cand$sfx$i c
        |  JOIN (SELECT l.v, l.lbl, w.kk FROM $pl l
        |        JOIN vw$sfx w ON w.v = l.v) vi
        |    ON vi.v = c.src
        |  JOIN a$sfx$i an ON an.lbl = c.ldst
        |  JOIN a$sfx$i ao ON ao.lbl = vi.lbl
        |  LEFT JOIN own$sfx$i o ON o.src = c.src),
        |best$sfx$i AS$M (SELECT src,
        |    max(struct_pack(d := delta, c := -ldst)) AS b
        |  FROM scored$sfx$i GROUP BY src),
        |l$sfx$i AS$M (
        |  SELECT l.v,
        |    CASE WHEN b.b.d > 0 AND ((-b.b.c > l.lbl) = $up)
        |      THEN -b.b.c ELSE l.lbl END AS lbl
        |  FROM $pl l LEFT JOIN best$sfx$i b ON b.src = l.v)""".stripMargin
    }.mkString(",\n")
    s"$prefix,\n$iterCtes"
  }

  /** Louvain level with `iters` fixed inner iterations (q_louvain).
   * mat = true is LOAD-BEARING: without MATERIALIZED, DuckDB
   * re-inlines the whole unrolled chain per reference (~10 min at
   * sf0.01 — slow enough that the driver's correctness artifact for
   * round 2 timed out empty); with it the oracle runs in seconds. */
  private def louvainSql(iters: Int): String =
    s"${CHAIN
        .replace("WITH pairs AS (", "WITH pairs AS MATERIALIZED (")
        .replace("), edges AS (", "), edges AS MATERIALIZED (")},\n" +
      s"${louvainChain("", "edges", iters, mat = true)}\n" +
      s"SELECT v AS id, lbl AS community FROM l$iters"

  /** ECG co-membership votes: `k` one-level Louvain members, each on
   * a bijectively relabeled copy of the graph (md5 counter hash, the
   * engine's exact permutation), votes summed per canonical edge. */
  private def ecgSql(k: Int, iters: Int, seed: Long): String = {
    def permExpr(r: Int, c: String): String =
      s"('0x' || substr(md5($seed || ':' || $r || ':' || $c), 1, 15))::BIGINT"
    val runs = (1 to k).map { r =>
      s"""p$r AS MATERIALIZED (SELECT v, ${permExpr(r, "v")} AS pv FROM evs),
        |pe$r AS MATERIALIZED (SELECT ps.pv AS src, pd.pv AS dst
        |  FROM edges e JOIN p$r ps ON ps.v = e.src
        |  JOIN p$r pd ON pd.v = e.dst),
        |${louvainChain(s"r$r", s"pe$r", iters, mat = true)},
        |back$r AS MATERIALIZED (SELECT p.v, l.lbl FROM p$r p
        |  JOIN lr$r$iters l ON l.v = p.pv)""".stripMargin
    }.mkString(",\n")
    val voteSum = (1 to k)
      .map(r => s"(CASE WHEN bs$r.lbl = bd$r.lbl THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val voteJoins = (1 to k)
      .map(r => s"JOIN back$r bs$r ON bs$r.v = c.src\n" +
        s"JOIN back$r bd$r ON bd$r.v = c.dst")
      .mkString("\n")
    val chainMat = CHAIN
      .replace("WITH pairs AS (", "WITH pairs AS MATERIALIZED (")
      .replace("), edges AS (", "), edges AS MATERIALIZED (")
    s"""$chainMat,
      |evs AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
      |$runs,
      |canon AS (SELECT src, dst FROM edges WHERE src < dst)
      |SELECT c.src, c.dst, CAST($voteSum AS BIGINT) AS votes
      |FROM canon c
      |$voteJoins""".stripMargin
  }

  /** Weighted similarity skeleton (vertex weight vw = v % 7 + 1):
   * W(N(v)) per vertex and W(A ∩ B) per pair; `formula` uses
   * i (intersection weight), da, db (neighborhood weights). */
  private def weightedSimilaritySql(formula: String, outCol: String): String =
    s"""$CHAIN,
      |vw AS (SELECT DISTINCT src AS v, CAST(src % 7 + 1 AS DOUBLE) AS w
      |       FROM edges),
      |nbrw AS (
      |  SELECT e.src AS v, sum(w.w) AS d
      |  FROM edges e JOIN vw w ON w.v = e.dst GROUP BY e.src
      |),
      |common AS (
      |  SELECT e.src, e.dst, sum(w.w) AS i
      |  FROM edges e
      |  JOIN edges n1 ON n1.src = e.src
      |  JOIN edges n2 ON n2.src = e.dst AND n2.dst = n1.dst
      |  JOIN vw w ON w.v = n1.dst
      |  WHERE e.src < e.dst
      |  GROUP BY e.src, e.dst
      |)
      |SELECT e.src, e.dst,
      |  CAST(round(($formula) * 1e6, 0) AS BIGINT) AS $outCol
      |FROM (
      |  SELECT e0.src, e0.dst,
      |    CAST(coalesce(c.i, 0) AS DOUBLE) AS i, a.d AS da, b.d AS db
      |  FROM edges e0
      |  JOIN nbrw a ON a.v = e0.src JOIN nbrw b ON b.v = e0.dst
      |  LEFT JOIN common c ON c.src = e0.src AND c.dst = e0.dst
      |  WHERE e0.src < e0.dst
      |) e""".stripMargin

  /** Fixed-10-iteration WEIGHTED PageRank over the min-quantity
   * symmetrized chain graph: contributions normalized by out-WEIGHT
   * sums (the engine's weighted path), same dangling/base structure as
   * [[pagerankSql]]. */
  private def weightedPagerankSql: String =
    s"""${recChain},
      |directed AS (
      |  SELECT u AS src, v AS dst, min(q) AS weight FROM pairs GROUP BY u, v
      |), wedges AS (
      |  SELECT src, dst, CAST(min(weight) AS DOUBLE) AS w FROM (
      |    SELECT src, dst, weight FROM directed
      |    UNION ALL SELECT dst AS src, src AS dst, weight FROM directed
      |  ) t GROUP BY src, dst
      |),
      |verts AS (SELECT DISTINCT src AS v FROM wedges),
      |nv AS (SELECT count(*) AS n FROM verts),
      |outw AS (SELECT src AS v, sum(w) AS ow FROM wedges GROUP BY src),
      |eplus AS (
      |  SELECT src, dst, w FROM wedges
      |  UNION ALL SELECT v, v, 0.0 FROM verts
      |),
      |pr(iter, v, p) AS (
      |  SELECT 0, v, 1.0 / (SELECT n FROM nv) FROM verts
      |  UNION ALL
      |  SELECT iter + 1, dst,
      |         0.85 * contrib +
      |         (0.85 * sum(dpart) OVER () + 0.15) / (SELECT n FROM nv)
      |  FROM (
      |    SELECT max(t.iter) AS iter, e.dst AS dst,
      |           sum(CASE WHEN e.w > 0 THEN t.p * (e.w / o.ow) ELSE 0 END)
      |             AS contrib,
      |           sum(CASE WHEN e.w = 0 AND coalesce(o.ow, 0) = 0
      |                    THEN t.p ELSE 0 END) AS dpart
      |    FROM pr t
      |    JOIN eplus e ON t.v = e.src
      |    LEFT JOIN outw o ON o.v = t.v
      |    WHERE t.iter < 10
      |    GROUP BY e.dst
      |  ) s
      |)
      |SELECT v AS id, CAST(round(p * 1e6, 0) AS BIGINT) AS pr_micro
      |FROM pr WHERE iter = 10""".stripMargin

  /** Fixed-10-iteration PageRank as a DuckDB recursive CTE mirroring
   * the engine's math exactly (same nw = w/outw normalization, same
   * dangling/base term), emitted as integer micro-PageRank. */
  private def pagerankSql(limit: Option[Int]): String = {
    val tail = limit
      .map(n => s"ORDER BY pr_micro DESC, id LIMIT $n")
      .getOrElse("")
    s"""${CHAIN.replace("WITH pairs", "WITH RECURSIVE pairs")},
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |nv AS (SELECT count(*) AS n FROM verts),
      |outw AS (SELECT src AS v, CAST(count(*) AS DOUBLE) AS ow
      |         FROM edges GROUP BY src),
      |eplus AS (
      |  SELECT src, dst, 1.0 AS w FROM edges
      |  UNION ALL SELECT v, v, 0.0 FROM verts
      |),
      |pr(iter, v, p) AS (
      |  SELECT 0, v, 1.0 / (SELECT n FROM nv) FROM verts
      |  UNION ALL
      |  SELECT iter + 1, dst,
      |         0.85 * contrib +
      |         (0.85 * sum(dpart) OVER () + 0.15) / (SELECT n FROM nv)
      |  FROM (
      |    SELECT max(t.iter) AS iter, e.dst AS dst,
      |           sum(CASE WHEN e.w > 0 THEN t.p * (e.w / o.ow) ELSE 0 END)
      |             AS contrib,
      |           sum(CASE WHEN e.w = 0 AND coalesce(o.ow, 0) = 0
      |                    THEN t.p ELSE 0 END) AS dpart
      |    FROM pr t
      |    JOIN eplus e ON t.v = e.src
      |    LEFT JOIN outw o ON o.v = t.v
      |    WHERE t.iter < 10
      |    GROUP BY e.dst
      |  ) s
      |)
      |SELECT v AS id, CAST(round(p * 1e6, 0) AS BIGINT) AS pr_micro
      |FROM pr WHERE iter = 10 $tail""".stripMargin
  }

  /** Fixed-K synchronous LPA (most frequent neighbor label, ties ->
   * smallest) as a recursive CTE; argmax encoded as
   * cnt * 2^32 + (2^31 - label) so plain max() is the deterministic
   * tie-break. */
  private def lpaSql(k: Int): String =
    s"""${CHAIN.replace("WITH pairs", "WITH RECURSIVE pairs")},
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |eplus AS (
      |  SELECT src, dst, 1 AS w FROM edges
      |  UNION ALL SELECT v, v, 0 FROM verts
      |),
      |lp(iter, v, lbl) AS (
      |  SELECT 0, v, v FROM verts
      |  UNION ALL
      |  SELECT iter + 1, dst,
      |         2147483647 - (max(score) % 4294967296)
      |  FROM (
      |    SELECT t.iter AS iter, e.dst AS dst, t.lbl AS lbl,
      |           CAST(sum(e.w) AS BIGINT) * 4294967296
      |             + (2147483647 - t.lbl) AS score
      |    FROM lp t JOIN eplus e ON t.v = e.src
      |    WHERE t.iter < $k
      |    GROUP BY t.iter, e.dst, t.lbl
      |  ) s
      |  GROUP BY iter + 1, dst
      |)
      |SELECT v AS id, lbl AS label FROM lp WHERE iter = $k""".stripMargin
}
