package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Columnar edge-table graph, the Spark-native analog of the reference's
 * COO edge list + graph_view (see
 * `/root/reference/python/cugraph/cugraph/structure/graph_implementation/simpleGraph.py:39-66`
 * and `/root/reference/cpp/include/cugraph/graph_view.hpp:280-296`).
 *
 * Canonical schema: `src: Long, dst: Long, weight: Double`. All operators
 * are declarative DataFrame transformations so Catalyst/AQE keep control
 * of the physical plan; no RDDs.
 *
 * Scale posture: `edges` is expected to be hash-partitioned on `src`
 * ([[LinkGraph.partitioned]]) so the per-superstep state join
 * (state.id == edges.src) is co-partitioned and only the message
 * reduce shuffles. That mirrors the reference's Murmur3-hash vertex
 * ownership (`/root/reference/cpp/src/detail/graph_utils.cuh:45-52`) —
 * Spark's `hash()` / HashPartitioning is the same Murmur3-32 family.
 * Readers of edges by dst use the second layout, [[transposed]], built
 * once per graph.
 */
final case class LinkGraph(
    edges: DataFrame,
    directed: Boolean,
    numPartitions: Int) {

  import LinkGraph._

  def spark: SparkSession = edges.sparkSession

  /** Distinct vertex ids appearing as src or dst. One shuffle. */
  def vertices: DataFrame =
    edges.select(col(SRC).as(ID))
      .union(edges.select(col(DST).as(ID)))
      .distinct()

  lazy val numVertices: Long = vertices.count()
  lazy val numEdges: Long = edges.count()

  /**
   * Undirected view: every edge present in both directions, duplicates
   * collapsed keeping the minimum weight — the reference's symmetrize
   * (`/root/reference/python/cugraph/cugraph/structure/symmetrize.py:78-92`,
   * groupby(src,dst).min()).
   */
  def symmetrize: LinkGraph = {
    val rev = edges.select(
      col(DST).as(SRC), col(SRC).as(DST), col(WEIGHT))
    val sym = edges.union(rev)
      .groupBy(SRC, DST)
      .agg(min(WEIGHT).as(WEIGHT))
    LinkGraph(partitioned(sym, numPartitions), directed = false, numPartitions)
  }

  /** Drop src==dst edges (reference:
   * `/root/reference/cpp/src/community/triangle_count_impl.cuh:193-226`). */
  def withoutSelfLoops: LinkGraph =
    copy(edges = edges.filter(col(SRC) =!= col(DST)))

  /** Collapse multi-edges keeping min weight. */
  def dedupe: LinkGraph =
    copy(edges = edges.groupBy(SRC, DST).agg(min(WEIGHT).as(WEIGHT)))

  /** (id, out_degree, in_degree) for EVERY vertex in one aggregation —
   * each edge contributes (src, 1, 0) and (dst, 0, 1), so zero-degree
   * roles appear without a distinct-vertices + outer-join round trip
   * (that plan shuffles the vertex-mention stream twice; this shuffles
   * it once with map-side combine). */
  def degreeTable: DataFrame =
    edges.select(col(SRC).as(ID), lit(1L).as("o"), lit(0L).as("i"))
      .union(edges.select(col(DST).as(ID), lit(0L).as("o"), lit(1L).as("i")))
      .groupBy(ID)
      .agg(sum("o").as("out_degree"), sum("i").as("in_degree"))

  /** Total degree (out + in). */
  def degrees: DataFrame =
    degreeTable.select(col(ID),
      (col("out_degree") + col("in_degree")).as("degree"))

  /** Sum of outgoing edge weights per vertex (PageRank denominator;
   * reference `/root/reference/cpp/src/link_analysis/pagerank_impl.cuh:158-164`).
   * Vertices with no out-edges get 0.0 (dangling). Same single-pass
   * union-aggregate shape as [[degreeTable]]. */
  def outWeightSums: DataFrame =
    edges.select(col(SRC).as(ID), col(WEIGHT).as("w"))
      .union(edges.select(col(DST).as(ID), lit(0.0).as("w")))
      .groupBy(ID)
      .agg(sum("w").as("out_weight"))

  def countSelfLoops: Long = edges.filter(col(SRC) === col(DST)).count()

  def countMultiEdges: Long =
    edges.groupBy(SRC, DST).count().filter(col("count") > 1).count()

  /** Structural multigraph test (reference `is_multigraph`,
   * `graph_classes.py:551` — there a constructor flag; here computed
   * from the data, like [[graft.algos.Bipartite]] computes the
   * coloring `is_bipartite` stubs). */
  def isMultigraph: Boolean = countMultiEdges > 0L

  /** Count edges satisfying a predicate over (src, dst, weight) —
   * the reference's count_if_e
   * (`/root/reference/cpp/src/prims/count_if_e.cuh:91`, used e.g. for
   * the negative-weight validation in pagerank_impl.cuh:96-123). */
  def countIfE(pred: Column): Long = edges.filter(pred).count()

  /** Count vertices satisfying a predicate over `id` — the reference's
   * count_if_v (`/root/reference/cpp/src/prims/count_if_v.cuh:100`). */
  def countIfV(pred: Column): Long = vertices.filter(pred).count()

  /** Edges restricted to a vertex set (both endpoints) — induced subgraph
   * (`/root/reference/cpp/src/structure/induced_subgraph_impl.cuh`). */
  def inducedSubgraph(vertexSet: DataFrame): LinkGraph = {
    val vs = vertexSet.select(col(vertexSet.columns.head).as(ID))
    val e = edges
      .join(vs.withColumnRenamed(ID, SRC), Seq(SRC), "left_semi")
      .join(vs.withColumnRenamed(ID, DST), Seq(DST), "left_semi")
      .select(col(SRC), col(DST), col(WEIGHT))
    copy(edges = e)
  }

  /** Hash-partition edges by src and pin them in memory for iterative
   * algorithms. Returns a graph whose edges side of a state join never
   * re-shuffles. */
  def cached(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): LinkGraph = {
    val e = partitioned(edges, numPartitions).persist(level)
    copy(edges = e)
  }

  // The by-dst layout, once built; `copy` starts without one.
  private var byDst: Option[DataFrame] = None

  /**
   * The graph's second edge layout, the reference's transposed
   * adjacency (`store_transposed` in `graph_view.hpp`,
   * `transposedAdjList` in `simpleGraph.py`): every edge as (src, dst)
   * with the roles swapped, hash-partitioned by its `src` (the original
   * dst) like [[edges]], so [[Superstep.messages]] and the
   * co-partitioned joins read it as they read `edges`: a sender sends
   * to its in-neighbours. No weight: no reader uses one.
   *
   * Built on first use and kept for the graph's lifetime: persisted at
   * `edges`' storage level, so a cached graph pays its one exchange
   * once; over unpersisted edges it is a plain repartition that caches
   * nothing. Safe to call from concurrent queries on one memo'd graph.
   */
  def transposed: DataFrame = synchronized {
    byDst.getOrElse {
      val t = partitioned(
        edges.select(col(DST).as(SRC), col(SRC).as(DST)), numPartitions)
      val level = edges.storageLevel
      val built = if (level == StorageLevel.NONE) t else t.persist(level)
      byDst = Some(built)
      built
    }
  }

  /** Release both layouts; the by-dst one only if it was built. */
  def unpersist(): Unit = {
    edges.unpersist()
    synchronized { byDst.foreach(_.unpersist()); byDst = None }
  }
}

object LinkGraph {
  // Canonical column names.
  val SRC = "src"
  val DST = "dst"
  val WEIGHT = "weight"
  val ID = "id"

  /** Hash-repartition a frame on `src` — the standard layout for the
   * superstep join. Murmur3 hash partitioning, like the reference's
   * vertex ownership (`graph_utils.cuh:45-52`). */
  def partitioned(df: DataFrame, n: Int): DataFrame =
    df.repartition(n, col(SRC))

  /**
   * Build from any DataFrame by naming src/dst/weight columns; missing
   * weight defaults to 1.0 (reference:
   * `/root/reference/cpp/tests/link_analysis/pagerank_test.cpp:88`).
   */
  def fromEdges(
      df: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String] = None,
      directed: Boolean = true,
      numPartitions: Int = 0): LinkGraph = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val w = weightCol
      .map(c => col(c).cast("double"))
      .getOrElse(lit(1.0))
    val e = df.select(
      col(srcCol).cast("long").as(SRC),
      col(dstCol).cast("long").as(DST),
      w.as(WEIGHT))
    LinkGraph(e, directed, n)
  }

  /**
   * Build from an adjacency-list frame — one row per vertex with an
   * array of neighbors (reference from_adjlist,
   * `/root/reference/python/cugraph/cugraph/structure/graph_classes.py:173`).
   * The explode is partition-local (no shuffle); a vertex with an
   * empty array contributes no edges, like the reference's CSR with
   * an empty row.
   */
  def fromAdjList(
      df: DataFrame,
      idCol: String,
      nbrsCol: String,
      directed: Boolean = true,
      numPartitions: Int = 0): LinkGraph = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val e = df.select(
      col(idCol).cast("long").as(SRC),
      explode(col(nbrsCol)).as("nbr"))
      .select(col(SRC), col("nbr").cast("long").as(DST), lit(1.0).as(WEIGHT))
    LinkGraph(e, directed, n)
  }

  /**
   * Build from a dense adjacency frame — one row per vertex with its
   * full weight row as an array, column position = destination vertex
   * id, zeros = non-edges (reference from_pandas_adjacency /
   * from_numpy_array / from_numpy_matrix,
   * `/root/reference/python/cugraph/cugraph/structure/convert_matrix.py:337,382,426`).
   * The posexplode is partition-local; the V² cell volume exists only
   * inside the scan stage and is filtered to the nonzeros before any
   * shuffle — the edge list, not the matrix, is what moves.
   */
  def fromDenseAdjacency(
      df: DataFrame,
      idCol: String,
      rowCol: String,
      directed: Boolean = true,
      numPartitions: Int = 0): LinkGraph = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val e = df
      .select(col(idCol).cast("long").as(SRC),
        posexplode(col(rowCol)).as(Seq("pos", "w")))
      .filter(col("w").isNotNull && col("w") =!= 0.0)
      .select(col(SRC), col("pos").cast("long").as(DST),
        col("w").cast("double").as(WEIGHT))
    LinkGraph(e, directed, n)
  }

  /**
   * Dense adjacency export — one row per vertex 0..n-1 with the full
   * weight row (missing edges 0.0), the engine-side analog of
   * to_pandas_adjacency / to_numpy_array (`convert_matrix.py:368,413`).
   * Output is intrinsically V² cells, so like the exact-ANN baseline it
   * REFUSES oversized graphs instead of silently materializing them;
   * multi-edges collapse to the min weight (symmetrize's dedupe rule).
   */
  def toDenseAdjacency(g: LinkGraph, maxVertices: Int = 1 << 16): DataFrame = {
    val n = g.edges
      .agg(coalesce(max(greatest(col(SRC), col(DST))) + 1, lit(0L)))
      .head().getLong(0)
    require(n <= maxVertices,
      s"dense adjacency of $n vertices exceeds maxVertices=$maxVertices " +
        "(n^2 cells); export the edge list instead")
    val rows = g.edges.groupBy(SRC, DST).agg(min(WEIGHT).as(WEIGHT))
      .groupBy(col(SRC).as(ID))
      .agg(map_from_entries(collect_list(struct(col(DST), col(WEIGHT))))
        .as("m"))
    g.spark.range(n).select(col("id").as(ID))
      .join(rows, Seq(ID), "left")
      .select(col(ID),
        transform(sequence(lit(0L), lit(n - 1)),
          j => coalesce(try_element_at(col("m"), j), lit(0.0))).as("row"))
  }
}
