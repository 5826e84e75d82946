package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{DenseRank, Lineage, LinkGraph}
import graft.core.LinkGraph.{DST, SRC}

/**
 * Uniform random walks (reference contract
 * `/root/reference/cpp/include/cugraph/algorithms.hpp:1348`,
 * `cpp/src/sampling/random_walks_impl.cuh`): one fixed-length walk per
 * start vertex; at each step the walker moves to a uniformly-chosen
 * out-neighbor; a walk ends early at a sink.
 *
 * Determinism: the reference uses device RNG; we pin a SPLITTABLE
 * deterministic choice — neighbor index = md5(seed:start:step) mod
 * out-degree over the dst-ascending neighbor order — so results are
 * identical across partitionings/cluster sizes AND reproducible by the
 * SQL oracle (md5 is engine-independent). Statistically this is a
 * fixed hash stream per (walk, step), the standard counter-based RNG
 * idea.
 *
 * Physical plan (hub-safe): the adjacency is an INDEXED EDGE TABLE
 * (src, idx, dst) with idx = rank of dst among src's neighbors —
 * built once via the scale-safe [[DenseRank]] (global rank minus the
 * src's first rank; no per-src window sort, no collect_list arrays,
 * constant row width). Each step joins walkers to edges on the
 * composite key (src, idx); the edge table is cached hash-partitioned
 * on exactly that key, so per step only the (tiny) walker frame
 * shuffles — never the edges.
 *
 * Returns (start, step, vertex): step 0 is the start vertex itself.
 */
object RandomWalks {

  final case class Config(length: Int = 4, seed: Long = 42L)

  def run(g0: LinkGraph, starts: DataFrame, cfg: Config = Config()): DataFrame =
    graft.core.SparkTuning.withGraph(g0)(runImpl(_, starts, cfg))

  private def runImpl(g: LinkGraph, starts: DataFrame, cfg: Config): DataFrame = {
    val p = g.numPartitions

    val edges = g.edges.select(SRC, DST).distinct()
    // idx = dense per-src neighbor index in dst-ascending order:
    // global (src, dst) rank minus the src's first rank.
    val ranked = DenseRank.assign(edges,
      Seq(col(SRC).asc, col(DST).asc), p, "r")
    val base = ranked.groupBy(SRC)
      .agg(min(col("r")).as("r0"), count(lit(1)).as("deg"))
    val indexed = ranked.alias("rk")
      .join(base.alias("bs"), col(s"rk.$SRC") === col(s"bs.$SRC"))
      .select(col(s"rk.$SRC").as(SRC),
        (col("rk.r") - col("bs.r0")).as("idx"), col(s"rk.$DST").as(DST))
      .repartition(p, col(SRC), col("idx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val degs = base.select(col(SRC).as("v"), col("deg"))
      .repartition(p, col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var cur = Lineage.materialize(
      starts.select(col(starts.columns.head).as("start"))
        .withColumn("step", lit(0L))
        .withColumn("vertex", col("start")),
      eager = false)
    val segments = scala.collection.mutable.ArrayBuffer[Lineage.Handle](cur)
    var out = cur.df

    for (step <- 1 to cfg.length) {
      // choice = md5("<seed>:<start>:<step>") as a 32-bit int, mod degree
      val h = conv(substring(
        md5(concat_ws(":", lit(cfg.seed), col("start"), lit(step))), 1, 8),
        16, 10).cast("long")
      val chosen = cur.df
        .join(degs.hint("shuffle_hash"), cur.df("vertex") === degs("v")) // sinks drop out
        .select(col("start"), pmod(h, col("deg")).as("choice"), col("vertex"))
      val next = Lineage.materialize(
        chosen.join(indexed,
            chosen("vertex") === indexed(SRC) &&
            chosen("choice") === indexed("idx"))
          .select(col("start"), lit(step.toLong).as("step"),
            indexed(DST).as("vertex")))
      segments += next
      out = out.union(next.df)
      cur = next
    }

    val result = Lineage.materialize(out)
    segments.foreach(_.release())
    indexed.unpersist()
    degs.unpersist()
    result.df
  }

  /**
   * Coalesced-path offsets for variable-length walks — reference
   * rw_path (`/root/reference/python/cugraph/cugraph/sampling/random_walks.py:107`,
   * kernel `rw_path_retrieval`): from per-path vertex counts, the
   * exclusive prefix-sum vertex/weight offsets and per-path weight
   * sizes (= size − 1). Input: (path id, size). The prefix sum is the
   * DenseRank two-phase shape — range-partition on path id, per-
   * partition totals (a numPartitions-row driver collect), partition-
   * local running sums — never a single-partition global window.
   */
  def pathOffsets(
      sizes: DataFrame,
      idCol: String = "path_id",
      sizeCol: String = "size",
      numPartitions: Int = 0): DataFrame = {
    val spark = sizes.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = Lineage.materialize(
      sizes.select(col(idCol).cast("long").as("path_id"),
          col(sizeCol).cast("long").as("sz"))
        .repartitionByRange(p, col("path_id"))
        .sortWithinPartitions(col("path_id"))
        .withColumn("__pid", spark_partition_id()))

    val totals = sorted.df.groupBy("__pid")
      .agg(sum("sz").as("v"), sum(col("sz") - 1).as("w")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val maxPid = if (totals.isEmpty) -1 else totals.keys.max
    var (accV, accW) = (0L, 0L)
    val offsetRows = (0 to maxPid).map { pid =>
      val row = (pid, accV, accW)
      val t = totals.getOrElse(pid, (0L, 0L))
      accV += t._1; accW += t._2
      row
    }
    import spark.implicits._
    val offsets = broadcast(offsetRows.toDF("__pid", "__voff", "__woff"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("path_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val out = sorted.df
      .join(offsets, Seq("__pid"), "left")
      .select(col("path_id"),
        (coalesce(sum("sz").over(w), lit(0L)) + coalesce(col("__voff"), lit(0L)))
          .as("vertex_offsets"),
        (col("sz") - 1).as("weight_sizes"),
        (coalesce(sum(col("sz") - 1).over(w), lit(0L)) +
          coalesce(col("__woff"), lit(0L))).as("weight_offsets"))
    val res = Lineage.materialize(out)
    sorted.release()
    res.df
  }
}
