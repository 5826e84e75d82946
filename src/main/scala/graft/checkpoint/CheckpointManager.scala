package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutionException, Future, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Lineage

/**
 * Iceberg-style checkpoint/resume layer: Parquet data files plus a JSON
 * manifest per superstep carrying iteration metrics, the state schema,
 * the row total and the bytes of each data file. The real Iceberg
 * runtime jar is not available offline, so this implements the same
 * snapshot+manifest contract on plain files; swap for Iceberg commits
 * when the jar exists.
 *
 * Layout: {root}/{algo}/iter={n}/data/ (parquet files)
 *         {root}/{algo}/iter={n}/manifest.json   (written last = commit)
 *
 * The manifest is written to a temporary name and renamed into place,
 * so it is either whole or absent. A superstep directory without a
 * manifest.json that parses is an uncommitted torn write and is
 * ignored on resume.
 *
 * A commit is one Spark job (the write, whose row total is observed on
 * the write itself) and runs on this manager's commit thread, so it
 * overlaps the caller's next superstep. At most one commit is in
 * flight: [[commit]] first waits for the previous one, and [[flush]]
 * waits for it and rethrows its failure. A superstep loop runs inside
 * [[CheckpointManager.committing]], so no commit outlives it, and
 * releases a state through [[CheckpointManager.release]], so no
 * commit still reads it. Commits are issued from one driver thread.
 */
final class CheckpointManager(val root: String, spark: SparkSession) {

  // Hadoop FS API, not java.nio: the checkpoint root may be HDFS / S3A
  // / any Hadoop-supported scheme on a real cluster; plain local paths
  // resolve to the local FS in the sandbox.
  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stepDir(algo: String, iter: Int): Path =
    new Path(new Path(root, algo), f"iter=$iter%05d")

  // One daemon thread, retired when idle so an unused manager holds none.
  private val committer = {
    val pool = new ThreadPoolExecutor(1, 1, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-checkpoint-commit")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }
  private var inFlight: Option[Future[_]] = None

  // The caller's job group and description (SparkContext.setJobGroup's
  // keys, private to Spark): the commit's stages stay attributed to it.
  private val jobProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /**
   * Commit one superstep in the background: data first, manifest last.
   * Waits for (and rethrows the failure of) the previous commit first.
   * `state` must stay computable until the next [[flush]].
   */
  def commit(
      algo: String,
      iter: Int,
      state: DataFrame,
      metrics: Map[String, Double],
      fingerprint: String = ""): Unit = {
    flush()
    val sc = spark.sparkContext
    val props = jobProps.map(k => k -> sc.getLocalProperty(k))
    val task: Runnable = () => {
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      write(algo, iter, state, metrics, fingerprint)
    }
    inFlight = Some(committer.submit(task))
  }

  /** Wait for the in-flight commit, if any; rethrow its failure. */
  def flush(): Unit = inFlight.foreach { f =>
    inFlight = None
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }
  }

  private def write(
      algo: String,
      iter: Int,
      state: DataFrame,
      metrics: Map[String, Double],
      fingerprint: String): Unit = {
    val dir = stepDir(algo, iter)
    val dataDir = new Path(dir, "data")
    val mPath = new Path(dir, "manifest.json")
    // Re-committing a step: uncommit it before its data is replaced.
    fs(mPath).delete(mPath, false)
    val observed = new Observation()
    state.observe(observed, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dataDir.toString)

    val files = fs(dataDir).listStatus(dataDir)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val manifest =
      ("algo" -> algo) ~
      ("iteration" -> iter) ~
      ("fingerprint" -> fingerprint) ~
      ("schema" -> state.schema.json) ~
      ("rows" -> observed.get("rows").asInstanceOf[Long]) ~
      // bare NaN/Infinity is invalid JSON
      ("metrics" -> metrics.map { case (k, v) =>
        k -> (if (v.isNaN || v.isInfinite) JNull else JDouble(v)) }) ~
      ("partitions" -> files.toList.map(st =>
        ("file" -> st.getPath.getName) ~ ("bytes" -> st.getLen)))
    val tmp = new Path(dir, "manifest.json.tmp")
    val out = fs(tmp).create(tmp, true)
    try out.write(compact(render(manifest)).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs(tmp).rename(tmp, mPath))
      throw new java.io.IOException(s"could not commit $mPath")
  }

  /** Latest committed iteration for `algo`, if any. When `fingerprint`
   * is non-empty, only manifests committed with the SAME fingerprint
   * count — a checkpoint root reused for a different graph / source
   * set / config is ignored instead of silently resuming stale state
   * into wrong results. */
  def latestIteration(algo: String, fingerprint: String = ""): Option[Int] = {
    val d = new Path(root, algo)
    val f = fs(d)
    if (!f.exists(d) || !f.getFileStatus(d).isDirectory) return None
    val iters = f.listStatus(d).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("iter="))
      .map(_.stripPrefix("iter=").toInt)
      .filter(it => committed(algo, it).exists(m =>
        fingerprint.isEmpty || (m \ "fingerprint") == JString(fingerprint)))
    if (iters.isEmpty) None else Some(iters.max)
  }

  /** The manifest of (algo, iter), if one was committed: None when it is
   * absent or does not parse (a torn write by an in-place writer). */
  private def committed(algo: String, iter: Int): Option[JValue] = {
    val mPath = new Path(stepDir(algo, iter), "manifest.json")
    if (!fs(mPath).exists(mPath)) None
    else scala.util.Try(parse(manifestJson(algo, iter))).toOption
  }

  /** Re-open the committed state of (algo, iter), with the schema the
   * manifest records (no inference job). */
  def restore(algo: String, iter: Int): DataFrame = {
    val JString(schema) = parse(manifestJson(algo, iter)) \ "schema": @unchecked
    spark.read.schema(DataType.fromJson(schema).asInstanceOf[StructType])
      .parquet(new Path(stepDir(algo, iter), "data").toString)
  }

  /** Order-independent fingerprint of a run's inputs: edge-set hash +
   * row count + caller extras (sources, key config). One aggregation
   * over the (usually cached) edge table, computed once per run; the
   * cost buys refusal to resume a checkpoint of a DIFFERENT graph. */
  def graphFingerprint(edges: DataFrame, extras: String*): String = {
    val cols = edges.columns.sorted.map(col)
    val r = edges
      .agg(count(lit(1)).as("n"),
        sum(hash(cols: _*).cast("long")).as("h"))
      .head()
    val n = r.getLong(0)
    val h = if (r.isNullAt(1)) 0L else r.getLong(1)
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$n:$h:${extras.mkString(":")}"
        .getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  def manifestJson(algo: String, iter: Int): String = {
    val mPath = new Path(stepDir(algo, iter), "manifest.json")
    val in = fs(mPath).open(mPath)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }
}

object CheckpointManager {

  /** Run a superstep loop that commits through `cm`. No commit outlives
   * it: on return its last commit is flushed (a failure rethrown); when
   * `loop` throws, the in-flight commit is still awaited and its
   * failure is added to the loop's as suppressed. */
  def committing[T](cm: Option[CheckpointManager])(loop: => T): T = {
    val out =
      try loop
      catch {
        case e: Throwable =>
          cm.foreach(m => try m.flush() catch { case c: Throwable => e.addSuppressed(c) })
          throw e
      }
    cm.foreach(_.flush())
    out
  }

  /** Release `state` once no commit of `cm` can still be writing it: a
   * released `localCheckpoint`ed state cannot be recomputed. */
  def release(cm: Option[CheckpointManager], state: Lineage.Handle): Unit = {
    cm.foreach(_.flush())
    state.release()
  }
}
