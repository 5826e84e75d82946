package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.algos.PageRank
import graft.checkpoint.CheckpointManager
import graft.core.Superstep

/** The commit layer: what one commit costs in Spark jobs, what its
 * manifest records, and that torn and failed commits are handled. */
class CheckpointSpec extends SparkSpec {

  /** Job groups of the jobs `f` starts, in start order. */
  private def jobGroups(f: => Unit): Seq[String] =
    listen(f)._2.map(e =>
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)

  private def state(): DataFrame =
    spark.range(0, 1000, 1, 3).selectExpr("id", "id % 7 AS label")

  test("a commit is one job in the caller's job group; the manifest records rows and data files") {
    val dir = Files.createTempDirectory("graft-ckpt-commit").toString
    val cm = new CheckpointManager(dir, spark)
    val sc = spark.sparkContext
    // The first commit starts the commit thread outside any job group,
    // so the second one's group must be handed over, not inherited.
    cm.commit("algo", 1, state(), Map.empty)
    cm.flush()
    sc.setJobGroup("ckpt-spec", "commit")
    val groups =
      try jobGroups { cm.commit("algo", 2, state(), Map("changed" -> 3.0)); cm.flush() }
      finally sc.clearJobGroup()
    assert(groups == Seq("ckpt-spec"))

    val m = parse(cm.manifestJson("algo", 2))
    assert((m \ "rows") == JInt(1000))
    assert((m \ "metrics" \ "changed") == JDouble(3.0))
    val data = new Path(dir, "algo/iter=00002/data")
    val fs = data.getFileSystem(sc.hadoopConfiguration)
    val onDisk = fs.listStatus(data).filter(_.getPath.getName.startsWith("part-"))
      .map(st => st.getPath.getName -> BigInt(st.getLen)).toMap
    val JArray(parts) = m \ "partitions": @unchecked
    val listed = parts.map { p =>
      val (JString(f), JInt(b)) = (p \ "file", p \ "bytes"): @unchecked
      f -> b
    }.toMap
    assert(listed.size == parts.size && listed == onDisk && onDisk.nonEmpty)
  }

  test("restore starts no job until an action runs, with the committed schema") {
    val dir = Files.createTempDirectory("graft-ckpt-restore").toString
    val cm = new CheckpointManager(dir, spark)
    cm.commit("algo", 2, state(), Map.empty)
    cm.flush()
    var restored: DataFrame = null
    assert(jobGroups { restored = cm.restore("algo", 2) }.isEmpty)
    val inferred = spark.read.parquet(new Path(dir, "algo/iter=00002/data").toString)
    assert(restored.schema == inferred.schema)
    assert(restored.collect().toSet == state().collect().toSet)
  }

  test("a step directory without a whole manifest is a torn commit and is ignored") {
    val dir = Files.createTempDirectory("graft-ckpt-torn").toString
    val cm = new CheckpointManager(dir, spark)
    cm.commit("algo", 1, state(), Map.empty, "fp")
    cm.flush()
    val committed = cm.manifestJson("algo", 1)
    // No manifest, an empty one, and one cut off mid-write.
    for ((it, manifest) <- Seq(2 -> None, 3 -> Some(""),
        4 -> Some(committed.take(committed.length / 2)))) {
      val step = Paths.get(dir, "algo", f"iter=$it%05d")
      state().write.parquet(step.resolve("data").toString)
      manifest.foreach(m => Files.write(step.resolve("manifest.json"),
        m.getBytes(StandardCharsets.UTF_8)))
    }
    assert(cm.latestIteration("algo").contains(1))
    assert(cm.latestIteration("algo", "fp").contains(1))
    assert(!Files.exists(Paths.get(dir, "algo", "iter=00001", "manifest.json.tmp")))
  }

  test("a committed state of another schema is not resumed under the same name and graph") {
    val dir = Files.createTempDirectory("graft-ckpt-schema").toString
    val cm = new CheckpointManager(dir, spark)
    val g = graphOf(loadFixture("karate"))
    val ids = g.vertices.repartition(g.numPartitions, col("id"))
    val asLong = ids.select(col("id"), col("id").as("x"))
    val asDouble = ids.select(col("id"), col("id").cast("double").as("x"))
    // Supersteps run by a loop that commits every one and never converges.
    def supersteps(init: DataFrame, maxIter: Int): Int = {
      val r = Superstep.run(g, "algo", maxIter, Some(cm))(init,
        step = (st, _) => st,
        check = (next, _) => { next.count(); (false, Map.empty[String, Double]) })
      r.state.release()
      r.iterations
    }
    assert(supersteps(asLong, 3) == 3)
    // Same name, graph and extras, (id, x: double): superstep 3 of the
    // (id, x: long) run is not resumed; the run starts from its init.
    assert(supersteps(asDouble, 2) == 2)
    assert(cm.latestIteration("algo").contains(3))
    // The format that committed it resumes from it.
    assert(supersteps(asLong, 4) == 4)
    assert(cm.latestIteration("algo",
      Superstep.fingerprint(cm, g, "algo", Nil, asLong)).contains(4))
  }

  test("a superstep loop that throws leaves no commit in flight") {
    val file = Files.createTempFile("graft-ckpt-root", ".file")
    val cm = new CheckpointManager(file.toString, spark)
    val e = intercept[IllegalStateException] {
      CheckpointManager.committing(Some(cm)) {
        cm.commit("algo", 1, state(), Map.empty)
        throw new IllegalStateException("superstep failed")
      }
    }
    // The failed commit is reported with the loop's failure, not left
    // for the next run on this manager to rethrow.
    assert(e.getSuppressed.length == 1)
    cm.flush()
  }

  test("a commit whose write fails makes the algorithm's run throw") {
    val file = Files.createTempFile("graft-ckpt-root", ".file")
    val cm = new CheckpointManager(file.toString, spark)
    val g = graphOf(loadFixture("karate"))
    intercept[Exception] {
      PageRank.run(g, PageRank.Config(maxIter = 3, checkpointEvery = 1,
        checkpoint = Some(cm)))
    }
    assert(Files.isRegularFile(file))
  }
}
