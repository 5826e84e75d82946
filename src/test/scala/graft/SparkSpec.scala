package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LinkGraph

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Load a reference dataset fixture (space-separated `src dst weight`,
   * directed rows, both directions present for undirected graphs) from
   * test resources. Shapes documented in FIXTURES.md §3. */
  def loadFixture(name: String): Seq[(Long, Long, Double)] = {
    val in = getClass.getResourceAsStream(s"/datasets/$name.csv")
    require(in != null, s"missing fixture $name")
    val src = scala.io.Source.fromInputStream(in)
    try src.getLines().filter(_.trim.nonEmpty).map { line =>
      val p = line.trim.split("\\s+")
      (p(0).toLong, p(1).toLong, if (p.length > 2) p(2).toDouble else 1.0)
    }.toList
    finally src.close()
  }

  /** `run`'s result, the jobs it starts (in start order) and the number
   * of stages it submits, read by a SparkListener that sees every event
   * of the call. */
  def listen[T](run: => T): (T, Seq[SparkListenerJobStart], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    val out = try { val r = run; ListenerBusDrain(sc); r }
    finally sc.removeSparkListener(l)
    (out, jobs.asScala.toSeq, stages.get)
  }

  def graphOf(edges: Seq[(Long, Long, Double)], parts: Int = 4): LinkGraph = {
    val s = spark
    import s.implicits._
    LinkGraph.fromEdges(
      edges.toDF("src", "dst", "weight"), "src", "dst", Some("weight"),
      directed = true, numPartitions = parts)
  }
}
