package linkbench

import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What Spark did for one job group (one public engine call). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
}

/**
 * Attributes jobs, stages and task metrics to the job group that was set
 * on the driver when the work was submitted. The benchmark sets one group
 * per public engine call ([[Rep.layer]]), so each layer's stages, tasks
 * and bytes land under that layer's name with no spans inside the engine.
 */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val groups = mutable.HashMap[String, GroupStats]()

  // SparkContext.SPARK_JOB_GROUP_ID, which is private to Spark.
  private val GroupKey = "spark.jobGroup.id"

  private def groupOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(GroupKey)))

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(g => stats(g).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      stats(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(g)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  /** Per-group totals; waits for the bus first. */
  def totals(sc: SparkContext): Map[String, GroupStats] = {
    org.apache.spark.LinkBenchBus.drain(sc)
    synchronized(groups.toMap)
  }
}

object Jvm {
  /** Collection time of every collector, in seconds. In local mode the
   * driver and the executors share this JVM, so a delta around a call is
   * the GC that call caused. */
  def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }

  def loadAvg1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** High-water resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))
    finally src.close()
  }
}
