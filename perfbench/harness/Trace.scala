package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-span Spark accounting for the traced run. The harness tags every
  * span's jobs with a job group (`SparkContext.setJobGroup`); this
  * listener folds job, stage and task events into per-group totals and
  * keeps job intervals, materialised RDD blocks and the physical operator
  * names of every SQL execution, so a span's work is read back after a
  * fence job has drained the listener bus. Installed only when tracing. */
class Trace extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L
  }

  private val groups = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  /** (group, start ms, end ms) of every finished job. */
  val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** (time ms, operator names) of every SQL execution started. */
  val plans = mutable.ArrayBuffer.empty[(Long, Set[String])]
  private val seenBlocks = mutable.Set.empty[String]
  @volatile var rddBlocks = 0L
  @volatile var fences = 0L

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")

  def agg(g: String): Agg = synchronized(groups.getOrElseUpdate(g, new Agg))

  def snapshot(): Map[String, Agg] = synchronized(groups.toMap)

  def reset(): Unit = synchronized {
    groups.clear(); intervals.clear(); plans.clear(); rddBlocks = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobStart(e.jobId) = (g, e.time)
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      intervals += ((g, t0, e.time))
      if (g == Trace.Fence) fences += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    agg(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid &&
        seenBlocks.add(info.blockId.name)) rddBlocks += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      plans += ((s.time, Trace.nodeNames(s.sparkPlanInfo)))
    }
    case _ =>
  }
}

object Trace {
  val Fence = "__fence"

  def nodeNames(p: SparkPlanInfo): Set[String] =
    p.children.foldLeft(Set(p.nodeName))(_ ++ nodeNames(_))
}
