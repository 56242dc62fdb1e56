package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One completed stage: wall and executor times in ms (cpu in ns),
  * shuffle and spill sizes in bytes. */
final case class StageRow(id: Int, name: String, wallMs: Long, tasks: Int,
    shuffleRead: Long, shuffleWrite: Long, memorySpill: Long, diskSpill: Long,
    runMs: Long, cpuNs: Long, gcMs: Long)

/** The dev tools' stage listener, the local[] stand-in for the Spark UI
  * stage page: one row per stage completed since the last [[reset]], and
  * window totals as sums over those rows. The listener bus delivers
  * events asynchronously, so reads and resets drain it first: a window
  * holds exactly the stages of the work run inside it. */
final class StageListener private (sc: SparkContext) extends SparkListener {
  private val rows = new ConcurrentLinkedQueue[StageRow]

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val si = ev.stageInfo
    val tm = si.taskMetrics
    if (tm != null) rows.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(60),
      si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L), si.numTasks,
      tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
      tm.memoryBytesSpilled, tm.diskBytesSpilled,
      tm.executorRunTime, tm.executorCpuTime, tm.jvmGCTime))
  }

  /** Start a new window. */
  def reset(): Unit = { GraftListenerBus.drain(sc); rows.clear() }

  /** The stages completed in the current window. */
  def stages: Seq[StageRow] = { GraftListenerBus.drain(sc); rows.asScala.toSeq }

  /** A metric summed over the current window's stages. */
  def total(metric: StageRow => Long): Long = stages.map(metric).sum
}

object StageListener {
  def attach(spark: SparkSession): StageListener = {
    val l = new StageListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
