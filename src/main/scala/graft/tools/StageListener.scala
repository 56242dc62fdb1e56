package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One completed stage: `name` is the description of the job that ran
  * it (see [[StageListener]]), wall and executor times in ms (cpu in
  * ns), shuffle and spill sizes in bytes. */
final case class StageRow(id: Int, name: String, wallMs: Long, tasks: Int,
    shuffleRead: Long, shuffleWrite: Long, memorySpill: Long, diskSpill: Long,
    runMs: Long, cpuNs: Long, gcMs: Long)

/** The dev tools' stage listener, the local[] stand-in for the Spark UI
  * stage page: one row per stage completed since the last [[reset]], and
  * window totals as sums over those rows. The listener bus delivers
  * events asynchronously, so reads and resets drain it first: a window
  * holds exactly the stages of the work run inside it.
  *
  * A row is named after the job that submitted its stage: the job
  * description if one is set, else the description of the SQL execution
  * the job belongs to (the action's call site). Under adaptive execution
  * the stage's own name is useless: query stages are submitted from a
  * future, so every one of them is named after a `withThreadLocalCaptured`
  * closure at CompletableFuture.java. A stage no job describes keeps its
  * own name. */
final class StageListener private (sc: SparkContext) extends SparkListener {
  private val rows = new ConcurrentLinkedQueue[StageRow]
  private val sqlDescriptions = new ConcurrentHashMap[Long, String]
  // filled at job start, taken when the stage completes
  private val stageDescriptions = new ConcurrentHashMap[Int, String]

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart => sqlDescriptions.put(e.executionId, e.description)
    case e: SparkListenerSQLExecutionEnd => sqlDescriptions.remove(e.executionId)
    case _ =>
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit =
    Option(ev.properties).flatMap { p =>
      Option(p.getProperty("spark.job.description")).orElse(
        Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))
          .flatMap(id => Option(sqlDescriptions.get(id.toLong))))
    }.foreach(d => ev.stageIds.foreach(stageDescriptions.put(_, d)))

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val si = ev.stageInfo
    val tm = si.taskMetrics
    val name = Option(stageDescriptions.remove(si.stageId)).getOrElse(si.name)
    if (tm != null) rows.add(StageRow(si.stageId, name.takeWhile(_ != '\n').take(60),
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
