package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAccumulator}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark totals of one operation, as deltas of the session-wide counters. */
final case class SparkTotals(taskS: Double, cpuS: Double, gcS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    jobs: Long, stages: Long, tasks: Long, actions: Long, driverS: Double)

/** What one timed operation cost, measured from outside the program. */
final case class OpStats(wallS: Double, startEpochNs: Long, endEpochNs: Long,
    spark: SparkTotals, peakHeapMb: Double)

/** A named interval recorded around a call into one of the program's
  * layers; `parent` is the index of the enclosing span, -1 at the top. */
final case class Span(name: String, parent: Int, startNs: Long, endNs: Long)

/** Counters the benchmark registers on the session: a SparkListener for
  * task, stage and job totals, a QueryExecutionListener for DataFrame
  * actions, and a GC notification listener for the live heap after each
  * collection. Counters are read as deltas around one operation, after
  * the listener bus has drained. Spans are kept only when tracing. */
final class Telemetry(spark: SparkSession, val tracing: Boolean) {
  private val taskNs, cpuNs, gcMs, shRead, shWrite, spill =
    new AtomicLong
  private val jobs, stages, tasks, actions = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobStart.put(e.jobId, System.nanoTime())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) jobIntervals.add((s.longValue, System.nanoTime()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskNs.addAndGet(m.executorRunTime * 1000000L)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      actions.incrementAndGet()
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      actions.incrementAndGet()
  })

  // Heap in use right after each collection is the live heap plus
  // whatever garbage that collection did not reach; its maximum over an
  // operation, and the live heap after a full collection at its end
  // (an operation may run without any collection), is the operation's
  // peak live heap.
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val maxAfterGc = new DoubleAccumulator((a, b) => math.max(a, b), 0.0)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            maxAfterGc.accumulate(used.toDouble)
          }
      }, null, null)
    case _ =>
  }

  private def liveHeapAfterFullGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
  }

  private def counters() = Array(taskNs.get, cpuNs.get, gcMs.get, shRead.get,
    shWrite.get, spill.get, jobs.get, stages.get, tasks.get, actions.get)

  private def drain(): Unit = org.apache.spark.perfbenchbridge.ListenerBus.drain(spark)

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Run `body` as one timed operation. A full collection beforehand
    * starts every operation from the same heap; the wall clock covers
    * only `body`. */
  def op[T](body: => T): (T, OpStats) = {
    System.gc()
    drain()
    jobIntervals.clear()
    val before = counters()
    maxAfterGc.reset()
    val startEpoch = epochNs()
    val t0 = System.nanoTime()
    val out = body
    val t1 = System.nanoTime()
    val endEpoch = epochNs()
    val liveAtEnd = liveHeapAfterFullGc()
    drain()
    val d = counters().zip(before).map { case (a, b) => a - b }
    // job intervals merged, then subtracted from the wall time: what is
    // left is driver-side work (planning, collects, file commits)
    val covered = jobIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (s >= end) (acc + (e - s), e)
        else if (e > end) (acc + (e - end), e)
        else (acc, end)
      }._1
    val peak = math.max(maxAfterGc.get, liveAtEnd)
    System.err.println(f"[perfbench] op ${(t1 - t0) / 1e9}%.3f s, peak heap ${peak / 1048576}%.1f MB")
    val mb = 1024.0 * 1024.0
    (out, OpStats((t1 - t0) / 1e9, startEpoch, endEpoch,
      SparkTotals(d(0) / 1e9, d(1) / 1e9, d(2) / 1e3, d(3) / mb, d(4) / mb, d(5) / mb,
        d(6), d(7), d(8), d(9), ((t1 - t0) - covered) / 1e9),
      peak / mb))
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = -1

  /** Record `body` as a span when tracing; run it plainly otherwise. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val idx = spans.length
      val parent = open
      spans += Span(name, parent, System.nanoTime(), 0L)
      open = idx
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        open = parent
      }
    }

  def recordedSpans: Seq[Span] = spans.toSeq
}

object Telemetry {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-operation Spark totals as per-layer metrics: the median of each
    * counter over `ops`. */
  def sparkLayers(ops: Seq[OpStats]): Seq[(String, Double, String)] = {
    def m(f: SparkTotals => Double) = median(ops.map(o => f(o.spark)))
    Seq(
      ("spark.task_s", m(_.taskS), "s"),
      ("spark.cpu_s", m(_.cpuS), "s"),
      ("spark.gc_s", m(_.gcS), "s"),
      ("spark.shuffle_read_mb", m(_.shuffleReadMb), "MB"),
      ("spark.shuffle_write_mb", m(_.shuffleWriteMb), "MB"),
      ("spark.spill_mb", m(_.spillMb), "MB"),
      ("spark.jobs", m(_.jobs.toDouble), "count"),
      ("spark.stages", m(_.stages.toDouble), "count"),
      ("spark.tasks", m(_.tasks.toDouble), "count"),
      ("spark.actions", m(_.actions.toDouble), "count"),
      ("spark.driver_s", m(_.driverS), "s"))
  }
}
