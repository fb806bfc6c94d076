package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's Spark-side instrument: a listener owned by the
  * benchmark that keeps every job interval and sums stage and task metrics.
  * Counters are cumulative; the runner reads them before and after each
  * query, after draining the listener bus, so each query gets its own
  * deltas. Queries run one at a time, so every job that starts inside a
  * query's window belongs to that query.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  private val finished = mutable.ArrayBuffer.empty[Interval]
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()

  val jobs, stages, tasks = new AtomicLong()
  val cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill, queueMs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = jobStarts.remove(e.jobId)
    finished.synchronized { finished += Interval(start, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val submitted = stageSubmit.get(e.stageId)
    if (submitted > 0L) queueMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageSubmit.remove(si.stageId)
    stages.incrementAndGet()
    tasks.addAndGet(si.numTasks)
    val m = si.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)

  /** Jobs that started inside `w`, clipped to it. */
  def jobsIn(w: Interval): Seq[Interval] = finished.synchronized {
    finished.toSeq.filter(j => j.start >= w.start && j.start <= w.end)
      .map(j => Interval(j.start, math.min(j.end, w.end)))
  }

  /** Forgets finished jobs, once a query's share has been read. */
  def clearJobs(): Unit = finished.synchronized { finished.clear() }

  /** Snapshot of the cumulative counters. */
  def counters: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get, "gc_ms" -> gcMs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get, "queue_ms" -> queueMs.get)
}

object Trace {

  /** A closed time interval in epoch milliseconds. */
  final case class Interval(start: Long, end: Long) {
    def length: Long = math.max(0L, end - start)
  }

  /** Total length covered by the union of `xs`. */
  def unionLength(xs: Seq[Interval]): Long = {
    var total, curStart, curEnd = 0L
    var open = false
    xs.filter(_.length > 0).sortBy(_.start).foreach { i =>
      if (open && i.start <= curEnd) curEnd = math.max(curEnd, i.end)
      else {
        if (open) total += curEnd - curStart
        curStart = i.start; curEnd = i.end; open = true
      }
    }
    if (open) total += curEnd - curStart
    total
  }
}
