package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._

/** Totals of the engine's own task and job metrics over one window. */
final case class EngineTotals(
    jobs: Int,
    tasks: Int,
    taskSeconds: Double,
    maxTaskSeconds: Double,
    gcSeconds: Double,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    outputBytes: Long,
    jobIntervalsMs: Seq[(Long, Long)]) {

  /** Milliseconds covered by at least one job (overlaps counted once). */
  def jobBusyMs: Long = {
    var busy = 0L
    var end = Long.MinValue
    for ((s, e) <- jobIntervalsMs.sortBy(_._1)) {
      if (e > end) { busy += e - math.max(s, end); end = e }
    }
    busy
  }
}

/** The benchmark's own listener: counts what the engine did between
  * [[reset]] and [[read]]. Attached only in traced runs; untraced runs
  * carry no listener.
  */
final class EngineCounters(sc: SparkContext) extends SparkListener {
  private var jobs = 0
  private var tasks = 0
  private var taskMs = 0L
  private var maxTaskMs = 0L
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private var input = 0L
  private var output = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  def attach(): this.type = { sc.addSparkListener(this); this }
  def detach(): Unit = sc.removeSparkListener(this)

  def reset(): Unit = {
    Internals.drainListeners(sc)
    synchronized {
      jobs = 0; tasks = 0; taskMs = 0; maxTaskMs = 0; gcMs = 0
      shuffleWrite = 0; spill = 0; input = 0; output = 0
      jobStart.clear(); intervals.clear()
    }
  }

  def read(): EngineTotals = {
    Internals.drainListeners(sc)
    synchronized {
      EngineTotals(jobs, tasks, taskMs / 1e3, maxTaskMs / 1e3, gcMs / 1e3,
        shuffleWrite, spill, input, output, intervals.toSeq)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }
}
