package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One timed unit of work, with what its untimed output check found.
  * `queryWalls` holds the walls of the unit's queries: one per catalog
  * query, or the whole unit for an ETL job. `layers` is filled only when
  * the unit ran traced.
  */
final case class UnitRun(
    wall: Double,
    cpu: Double,
    rows: Long,
    queryWalls: Seq[Double],
    ok: Boolean,
    layers: Map[String, Double])

/** A workload: inputs made from the seed, and a unit of work that calls
  * the program's public entry points. A closed loop: one unit at a time,
  * each starting when the previous one's check has finished.
  */
trait Workload {
  /** Makes the inputs. Not part of set-up: it is the load generator's cost. */
  def prepare(): Unit = ()

  /** Set-up work beyond building the session, such as filling caches. */
  def fillCaches(spark: SparkSession): Unit = ()

  /** Runs one unit, then checks its output outside the timed window.
    * With `counters`, the unit is split into layers.
    */
  def runUnit(spark: SparkSession, counters: Option[EngineCounters]): UnitRun

  /** Traced runs only: layer measurements that need extra passes of their
    * own, such as the ETL prefix ladder.
    */
  def probeLayers(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** (wall seconds, process CPU seconds, result) of `body`. */
  def timed[T](body: => T): (Double, Double, T) = {
    val c0 = cpuSeconds()
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, cpuSeconds() - c0, r)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** The data files (`part-*`) under `dir`. */
  def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles.toSeq.flatMap(dataFiles)
    else if (dir.getName.startsWith("part-")) Seq(dir) else Nil

  /** Engine counters as per-layer metrics. */
  def engineLayers(t: EngineTotals): Map[String, Double] = Map(
    "spark.jobs" -> t.jobs.toDouble,
    "spark.tasks" -> t.tasks.toDouble,
    "spark.task_s" -> t.taskSeconds,
    "spark.max_task_s" -> t.maxTaskSeconds,
    "spark.gc_s" -> t.gcSeconds,
    "spark.shuffle_write_mb" -> t.shuffleWriteBytes / Metrics.MiB,
    "spark.spill_mb" -> t.spillBytes / Metrics.MiB,
    "spark.input_mb" -> t.inputBytes / Metrics.MiB,
    "spark.output_mb" -> t.outputBytes / Metrics.MiB)
}
