package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one JSON result line last on stdout.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --data <catalog data dir> --catalog <catalog.json>
  * }}}
  *
  * Set-up runs from the JVM's start to the first timed unit: the session
  * with `GraftExtensions`, the relation-cache fill, and [[WarmUnits]]
  * untimed units at the workload's own scale. Making the inputs is the load
  * generator's cost and is left out. Then units run one at a time until
  * their walls add up to `--seconds`, and at least [[MinUnits]] of them.
  * With `--trace 1`, traced units (listener attached, layers split)
  * alternate with untraced ones, and the workload's own layer probes run
  * last.
  */
object Main {
  // The JIT is still speeding units up after three warm-up units; two more
  // shrink that drift in the timed ones.
  val WarmUnits = 5
  val MinUnits = 5
  private val MaxAttempts = 200

  def main(args: Array[String]): Unit = {
    // Exit explicitly: a thread the engine leaves behind must not keep the
    // process alive past its result, or past a failure.
    val code = try { run(args); 0 } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap.withDefault(k => throw new IllegalArgumentException(s"--$k is required"))
    val work = new File(opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    work.mkdirs()
    val workload = Workloads.make(opt("workload"), work, opt("seed").toLong,
      opt("data"), new File(opt("catalog")))

    val loadStart = loadavg()
    val (genS, _, _) = Workload.timed(workload.prepare())

    var attempted = 0
    var failed = 0
    def attempt(spark: SparkSession, counters: Option[EngineCounters]): Option[UnitRun] = {
      attempted += 1
      val jit0 = jitSeconds()
      val run = try Some(workload.runUnit(spark, counters)) catch {
        case NonFatal(e) => e.printStackTrace(); None
      }
      if (!run.exists(_.ok)) failed += 1
      run.map(u => if (counters.isEmpty) u
                   else u.copy(layers = u.layers + ("jvm.jit_s" -> (jitSeconds() - jit0))))
    }

    val spark = newSession(work)
    workload.fillCaches(spark)
    for (_ <- 0 until WarmUnits) attempt(spark, None)
    val setupS = (System.nanoTime() - jvmStartNs) / 1e9 - genS

    val plain = ArrayBuffer.empty[UnitRun]
    val traced = ArrayBuffer.empty[UnitRun]
    val heaps = ArrayBuffer.empty[Double]
    val counters = new EngineCounters(spark.sparkContext)
    def enough(runs: ArrayBuffer[UnitRun]) = runs.size >= MinUnits && runs.map(_.wall).sum >= seconds
    while ((!enough(plain) || (trace && traced.size < MinUnits)) && attempted < MaxAttempts) {
      attempt(spark, None).foreach(plain += _)
      heaps += heapAfterGcMb()
      if (trace) {
        counters.attach()
        attempt(spark, Some(counters)).foreach(traced += _)
        counters.detach()
      }
    }
    val probed = if (trace) workload.probeLayers(spark) else Map.empty[String, Double]
    spark.stop()

    System.out.println(f"# host nproc=${Runtime.getRuntime.availableProcessors} " +
      f"loadavg_start=$loadStart%.2f loadavg_end=${loadavg()}%.2f " +
      f"heap_max_mb=${Runtime.getRuntime.maxMemory / Metrics.MiB}%.0f input_gen_s=$genS%.3f " +
      f"setup_s=$setupS%.3f units=${plain.size} " +
      s"traced_units=${traced.size} queries=${plain.map(_.queryWalls.size).sum}")

    val values: Seq[(String, Double)] = if (!trace) {
      val queryWalls = plain.flatMap(_.queryWalls).toSeq
      Seq(
        "setup_s" -> setupS,
        "wall_s" -> Metrics.median(plain.map(_.wall).toSeq),
        "rows_per_s" -> Metrics.median(plain.map(u => u.rows / u.wall).toSeq),
        "query_s.p50" -> Metrics.median(queryWalls),
        "cpu_s" -> Metrics.median(plain.map(_.cpu).toSeq),
        "heap_after_mb" -> Metrics.median(heaps.toSeq))
    } else {
      val overhead = Metrics.median(traced.map(_.wall).toSeq) -
        Metrics.median(plain.map(_.wall).toSeq)
      Metrics.PerLayer.map { case (name, _) =>
        val perUnit = traced.flatMap(_.layers.get(name)).toSeq
        name -> (if (name == "trace.overhead_s") overhead
                 else if (perUnit.nonEmpty) Metrics.median(perUnit)
                 else probed.getOrElse(name, 0.0))
      }
    }
    val units = (if (trace) Metrics.PerLayer else Metrics.EndToEnd).toMap
    System.out.println(Metrics.resultJson(attempted, failed,
      values.map { case (n, v) => (n, units(n), v) }))
  }

  private def newSession(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadavg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Metrics.MiB
  }
}
