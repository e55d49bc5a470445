package perfbench

import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.TestData

/** One pass over a frozen list of catalog queries: for each, the frame
  * build `SparkEntry.queries(name)(spark, dir)` and its `count()`, checked
  * against the row count recorded for it. Cached data and broadcasts are
  * dropped between queries, outside the timed window, so no query runs on
  * another's state.
  */
final class CatalogWorkload(dataDir: String, queries: Seq[(String, Long)])
    extends Workload {
  import Workload._

  private val fns = SparkEntry.queries
  require(queries.forall(q => fns.contains(q._1)),
    s"unknown queries: ${queries.map(_._1).filterNot(fns.contains).mkString(",")}")

  /** The relation cache that catalog queries read through. */
  override def fillCaches(spark: SparkSession): Unit =
    CatalogWorkload.Tables.foreach(TestData.table(spark, dataDir, _))

  private def dropState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    Internals.removeBroadcasts()
  }

  def runUnit(spark: SparkSession, counters: Option[EngineCounters]): UnitRun = {
    counters.foreach(_.reset())
    val runs = queries.map { case (name, expected) =>
      dropState(spark)
      val run = if (counters.isEmpty) {
        val (wall, cpu, n) = timed(fns(name)(spark, dataDir).count())
        QueryRun(wall, cpu, n)
      } else {
        // count() is groupBy().count() collected; split it so planning
        // and execution are timed apart.
        val c0 = cpuSeconds()
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = fns(name)(spark, dataDir)
        val t1 = System.nanoTime()
        val buildEndMs = System.currentTimeMillis()
        val counted = df.groupBy().count()
        counted.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val n = counted.collect().head.getLong(0)
        val t3 = System.nanoTime()
        QueryRun((t3 - t0) / 1e9, cpuSeconds() - c0, n,
          (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (startMs, buildEndMs))
      }
      (run, run.rows == expected)
    }
    val walls = runs.map(_._1.wall)
    val layers = counters.fold(Map.empty[String, Double]) { c =>
      val t = c.read()
      val buildJobs = t.jobIntervalsMs.count { case (s, _) =>
        runs.exists { case (r, _) => s >= r.buildWindowMs._1 && s <= r.buildWindowMs._2 }
      }
      engineLayers(t) ++ Map(
        "ops.build_s" -> runs.map(_._1.build).sum,
        "ops.build_jobs" -> buildJobs.toDouble,
        "plans.plan_s" -> runs.map(_._1.plan).sum,
        "ops.exec_s" -> runs.map(_._1.exec).sum,
        "ops.driver_gap_s" -> (walls.sum - t.jobBusyMs / 1e3))
    }
    UnitRun(walls.sum, runs.map(_._1.cpu).sum, runs.map(_._1.rows).sum, walls,
      runs.forall(_._2), layers)
  }
}

/** One query's timings; the split fields are filled only when traced. */
private final case class QueryRun(
    wall: Double, cpu: Double, rows: Long,
    build: Double = 0, plan: Double = 0, exec: Double = 0,
    buildWindowMs: (Long, Long) = (0L, -1L))

object CatalogWorkload {
  val Tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")
}
