package graft

import org.apache.spark.sql.SparkSession

/** Catalog bench: runs every catalog query against SPARK_GRAFT_SF_DIR
  * (default sf0.1) and prints one JSON line with the total and the
  * per-query seconds. Each query is fully materialized via count() over
  * a cache-free plan, best of two runs.
  *
  * Warm-up: every query runs once at the smallest scale factor first
  * (sf0.001 when present, else the bench dir). The generated code for a
  * plan is identical across scale factors, so this drives Janino
  * compilation and HotSpot JIT of each fused stage on tiny data, and the
  * timed pass measures the work rather than one-time JVM warm-up.
  *
  * The repository's standing benchmark is `perfbench` (BENCHMARK.json);
  * this main is the catalog-wide timing pass.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val warmDir = {
      val d = new java.io.File("/root/testdata/sf0.001")
      if (d.isDirectory) d.getPath else sfDir
    }
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // Default 100-entry codegen class cache + 281-query catalog = LRU
      // thrash: every query re-run regenerates its stages as NEW classes
      // (fresh classloader each), so HotSpot recompiles from scratch and
      // dead nmethods pile up in the code cache. Size it to the catalog.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Local-iteration filter: comma-separated substring match,
    // e.g. SPARK_GRAFT_ONLY=q42,q110.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }

    // Warm-up: JVM/codegen/parquet-footer costs out of the measurements.
    // NonFatal only: after an OOM/LinkageError the JVM's state is
    // unreliable and every later "best of 2" would be garbage — abort.
    catalog.foreach { case (_, fn) =>
      try fn(spark, warmDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    // One query's cached, checkpointed and broadcast blocks and its
    // garbage must not weigh on the next query's timed run.
    def clearState(): Unit = {
      // Blocking, so checkpoint blocks are gone before the next run
      // allocates rather than piling up behind a lagging cleaner.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      // Broadcast blocks are not covered by the two calls above.
      val removed = org.apache.spark.graft.BenchInternals.removeAllBroadcasts()
      if (removed.nonEmpty)
        System.err.println(
          s"[bench] destroyed broadcasts: ${removed.mkString(",")}")
      System.gc()
    }

    // Wall seconds of one fresh run; -1 marks a failure, never a time.
    def sample(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
    : Double = {
      clearState()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e")
        -1.0
      }
    }

    val walls = catalog.map { case (name, fn) =>
      val ok = Seq(sample(name, fn), sample(name, fn)).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    println(line(sfDir, walls))
    spark.stop()
    if (walls.exists(_._2 < 0)) sys.exit(1)
  }

  /** The bench's one stdout line. `walls` holds each query's best wall in
    * seconds, or -1 for a query that failed every run. `value` sums only
    * the successful walls and `failed` counts the rest, so a broken query
    * never reads as a faster total. Walls are rounded to the millisecond
    * before they are summed, so `value` is exactly the sum of the printed
    * successful walls.
    */
  def line(sf: String, walls: Seq[(String, Double)]): String = {
    def str(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def ms(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val ok = walls.map(_._2).filter(_ >= 0)
    val queries = walls.map { case (k, v) => s"${str(k)}:${ms(v)}" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${ok.map(ms).foldLeft(ms(0))(_ + _)},"unit":"sec","sf":${str(sf)},""" +
      s""""n_queries":${walls.size},"failed":${walls.size - ok.size},"queries":$queries}"""
  }
}
