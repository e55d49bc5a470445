package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-shot growth-curve measurement (VERDICT r10 #4): replicate the
  * sf0.1 corpus 2x/4x/8x and run the heavy dedup/graph family (q110,
  * q121, q129, q158, q275) at each factor, recording wall seconds and
  * the structural counts that the "bucketed, never all-pairs" posture
  * predicts grow LINEARLY (candidate pairs, co-purchase edges). Fitted
  * exponents land in PLANS.md.
  *
  * Replica construction — DISJOINT replicas, i.e. SF growth at constant
  * structure (constant duplicate-rate, constant degree distribution):
  * new data arrives as new keys and new content, the same thing a
  * larger TPC-H SF or a month of new corpus does. Concretely, replica
  * i of:
  *   - documents: doc_id += i*10M; text passed through a per-replica
  *     character rotation (identity for i=0) so replica shingle
  *     universes are disjoint — WITHOUT rotation every doc gains r-1
  *     exact twins and the measurement degenerates to the adversarial
  *     duplicate-flood case (which `graft.shingle_df_cap`/LSH handle
  *     and PairSourceSpec covers separately, see PLANS.md). Rotation
  *     preserves token lengths, df distribution and n_chars within a
  *     replica, so per-replica workload shape is EXACTLY sf0.1's.
  *   - customer: c_custkey += i*10M, c_nationkey += i*100 — the
  *     nationkey rides q121's blocking key, so candidate blocks stay
  *     within-replica (same rationale: replicas are new customers, not
  *     copies of existing identities).
  *   - lineitem: l_orderkey += i*10M, l_partkey += i*1M — r disjoint
  *     co-purchase graphs, each with sf0.1's exact degree structure.
  *
  * Run: sbt "Test/runMain graft.GrowthCurves"
  */
object GrowthCurves {
  private val Base = "/root/testdata/sf0.1"
  private val Out = "/tmp/growth"
  private val Factors = Seq(1, 2, 4, 8)
  // Round 12 (VERDICT r11 #4) adds the curation/LSH family: q96, q105,
  // q151 — and with q151, the prefix-filter candidate count, the one
  // structural growth law of the family that was an argument rather
  // than a measured curve. SPARK_GRAFT_GROWTH_ONLY (comma substring
  // filter, like SPARK_GRAFT_ONLY) selects a subset for a focused run.
  // Round 13 (VERDICT r12 #4) adds q248 (earned a driver stability
  // flag in r12 — host-adjudicated, and a measured curve ends that
  // conversation) and q198 (golden-record composite, the last
  // checkpoint-heavy family member without a curve). Late round 13
  // adds q139/q196 alongside q105/q151 so every query reshaped by the
  // array-grain adoption carries a curve measured on its SHIPPED shape.
  // Round 14 adds q234: its A-priori placement was reshaped (the
  // frequent-pair semi-join now gates the third basket join —
  // ProbeQ234Prune, PLANS.md; probe code at commit 9916828), so it
  // carries a curve measured on the SHIPPED shape, plus the structural
  // count the bound predicts grows ~ r (apriori_triple_candidates: the
  // fully-pruned candidate rows).
  private val AllHeavies = Seq("q110_full_dedup", "q121_entity_resolution",
    "q129_triangle_count", "q158_neighbor_similarity",
    "q275_labelprop_settle",
    "q96_curation_pipeline", "q105_keeplist_lsh", "q151_prefix_filter_join",
    "q248_basket_fanout_audit", "q198_golden_record",
    "q139_minhash_calibration", "q196_containment_pairs",
    "q234_frequent_triples")
  private val only = sys.env.get("SPARK_GRAFT_GROWTH_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  private val Heavies = AllHeavies
    .filter(q => only.forall(_.exists(q.contains)))

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val alphabet = lower + lower.toUpperCase + "0123456789"
  private def rotated(i: Int): String = {
    def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
    rot(lower, i) + rot(lower.toUpperCase, i) + rot("0123456789", i)
  }

  private def replicate(base: DataFrame, r: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until r).map(i => f(base, i)).reduce(_ unionAll _)

  private def materialize(spark: SparkSession, r: Int): String = {
    val dir = s"$Out/x$r"
    if (new java.io.File(s"$dir/_DONE").exists()) return dir
    val docs = spark.read.parquet(s"$Base/documents.parquet")
    replicate(docs, r) { (d, i) =>
      d.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        (if (i == 0) col("text")
         else translate(col("text"), alphabet, rotated(i))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cust = spark.read.parquet(s"$Base/customer.parquet")
    replicate(cust, r) { (c, i) =>
      c.select(
        (col("c_custkey") + lit(i.toLong * 10000000L)).as("c_custkey"),
        col("c_name"),
        (col("c_nationkey") + lit(i * 100)).cast("int").as("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val li = spark.read.parquet(s"$Base/lineitem.parquet")
    replicate(li, r) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * 1000000L))
    }.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    new java.io.File(s"$dir/_DONE").createNewFile()
    dir
  }

  private def clearState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    org.apache.spark.graft.BenchInternals.removeAllBroadcasts()
    System.gc()
  }

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").getLines()
      .next().split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def timed(name: String, dir: String): (Double, Double, Double) = {
      clearState(spark)
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuWall = (osBean.getProcessCpuTime - cpu0) / 1e9 / wall
      (wall, cpuWall, loadavg())
    }

    val dirs = Factors.map(r => r -> (if (r == 1) Base
      else materialize(spark, r))).toMap
    println(s"[growth] replica dirs ready: $dirs")

    // Warmup (JIT): one pass of every heavy at x1.
    Heavies.foreach(q => timed(q, Base))

    val sb = new StringBuilder("[\n")
    Factors.foreach { r =>
      val dir = dirs(r)
      // Structural counts the linear-growth claim predicts ~ r. Each
      // count runs only when a selected heavy consumes it, so a
      // SPARK_GRAFT_GROWTH_ONLY-focused run doesn't pay for the others
      // (skipped counts record -1).
      def wants(qs: String*): Boolean =
        Heavies.exists(h => qs.exists(h.contains))
      clearState(spark)
      val docs = ops.TestData.table(spark, dir, "documents")
      val cand = if (wants("q110", "q105", "q96", "q198", "q139")) {
        val sh = ops.DedupOps.hashedShingles(docs)
          .localCheckpoint(eager = true)
        ops.DedupOps.jaccardPairsFromHashed(sh).count()
      } else -1L
      clearState(spark)
      // q151's structural law (round 12): prefix-collision candidate
      // pairs — the prefix-filter bound predicts ~ r (per-replica
      // disjoint shingle universes; high-df tokens pushed out of
      // prefixes), never r^2.
      val preCand = if (wants("q151", "q196")) {
        val sh2 = ops.DedupOps.hashedShingles(docs)
          .localCheckpoint(eager = true)
        ops.DedupOps.prefixFilterCandidates(sh2).count()
      } else -1L
      clearState(spark)
      val coEdges = if (wants("q129", "q158", "q275", "q248"))
        ops.WarehouseOps.coPurchasePairs(spark, dir).count() else -1L
      clearState(spark)
      val repEdges = if (wants("q275"))
        ops.WarehouseOps.repeatCoPurchasePairs(spark, dir).count() else -1L
      clearState(spark)
      // q234's structural law (round 14): fully-pruned A-priori triple
      // candidates — the early-prune placement predicts ~ r (disjoint
      // replica part universes keep frequent pairs within-replica).
      val apCand = if (wants("q234"))
        ops.WarehouseOps.aprioriTripleParts(spark, dir)._2.count() else -1L
      val walls = Heavies.map { q =>
        val s1 = timed(q, dir); val s2 = timed(q, dir)
        val best = Seq(s1, s2).minBy(_._1)
        println(f"[growth] x$r $q walls=${s1._1}%.2f/${s2._1}%.2f " +
          f"cpu_wall=${best._2}%.1f loadavg=${best._3}%.1f")
        q -> Seq(s1, s2)
      }
      def wjson(ws: Seq[(String, Seq[(Double, Double, Double)])]) =
        ws.map { case (q, ss) =>
          s""""$q":{"walls":[${ss.map(s => f"${s._1}%.3f").mkString(",")}],""" +
            s""""cpu_wall":[${ss.map(s => f"${s._2}%.2f").mkString(",")}],""" +
            s""""loadavg":[${ss.map(s => f"${s._3}%.2f").mkString(",")}]}"""
        }.mkString(",")
      sb ++= s"""{"factor":$r,"jaccard_candidates":$cand,""" +
        s""""prefix_candidates":$preCand,""" +
        s""""copurchase_edges":$coEdges,"repeat_edges":$repEdges,""" +
        s""""apriori_triple_candidates":$apCand,""" +
        s""""default":{${wjson(walls)}}}""" +
        (if (r == Factors.last) "\n" else ",\n")
    }
    sb ++= "]"
    val out = "/tmp/growth/curves.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes)
    println(s"[growth] wrote $out")
    println(sb.toString)
    spark.stop()
  }
}
