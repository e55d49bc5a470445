package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Testdata table loaders plus the deterministic "bank" frame: a synthetic
  * 17-column banking input derived arithmetically from `customer`, hosting
  * the reference's record-level semantics on driver testdata (SURVEY.md
  * §7.3). The same derivation exists as DuckDB SQL (`bankCte`) so every
  * hosted query has an oracle; the two must stay in lockstep.
  *
  * Derivations use only integer modulus on the positive `c_custkey` and
  * one double multiply, so Spark and DuckDB agree bit-for-bit.
  */
object TestData {

  /** Session-scoped relation cache — the catalog role. Every
    * `spark.read.parquet` pays a driver-side schema-inference pass
    * (a footer-reading Spark job, measured 106 ms per call at sf0.1),
    * and a catalog query calls table() inside its timed body — so
    * without caching, the SAME ten immutable testdata files get their
    * footers re-read thousands of times per bench/verify run. A real
    * catalog (metastore-backed `spark.table`) resolves the relation
    * once per session. The cached value is an immutable LOGICAL
    * PLAN — downstream queries still build fresh physical plans (no
    * AQE/stage reuse across queries), and the testdata dir is
    * read-only by contract (a mutable-source deployment would need an
    * uncached read instead).
    *
    * Plain map with LAZY EVICTION of stopped sessions (ADVICE r12:
    * the previous WeakHashMap[SparkSession, _] could never collect an
    * entry, because every cached DataFrame strongly references its own
    * SparkSession — the documented value-reaches-key WeakHashMap
    * failure mode — so stopped sessions and their plans leaked for the
    * life of the JVM in multi-session processes like test suites).
    * Each access prunes every entry whose SparkContext has stopped
    * (identity-keyed, so stop() is observable directly on the key), so
    * a stopped session's plans outlive it by at most one table() call
    * from anywhere in the process — an explicit liveness contract
    * instead of GC semantics the value chain silently defeated.
    */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    relationCache.forEach((session, _) =>
      if (session.sparkContext.isStopped) relationCache.remove(session))
    val perSession = relationCache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
    perSession.computeIfAbsent((sfDir, name),
      _ => build(spark, sfDir, name))
  }

  private def build(spark: SparkSession, sfDir: String,
                    name: String): DataFrame =
    if (name == "events") {
      // Spark's vectorized reader rejects TIMESTAMP(NANOS): read nanos
      // as long, and let eventTs convert them.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      eventTs(spark.read.parquet(s"$sfDir/events.parquet"))
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  /** `events` as read (a batch or a stream), with `ts` normalized. The
    * generator has emitted events.ts as TIMESTAMP(NANOS) in some rounds
    * (read as long nanos, converted here) and timestamp[us] in others
    * (arrives as TIMESTAMP_NTZ — cast to the session-zone timestamp the
    * rest of the catalog and the UTC DuckDB oracle expect).
    */
  private[graft] def eventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }

  private val months = Seq("jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec")

  /** Scala twin of `bankCte`. Covers: ages 17..106 (validation errors),
    * balances about -13k..130k (all wealth/monetary buckets), pdays -1..198,
    * previous -1..11 (negative engagement factor), day 1..31.
    */
  def bankFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("c_custkey")
    table(spark, sfDir, "customer").select(
      k.as("id"),
      (k % 90 + 17).cast("int").as("age"),
      lower(trim(col("c_mktsegment"))).as("job"),
      when(k % 3 === 0, "married").when(k % 3 === 1, "single")
        .otherwise("divorced").as("marital"),
      when(k % 4 === 0, "primary").when(k % 4 === 1, "secondary")
        .when(k % 4 === 2, "tertiary").otherwise("unknown").as("education"),
      when(k % 17 === 0, "yes").otherwise("no").as("default"),
      (col("c_acctbal") * lit(13.0)).as("balance"),
      when(k % 2 === 0, "yes").otherwise("no").as("housing"),
      when(k % 5 === 0, "yes").otherwise("no").as("loan"),
      when(k % 3 === 0, "cellular").when(k % 3 === 1, "telephone")
        .otherwise("unknown").as("contact"),
      (k % 31 + 1).cast("int").as("day"),
      element_at(array(months.map(lit): _*), (k % 12).cast("int") + 1)
        .as("month"),
      ((k * 7) % 1200).cast("int").as("duration"),
      (k % 15).cast("int").as("campaign"),
      ((k % 200).cast("int") - 1).as("pdays"),
      ((k % 13).cast("int") - 1).as("previous"),
      when(k % 4 === 0, "success").when(k % 4 === 1, "failure")
        .when(k % 4 === 2, "other").otherwise("unknown").as("poutcome"),
      when(k % 4 === 0, "yes").otherwise("no").as("y"))
  }

  /** DuckDB CTE equivalent of [[bankFrame]]; prepend to hosted oracles. */
  val bankCte: String =
    """WITH bank AS (SELECT
      | c_custkey AS id,
      | CAST(c_custkey % 90 + 17 AS INT) AS age,
      | lower(trim(c_mktsegment)) AS job,
      | CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN 'married' WHEN 1 THEN 'single' ELSE 'divorced' END AS marital,
      | CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'primary' WHEN 1 THEN 'secondary' WHEN 2 THEN 'tertiary' ELSE 'unknown' END AS education,
      | CASE WHEN c_custkey % 17 = 0 THEN 'yes' ELSE 'no' END AS "default",
      | c_acctbal * 13.0 AS balance,
      | CASE WHEN c_custkey % 2 = 0 THEN 'yes' ELSE 'no' END AS housing,
      | CASE WHEN c_custkey % 5 = 0 THEN 'yes' ELSE 'no' END AS loan,
      | CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN 'cellular' WHEN 1 THEN 'telephone' ELSE 'unknown' END AS contact,
      | CAST(c_custkey % 31 + 1 AS INT) AS day,
      | ['jan','feb','mar','apr','may','jun','jul','aug','sep','oct','nov','dec'][CAST(c_custkey % 12 AS INT) + 1] AS month,
      | CAST((c_custkey * 7) % 1200 AS INT) AS duration,
      | CAST(c_custkey % 15 AS INT) AS campaign,
      | CAST(c_custkey % 200 AS INT) - 1 AS pdays,
      | CAST(c_custkey % 13 AS INT) - 1 AS previous,
      | CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'success' WHEN 1 THEN 'failure' WHEN 2 THEN 'other' ELSE 'unknown' END AS poutcome,
      | CASE WHEN c_custkey % 4 = 0 THEN 'yes' ELSE 'no' END AS y
      |FROM customer)""".stripMargin.replace("\n", " ")

  /** Reference piecewise scores as DuckDB SQL fragments (bp.py:24-45). */
  def recencySql(v: String): String =
    s"CASE WHEN $v <= -1 THEN 1 WHEN $v <= 7 THEN 5 WHEN $v <= 30 THEN 4 WHEN $v <= 90 THEN 3 WHEN $v <= 180 THEN 2 ELSE 1 END"
  def frequencySql(v: String): String =
    s"CASE WHEN $v <= 3 THEN 2 WHEN $v <= 5 THEN 3 WHEN $v <= 7 THEN 4 WHEN $v <= 10 THEN 5 ELSE 1 END"
  def monetarySql(v: String): String =
    s"CASE WHEN $v <= 5000 THEN 2 WHEN $v <= 10000 THEN 3 WHEN $v <= 25000 THEN 4 WHEN $v <= 50000 THEN 5 ELSE 1 END"
  def ageGroupSql(v: String): String =
    s"CASE WHEN $v < 30 THEN 'young' WHEN $v < 50 THEN 'middle_aged' ELSE 'senior' END"
  def wealthSql(v: String): String =
    s"CASE WHEN $v > 50000 THEN 'high_net_worth' WHEN $v > 10000 THEN 'mass_affluent' ELSE 'mass_market' END"
  def dayTypeSql(v: String): String =
    s"CASE WHEN $v % 7 IN (0, 6) THEN 'weekend' ELSE 'weekday' END"
  def segmentSql(avg: String): String =
    s"CASE WHEN $avg >= 4 THEN 'premium' WHEN $avg >= 3 THEN 'high_value' WHEN $avg >= 2 THEN 'medium_value' ELSE 'low_value' END"
  def engagementSql(prev: String, camp: String, dur: String, y: String): String =
    s"(least($prev, 10) / 10.0 + least($camp, 10) / 10.0 + least($dur, 1000) / 1000.0 + CASE WHEN $y = 'yes' THEN 1.0 ELSE 0.0 END) / 4.0"
}
