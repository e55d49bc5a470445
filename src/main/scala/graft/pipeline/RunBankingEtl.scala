package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import graft.etl.Parse
import graft.functions.RunStamps
import graft.schema.{BankSchema, Thresholds}

/** CLI options contract of the reference (`BankingBatchOptions`,
  * bp.py:87-96): required --input_path/--output_table/--error_table,
  * optional --stats_table (vestigial in the reference, bp.py:94; here the
  * run's row counts, [[graft.schema.BankSchema.statsSchema]]),
  * --min_age/--max_age with the reference defaults.
  *
  * Divergence by design (SURVEY.md §3.1): the reference silently REWRITES
  * gs:// paths to a developer-machine path (bp.py:336-339); we reject
  * them instead.
  */
final case class EtlConfig(
  inputPath: String,
  outputTable: String,
  errorTable: String,
  statsTable: Option[String] = None,
  minAge: Int = Thresholds.MinValidAge,
  maxAge: Int = Thresholds.MaxValidAge)

object EtlConfig {
  /** `--flag value` pairs. Like the reference's argparse options, a flag
    * with no value or an int option that is not an int fails with a
    * message naming the flag.
    */
  def parse(args: Seq[String]): EtlConfig = {
    def bad(flag: String, why: String) =
      new IllegalArgumentException(s"argument --$flag: $why")
    def pairs(rest: List[String]): List[(String, String)] = rest match {
      case Nil => Nil
      case f :: v :: more if f.startsWith("--") && !v.startsWith("--") =>
        (f.drop(2) -> v) :: pairs(more)
      case f :: _ if f.startsWith("--") => throw bad(f.drop(2), "expected one argument")
      case other :: _ => throw new IllegalArgumentException(
        s"unrecognized argument: '$other'")
    }
    val kv = pairs(args.toList).toMap
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    def int(k: String, default: Int) = kv.get(k).fold(default)(v =>
      v.toIntOption.getOrElse(throw bad(k, s"invalid int value: '$v'")))
    val cfg = EtlConfig(
      inputPath = req("input_path"),
      outputTable = req("output_table"),
      errorTable = req("error_table"),
      statsTable = kv.get("stats_table"),
      minAge = int("min_age", Thresholds.MinValidAge),
      maxAge = int("max_age", Thresholds.MaxValidAge))
    require(!cfg.inputPath.startsWith("gs://"),
      "gs:// input paths are not supported (the reference silently " +
        "rewrote them to a local developer path; we reject instead)")
    cfg
  }
}

/** Batch entry point: the reference's `run_pipeline` (bp.py:318-385) as a
  * spark-submit main. Reads the semicolon CSV, runs the 4-stage pipeline,
  * writes processed + flattened error streams in one Spark job, and, when
  * --stats_table is given, appends that job's row counts there.
  */
object RunBankingEtl {
  def main(args: Array[String]): Unit = {
    val cfg = EtlConfig.parse(args.toSeq)
    val builder = SparkSession.builder()
      .appName("graft-banking-etl")
      .config("spark.sql.session.timeZone", "UTC")
    // Under spark-submit the master comes from the launcher; standalone
    // runs (dev, tests) fall back to all local cores.
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .getOrCreate()
    run(spark, cfg)
    spark.stop()
  }

  /** Runs the job; returns what it read and wrote. */
  def run(spark: SparkSession, cfg: EtlConfig): EtlCounts = {
    val lines = BankingPipeline.readCsvLines(spark, cfg.inputPath)
    val staged = BankingPipeline.stagesAfterParse(Parse(lines), cfg.minAge, cfg.maxAge)
    val counts = BankingPipeline.writeSinks(staged, cfg.outputTable, cfg.errorTable)
    cfg.statsTable.foreach { table =>
      val at = RunStamps.timestampOf(staged).map(DateTimeUtils.toJavaTimestamp).orNull
      def row(stat: String, key: String, n: Long) = Row(stat, key, n, at)
      val rows = Seq(row("lines_read", null, counts.linesRead),
        row("headers_dropped", null, counts.headersDropped),
        row("rows_processed", null, counts.processed.rows)) ++
        counts.errors.byKey.toSeq.sorted.map { case (k, n) => row("rows_error", k, n) } ++
        counts.processed.byKey.toSeq.sorted.map { case (k, n) => row("rows_segment", k, n) }
      BankingPipeline.writeTable(
        spark.createDataFrame(rows.asJava, BankSchema.statsSchema), table)
    }
    counts
  }
}
