package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.graftbridge.{Bridge, DualSinkWrite, Sink, SinkCounts}
import graft.etl._
import graft.schema.{BankSchema, Thresholds}

/** Processed + error outputs of a staged run (the reference's main output
  * and flattened `error_records` stream, bp.py:341-383).
  */
final case class EtlResult(processed: DataFrame, errors: DataFrame)

/** What one [[BankingPipeline.writeSinks]] job read and wrote: the lines
  * its text scan read, the header lines among them, and the rows each
  * sink received (processed per `customer_segment`, errors per
  * `error_type`).
  */
final case class EtlCounts(linesRead: Long, headersDropped: Long,
                           processed: SinkCounts, errors: SinkCounts)

/** End-to-end composition of the four stages over raw CSV lines or an
  * already-typed frame, plus the single split into (processed, errors).
  */
object BankingPipeline {

  /** Full pipeline from raw CSV text lines (one string column).
    * @param keep passthrough columns present in `lines` to carry into both
    *             outputs (e.g. a host-table key for deterministic order)
    */
  def fromLines(lines: DataFrame, lineCol: String = "value",
                minAge: Int = Thresholds.MinValidAge,
                maxAge: Int = Thresholds.MaxValidAge,
                keep: Seq[String] = Nil): EtlResult =
    split(stagesAfterParse(Parse(lines, lineCol, keep), minAge, maxAge), keep)

  /** Full pipeline from a typed 17-column frame (testdata hosting); any
    * extra columns named in `keep` ride along into both outputs.
    */
  def fromTyped(df: DataFrame,
                minAge: Int = Thresholds.MinValidAge,
                maxAge: Int = Thresholds.MaxValidAge,
                keep: Seq[String] = Nil): EtlResult =
    split(stagesAfterParse(Parse.fromTyped(df), minAge, maxAge), keep)

  def stagesAfterParse(staged: DataFrame, minAge: Int, maxAge: Int): DataFrame =
    Prepare(Segment(ValidateEnrich(staged, minAge, maxAge)))

  private val headerShape: String =
    BankSchema.inputFields.map(_.name).mkString(";")

  /** `"` plus exactly the characters of Java's `\s`. */
  private val quoteOrSpace = "\" \t\n\u000B\f\r"

  /** A header line, identified structurally: the full 17-column header
    * shape — all column names in order, case-insensitive, tolerating the
    * UCI distribution's "-quoting and stray whitespace. Matching the
    * whole shape (not just a leading `age` token) means a malformed
    * mid-file DATA row that happens to start with "age" still reaches
    * the parsing_error channel, like the reference's positional
    * skip_header_lines=1 would. Shared by the batch reader and the
    * streaming ingest path so the rule cannot drift between them.
    *
    * The regex runs behind a cheap necessary condition: the first
    * character that is not a quote or whitespace must lowercase to the
    * header's leading `a`. Data lines fail that test, so only candidate
    * headers pay for the regex (`&&` short-circuits in generated code).
    */
  def isHeaderLine(line: Column): Column =
    lower(substring(ltrim(line, quoteOrSpace), 1, 1)) === headerShape.take(1) &&
      lower(regexp_replace(line, "[\"\\s]", "")) === headerShape

  /** The per-file open cost the text scan's splits are sized with.
    * Spark sizes a split as `max(openCost, (bytes + files * openCost) /
    * cores)`; with the 4 MiB default, one 14 MB file splits 4.4, 4.4,
    * 4.4 and 0.4 MB over four cores, and a file under 4 MiB is a single
    * task. A small constant gives every core an equal byte range of any
    * input over a few hundred KB.
    */
  val SplitOpenCostBytes: Long = 64 * 1024

  /** Read the reference's native input: semicolon CSV file, 1 header line
    * (bp.py:345). Kept as a raw-text read so malformed lines reach the
    * parse stage's error channel instead of being dropped by the reader.
    * The scan is split with [[SplitOpenCostBytes]]; the caller's session
    * conf is not changed.
    */
  def readCsvLines(spark: SparkSession, path: String): DataFrame = {
    // Drop headers by predicate, not position: no ordering assumption
    // (limit(1) on a multi-split read can return an arbitrary row), one
    // header per file part is handled (Beam's skip_header_lines=1 is per
    // file), and the read stays a single shuffle-free stage.
    Bridge.readWithConf(spark,
      Map("spark.sql.files.openCostInBytes" -> SplitOpenCostBytes.toString))(_.read.text(path))
      .where(!isHeaderLine(col("value")))
  }

  /** Lines the text scan of [[readCsvLines]] read, and header lines it
    * dropped, from the SQL metrics of an executed plan over that read.
    */
  private def lineCounts(plan: SparkPlan): (Long, Long) =
    plan.collectFirst {
      case header @ FilterExec(_, InputAdapter(scan: FileSourceScanExec)) => (scan, header)
      case header @ FilterExec(_, scan: FileSourceScanExec) => (scan, header)
    }.map { case (scan, header) =>
      val read = scan.metrics("numOutputRows").value
      (read, read - header.metrics("numOutputRows").value)
    }.getOrElse(throw new IllegalStateException(
      s"no header filter over a text scan in:\n$plan"))

  /** One split at the very end (SURVEY.md §4.3a): both branches share the
    * same narrow plan; Catalyst collapses each side to scan+project+filter.
    */
  def split(staged: DataFrame, keep: Seq[String] = Nil): EtlResult = {
    val processed = staged.where(Stage.ok)
      .select((keep ++ BankSchema.outputColumns).map(col): _*)
    val errors = staged.where(!Stage.ok)
      .select(keep.map(col) ++ errorRecord: _*)
    EtlResult(processed, errors)
  }

  /** An error row as the error sink stores it (ERROR_RECORDS_SCHEMA,
    * bp.py:80-85), its message by [[Stage.errorMessage]].
    */
  def errorRecord: Seq[Column] = Seq(
    // Parse errors carry the raw line (bp.py:151); later stages carry the
    // record rendered as JSON (documented divergence from Python dict-repr,
    // SURVEY.md §2.3 V3).
    when(col(Stage.ErrType) === "parsing_error", col(Stage.Raw))
      .otherwise(to_json(struct(BankSchema.inputColumns.map(col): _*)))
      .as("raw_data"),
    Stage.errorMessage.as("error_message"),
    col(Stage.ErrType).as("error_type"),
    Stage.runInstant.as("timestamp"))

  /** What the one-scan write reads per row: the processed columns, in
    * order, then `_error_type` and `_raw`. The error sink's message and
    * JSON render are built from these on error rows only, so the fused
    * stage stays under HotSpot's 8000-byte `DontCompileHugeMethods`
    * limit. `_raw` is kept only on parsing_error rows, the only ones that
    * read it (`raw_data`, [[Stage.errorMessage]]), so other rows do not
    * copy their line.
    */
  def sinkRows(staged: DataFrame): DataFrame =
    staged.select((BankSchema.outputColumns.map(col) :+ col(Stage.ErrType) :+
      when(col(Stage.ErrType) === "parsing_error", col(Stage.Raw)).as(Stage.Raw)): _*)

  /** Both sinks from one scan (K3, bp.py:341-383): one Spark job routes
    * each staged row to the processed or the error table, each appended
    * as parquet like [[writeTable]]. `staged` is built on
    * [[readCsvLines]], whose line counts come from the same job.
    */
  def writeSinks(staged: DataFrame, outputTable: String, errorTable: String): EtlCounts = {
    val rows = sinkRows(staged)
    val (processed, errors) = DualSinkWrite(rows, Stage.ErrType,
      main = Sink(outputTable, BankSchema.outputColumns.map(col), "customer_segment"),
      side = Sink(errorTable, errorRecord, "error_type"))
    val (linesRead, headersDropped) = lineCounts(rows.queryExecution.executedPlan)
    EtlCounts(linesRead, headersDropped, processed, errors)
  }

  /** K1/K2 text sinks: the reference writes `str(dict)` lines with a
    * `.json` suffix (bp.py:375-383); we emit real JSON (documented
    * improvement, SURVEY.md §2.7).
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** K3 BigQuery-style get-or-create sink -> parquet table with append
    * semantics (SURVEY.md §2.7).
    */
  def writeTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)
}
