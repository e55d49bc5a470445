package graft.schema

import org.apache.spark.sql.types._

/** Constants mirrored from the reference pipeline
  * (`/root/reference/batch_processing/batch_pipeline1.py:19-45`).
  *
  * Faithfulness notes (do NOT "fix" — see SURVEY.md §2.4):
  *  - monetary: balance > 50000 falls into the `inf` bucket and scores 1
  *    (the LOWEST score) — bp.py:39-45.
  *  - frequency: previous = 0 scores 2 (never 1); previous > 10 scores 1 —
  *    bp.py:32-38.
  *  - recency: pdays <= -1 ("never contacted") scores 1 — bp.py:24-31.
  */
object Thresholds {
  val NumCsvColumns = 17
  val MinValidAge = 18
  val MaxValidAge = 100
  val HighNetWorthBalance = 50000.0
  val MassAffluentBalance = 10000.0

  /** (upperBoundInclusive, score) in ascending bound order; else-case last.
    * Mirrors `_calculate_score` (bp.py:255-259): first bound with
    * value <= bound wins.
    */
  val RecencyScores: Seq[(Double, Int)] =
    Seq(-1.0 -> 1, 7.0 -> 5, 30.0 -> 4, 90.0 -> 3, 180.0 -> 2)
  val RecencyElse = 1
  val FrequencyScores: Seq[(Double, Int)] =
    Seq(3.0 -> 2, 5.0 -> 3, 7.0 -> 4, 10.0 -> 5)
  val FrequencyElse = 1
  val MonetaryScores: Seq[(Double, Int)] =
    Seq(5000.0 -> 2, 10000.0 -> 3, 25000.0 -> 4, 50000.0 -> 5)
  val MonetaryElse = 1

  val PipelineVersion = "1.2"
}

/** Schemas for the banking ETL (reference bp.py:48-85, §1.4). */
object BankSchema {

  /** The 17 input columns in CSV position order (bp.py:121-138). */
  val inputFields: Seq[StructField] = Seq(
    StructField("age", IntegerType),
    StructField("job", StringType),
    StructField("marital", StringType),
    StructField("education", StringType),
    StructField("default", StringType),
    StructField("balance", DoubleType),
    StructField("housing", StringType),
    StructField("loan", StringType),
    StructField("contact", StringType),
    StructField("day", IntegerType),
    StructField("month", StringType),
    StructField("duration", IntegerType),
    StructField("campaign", IntegerType),
    StructField("pdays", IntegerType),
    StructField("previous", IntegerType),
    StructField("poutcome", StringType),
    StructField("y", StringType)
  )

  val inputColumns: Seq[String] = inputFields.map(_.name)

  /** 8 derived + 4 metadata columns of PROCESSED_DATA_SCHEMA (bp.py:48-78). */
  val derivedColumns: Seq[String] = Seq(
    "age_group", "wealth_segment", "contact_day_type", "has_loans",
    "customer_segment", "rfm_scores", "engagement_score",
    "processing_timestamp")
  val metadataColumns: Seq[String] = Seq(
    "_ingestion_timestamp", "_processing_timestamp", "_batch_id",
    "_pipeline_version")
  val outputColumns: Seq[String] =
    inputColumns ++ derivedColumns ++ metadataColumns

  /** ERROR_RECORDS_SCHEMA (bp.py:80-85). */
  val errorSchema: StructType = StructType(Seq(
    StructField("raw_data", StringType),
    StructField("error_message", StringType),
    StructField("error_type", StringType),
    StructField("timestamp", TimestampType)
  ))

  /** The `--stats_table` rows of one run: `lines_read` (every input
    * line, headers included), `headers_dropped` and `rows_processed`
    * (key null), `rows_error` per error_type, `rows_segment` per
    * customer_segment;
    * `timestamp` is the run's instant, as in both sinks.
    */
  val statsSchema: StructType = StructType(Seq(
    StructField("stat", StringType, nullable = false),
    StructField("key", StringType),
    StructField("rows", LongType, nullable = false),
    StructField("timestamp", TimestampType)
  ))
}
