package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.RunStamps
import graft.schema.{BankSchema, Thresholds}

/** Single-pass error-channel design (SURVEY.md §4.3a).
  *
  * The reference multiplexes each stage into a main output and a tagged
  * `error_records` side output (bp.py:148-156, 207-215, 245-253, 284-291).
  * Rebuilt Spark-first: stages are narrow `DataFrame => DataFrame`
  * transforms over ONE staged frame carrying nullable `_error_type` /
  * `_error_message` columns; every derivation is guarded by "no error yet",
  * mirroring the reference's exception short-circuit. The frame is split
  * into (processed, errors) exactly once at the end, so the whole pipeline
  * stays a single whole-stage-codegen'd stage with zero shuffles.
  */
object Stage {
  val ErrType = "_error_type"
  val ErrMsg = "_error_message"
  val Raw = "_raw"
  /** No error recorded by any stage so far. */
  def ok: Column = col(ErrType).isNull
  /** The run's one instant. Parse stamps it as `_ingestion_timestamp`;
    * every later stamp copies that column, so all stamps of one pipeline
    * build agree, in both sinks.
    */
  def runInstant: Column = col("_ingestion_timestamp")
  /** Compute `value` only for not-yet-errored rows (exception short-circuit). */
  def guarded(value: Column): Column = when(ok, value)
}

/** Stage 1 — `ParseCSVFn` (bp.py:109-156): semicolon CSV with RFC-4180
  * quoting, arity=17 check, positional typed coercion, required-field
  * check, ingestion stamp, parse-error channel.
  *
  * Coercion-failure semantics: Python `int()`/`float()` raise -> error
  * record. Here `try_cast` yields NULL and the NULL (with a non-null raw
  * token) is routed to the error channel with the Python-shaped message.
  */
object Parse {
  /** @param keep passthrough columns (e.g. a host-table key for
    *             deterministic ordering in oracle-checked queries)
    */
  def apply(lines: DataFrame, lineCol: String = "value",
            keep: Seq[String] = Nil): DataFrame = {
    // One fused custom expression ([[graft.functions.ParseBankLine]])
    // tokenizes, arity-checks, coerces, and error-routes the line in a
    // single imperative pass. explode(array(...)) is a deliberate
    // Generate BARRIER: without it, predicate pushdown (and, for
    // from_csv-style exprs, OptimizeCsvJsonExprs) substitutes the
    // non-cheap parse per reference — measured 25-52 parser copies in
    // the optimized plan, 64 KB codegen overflow, ~15x the runtime.
    // Fields come off the generator output as plain struct gets.
    val tok = lines.select(
      keep.map(col) ++ Seq(
        col(lineCol).as(Stage.Raw),
        explode(array(graft.functions.ParseBankLine.parseBankLine(col(lineCol))))
          .as("_p")): _*)

    tok.select(
      keep.map(col) ++ Seq(col(Stage.Raw)) ++
        BankSchema.inputColumns.map(c => col(s"_p.$c").as(c)) ++
        Seq(
          RunStamps.runTimestamp().as("_ingestion_timestamp"),
          col("_p._error_type").as(Stage.ErrType),
          col("_p._error_message").as(Stage.ErrMsg)): _*)
  }

  /** Adapter for already-typed rows (e.g. testdata-hosted frames): attach
    * the raw/error channel so the downstream stages apply unchanged.
    */
  def fromTyped(df: DataFrame): DataFrame = {
    val raw = to_json(struct(df.columns.map(col): _*))
    df.select(
      Seq(raw.as(Stage.Raw)) ++ df.columns.map(col) ++ Seq(
        RunStamps.runTimestamp().as("_ingestion_timestamp"),
        lit(null).cast(StringType).as(Stage.ErrType),
        lit(null).cast(StringType).as(Stage.ErrMsg)): _*)
  }
}

/** Stage 2 — `ValidateAndEnrichFn` (bp.py:158-215): inclusive age-range
  * validation plus the five enrichment derivations E1-E5.
  */
object ValidateEnrich {
  def apply(staged: DataFrame,
            minAge: Int = Thresholds.MinValidAge,
            maxAge: Int = Thresholds.MaxValidAge): DataFrame = {
    val ageBad = !col("age").between(minAge, maxAge)
    val valErr = when(Stage.ok && ageBad,
      concat(lit("ValidationError: Age "), col("age").cast(StringType),
        lit(" outside valid range")))
    staged
      .withColumn(Stage.ErrMsg, coalesce(col(Stage.ErrMsg), valErr))
      .withColumn(Stage.ErrType,
        coalesce(col(Stage.ErrType),
          when(valErr.isNotNull, lit("data_validation"))))
      .withColumn("age_group", Stage.guarded(BankExprs.ageGroup(col("age"))))
      .withColumn("wealth_segment",
        Stage.guarded(BankExprs.wealthSegment(col("balance"))))
      .withColumn("contact_day_type",
        Stage.guarded(BankExprs.contactDayType(col("day"))))
      .withColumn("has_loans",
        Stage.guarded(BankExprs.hasLoans(col("housing"), col("loan"))))
      .withColumn("engagement_score",
        Stage.guarded(BankExprs.engagementScore(
          col("previous"), col("campaign"), col("duration"), col("y"))))
  }
}

/** Stage 3 — `CustomerSegmentationFn` (bp.py:217-269): RFM piecewise
  * scores, JSON score blob, average-score segment, processing stamp.
  */
object Segment {
  def apply(staged: DataFrame): DataFrame = {
    val r = BankExprs.recencyScore(col("pdays"))
    val f = BankExprs.frequencyScore(col("previous"))
    val m = BankExprs.monetaryScore(col("balance"))
    staged
      .withColumn("_processing_timestamp", Stage.runInstant)
      .withColumn("rfm_scores", Stage.guarded(BankExprs.rfmScoresJson(r, f, m)))
      .withColumn("customer_segment",
        Stage.guarded(BankExprs.customerSegment(r, f, m)))
  }
}

/** Stage 4 — `PrepareForBigQueryFn` (bp.py:271-291): final stamp, fresh
  * uuid per record (the reference's `_batch_id` really is per-record,
  * bp.py:280), version tag.
  */
object Prepare {
  def apply(staged: DataFrame): DataFrame =
    staged
      .withColumn("processing_timestamp", Stage.runInstant)
      .withColumn("_batch_id", Stage.guarded(RunStamps.runUuid()))
      .withColumn("_pipeline_version", lit(Thresholds.PipelineVersion))
}
