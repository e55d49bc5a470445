package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._
import graft.pipeline.BankingPipeline
import TestData._

/** A named query plus its DuckDB oracle (None => driver rows-only check). */
final case class Q(fn: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

/** The reference's operator inventory (SURVEY.md §2) hosted on driver
  * testdata: every record-level transform, validation rule, scoring
  * function and the error topology, each independently queryable with a
  * DuckDB oracle over the same parquet tables.
  */
object RefQueries {

  private val inputCols = graft.schema.BankSchema.inputColumns

  /** Render the bank frame back to its native semicolon-CSV line shape
    * (bp.py:117): exercises P1-P3 round-trip through the real parser.
    * Double->string->double round-trips exactly (Java toString contract).
    */
  private def csvLines(bank: DataFrame, ageToken: Column = col("age").cast("string"),
                       tail: Column = lit("")): DataFrame =
    bank.select(col("id"), concat(concat_ws(";",
      ageToken, col("job"), col("marital"), col("education"), col("default"),
      col("balance").cast("string"), col("housing"), col("loan"),
      col("contact"), col("day").cast("string"), col("month"),
      col("duration").cast("string"), col("campaign").cast("string"),
      col("pdays").cast("string"), col("previous").cast("string"),
      col("poutcome"), col("y")), tail).as("line"))

  private val allTyped = Seq("id") ++ inputCols

  def all: Map[String, Q] = Map(

    // P1-P4: CSV tokenize + typed positional projection through from_csv.
    "q01_parse_csv_typed" -> Q(
      (s, dir) => {
        val lines = csvLines(bankFrame(s, dir))
        Parse(lines, "line", keep = Seq("id"))
          .where(Stage.ok)
          .select(allTyped.map(col): _*)
          .orderBy("id")
      },
      Some(bankCte +
        """ SELECT id, age, job, marital, education, "default", balance,
          | housing, loan, contact, day, month, duration, campaign, pdays,
          | previous, poutcome, y FROM bank ORDER BY id""".stripMargin
          .replace("\n", ""))),

    // P2: arity check -> parsing_error channel (wrong column count).
    "q02_arity_errors" -> Q(
      (s, dir) => {
        val bank = bankFrame(s, dir)
        val lines = csvLines(bank,
          tail = when(col("id") % 7 === 0, ";extra").otherwise(""))
        Parse(lines, "line", keep = Seq("id"))
          .select(col("id"), col(Stage.ErrType).as("error_type"),
            Stage.errorMessage.as("error_message"))
          .orderBy("id")
      },
      Some(bankCte +
        """ SELECT id,
          | CASE WHEN id % 7 = 0 THEN 'parsing_error' END AS error_type,
          | CASE WHEN id % 7 = 0 THEN 'ParseError: Expected 17 columns, got 18' END AS error_message
          | FROM bank ORDER BY id""".stripMargin.replace("\n", ""))),

    // P3: numeric coercion failure -> Python-shaped invalid-literal error.
    "q03_coercion_errors" -> Q(
      (s, dir) => {
        val bank = bankFrame(s, dir)
        val lines = csvLines(bank,
          ageToken = when(col("id") % 11 === 0, "not_an_int")
            .otherwise(col("age").cast("string")))
        Parse(lines, "line", keep = Seq("id"))
          .select(col("id"), col("age"),
            col(Stage.ErrType).as("error_type"),
            Stage.errorMessage.as("error_message"))
          .orderBy("id")
      },
      Some(bankCte +
        """ SELECT id,
          | CASE WHEN id % 11 = 0 THEN NULL ELSE age END AS age,
          | CASE WHEN id % 11 = 0 THEN 'parsing_error' END AS error_type,
          | CASE WHEN id % 11 = 0 THEN 'ParseError: invalid literal for int() with base 10: ''not_an_int''' END AS error_message
          | FROM bank ORDER BY id""".stripMargin.replace("\n", ""))),

    // E1 age_group (bp.py:176-180).
    "q04_age_group" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), col("age"),
          BankExprs.ageGroup(col("age")).as("age_group"))
        .orderBy("id"),
      Some(bankCte +
        s" SELECT id, age, ${ageGroupSql("age")} AS age_group FROM bank ORDER BY id")),

    // E2 wealth_segment — strict thresholds (bp.py:183-188).
    "q05_wealth_segment" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), col("balance"),
          BankExprs.wealthSegment(col("balance")).as("wealth_segment"))
        .orderBy("id"),
      Some(bankCte +
        s" SELECT id, balance, ${wealthSql("balance")} AS wealth_segment FROM bank ORDER BY id")),

    // E3 contact_day_type — day%7 heuristic (bp.py:191).
    "q06_contact_day_type" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), col("day"),
          BankExprs.contactDayType(col("day")).as("contact_day_type"))
        .orderBy("id"),
      Some(bankCte +
        s" SELECT id, day, ${dayTypeSql("day")} AS contact_day_type FROM bank ORDER BY id")),

    // E4 has_loans (bp.py:194).
    "q07_has_loans" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), col("housing"), col("loan"),
          BankExprs.hasLoans(col("housing"), col("loan")).as("has_loans"))
        .orderBy("id"),
      Some(bankCte +
        " SELECT id, housing, loan, (housing = 'yes' OR loan = 'yes') AS has_loans FROM bank ORDER BY id")),

    // E5 engagement_score — unclamped-below least() semantics (bp.py:197-203).
    "q08_engagement_score" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), BankExprs.engagementScore(col("previous"),
          col("campaign"), col("duration"), col("y")).as("engagement_score"))
        .orderBy("id"),
      Some(bankCte +
        s" SELECT id, ${engagementSql("previous", "campaign", "duration", "y")} AS engagement_score FROM bank ORDER BY id")),

    // R1 recency piecewise score (bp.py:24-31).
    "q09_recency_score" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), col("pdays"),
          BankExprs.recencyScore(col("pdays")).as("recency_score"))
        .orderBy("id"),
      Some(bankCte +
        s" SELECT id, pdays, ${recencySql("pdays")} AS recency_score FROM bank ORDER BY id")),

    // R2 frequency piecewise score (bp.py:32-38).
    "q10_frequency_score" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), col("previous"),
          BankExprs.frequencyScore(col("previous")).as("frequency_score"))
        .orderBy("id"),
      Some(bankCte +
        s" SELECT id, previous, ${frequencySql("previous")} AS frequency_score FROM bank ORDER BY id")),

    // R3 monetary piecewise score — note >50000 scores 1 (bp.py:39-45).
    "q11_monetary_score" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), col("balance"),
          BankExprs.monetaryScore(col("balance")).as("monetary_score"))
        .orderBy("id"),
      Some(bankCte +
        s" SELECT id, balance, ${monetarySql("balance")} AS monetary_score FROM bank ORDER BY id")),

    // R5 customer_segment from avg RFM (bp.py:240-269).
    "q12_customer_segment" -> Q(
      (s, dir) => {
        val r = BankExprs.recencyScore(col("pdays"))
        val f = BankExprs.frequencyScore(col("previous"))
        val m = BankExprs.monetaryScore(col("balance"))
        bankFrame(s, dir).select(col("id"),
          r.as("recency_score"), f.as("frequency_score"),
          m.as("monetary_score"),
          BankExprs.customerSegment(r, f, m).as("customer_segment"))
          .orderBy("id")
      },
      Some(bankCte +
        s""", scored AS (SELECT id, ${recencySql("pdays")} AS recency_score,
           | ${frequencySql("previous")} AS frequency_score,
           | ${monetarySql("balance")} AS monetary_score FROM bank)
           | SELECT id, recency_score, frequency_score, monetary_score,
           | ${segmentSql("((recency_score + frequency_score + monetary_score) / 3.0)")} AS customer_segment
           | FROM scored ORDER BY id""".stripMargin.replace("\n", ""))),

    // R4 rfm_scores JSON blob, json.dumps-byte-compatible (bp.py:233-237).
    "q13_rfm_json" -> Q(
      (s, dir) => bankFrame(s, dir)
        .select(col("id"), BankExprs.rfmScoresJson(
          BankExprs.recencyScore(col("pdays")),
          BankExprs.frequencyScore(col("previous")),
          BankExprs.monetaryScore(col("balance"))).as("rfm_scores"))
        .orderBy("id"),
      Some(bankCte +
        s""" SELECT id, '{"recency": ' || ${recencySql("pdays")}
           | || ', "frequency": ' || ${frequencySql("previous")}
           | || ', "monetary": ' || ${monetarySql("balance")} || '}' AS rfm_scores
           | FROM bank ORDER BY id""".stripMargin.replace("\n", ""))),

    // V2 age-range validation -> data_validation error channel, aggregated.
    "q14_validation_errors" -> Q(
      (s, dir) => BankingPipeline.fromTyped(bankFrame(s, dir)).errors
        .groupBy("error_type").agg(count(lit(1)).as("n"))
        .orderBy("error_type"),
      Some(bankCte +
        """ SELECT 'data_validation' AS error_type, count(*) AS n
          | FROM bank WHERE age < 18 OR age > 100
          | GROUP BY 1 ORDER BY error_type""".stripMargin.replace("\n", ""))),

    // U1/U2: tagged demux + Flatten of per-stage error streams.
    "q15_error_union" -> Q(
      (s, dir) => {
        val bank = bankFrame(s, dir)
        val lines = csvLines(bank,
          tail = when(col("id") % 7 === 0, ";extra").otherwise(""))
        val res = BankingPipeline.fromLines(lines, "line", keep = Seq("id"))
        // The 4-way demux re-reads the errors frame once per stream;
        // persist so the parse pipeline runs once, not four times (the
        // same recompute-vs-persist tradeoff called out in SURVEY.md §4.3).
        // The ≤4-row aggregate is materialized inside the persist scope
        // with an eager localCheckpoint — the returned plan reads the
        // checkpointed blocks, never the unpersisted lineage, and nothing
        // is collected to the driver (the collect-and-recreate idiom is
        // banned in src/main: it silently stops scaling when copy-pasted
        // onto an unbounded result).
        res.errors.persist()
        try {
          // The reference's per-stage tagged outputs, flattened as a bag
          // union (bp.py:368-372).
          Seq("parsing_error", "data_validation", "segmentation_error",
            "preparation_error")
            .map(t => res.errors.where(col("error_type") === t))
            .reduce(_.unionByName(_))
            .groupBy("error_type").agg(count(lit(1)).as("n"))
            .localCheckpoint(eager = true)
            .orderBy("error_type")
        } finally res.errors.unpersist()
      },
      Some(bankCte +
        """ SELECT 'data_validation' AS error_type, count(*) AS n FROM bank
          | WHERE NOT (id % 7 = 0) AND (age < 18 OR age > 100)
          | UNION ALL
          | SELECT 'parsing_error' AS error_type, count(*) AS n FROM bank
          | WHERE id % 7 = 0
          | ORDER BY error_type""".stripMargin.replace("\n", ""))),

    // S1/P1 alternative: the idiomatic Spark source path — native
    // from_csv with an explicit typed schema — beside the fused
    // raw-line parser (q01). Same output, same oracle: demonstrates the
    // built-in reader covers the well-formed-input case, while the fused
    // path exists for the reference's error-channel fidelity on
    // malformed lines.
    "q57_csv_reader_parse" -> Q(
      (s, dir) => {
        val lines = csvLines(bankFrame(s, dir))
        val schema = graft.schema.BankSchema.inputFields
          .map(f => s"`${f.name}` ${f.dataType.simpleString}")
          .mkString(", ")
        val parsed = lines.select(col("id"),
          from_csv(col("line"),
            org.apache.spark.sql.types.StructType.fromDDL(schema),
            Map("sep" -> ";", "quote" -> "\"")).as("p"))
        val strings = Set("job", "marital", "education", "default",
          "housing", "loan", "contact", "month", "poutcome", "y")
        parsed.select(Seq(col("id")) ++ inputCols.map { c =>
          val v = col(s"p.$c")
          (if (strings(c)) lower(trim(v)) else v).as(c)
        }: _*).orderBy("id")
      },
      Some(bankCte +
        """ SELECT id, age, job, marital, education, "default", balance,
          | housing, loan, contact, day, month, duration, campaign, pdays,
          | previous, poutcome, y FROM bank ORDER BY id""".stripMargin
          .replace("\n", ""))),

    // Flagship: the whole 4-stage pipeline, deterministic columns only.
    "q16_pipeline_e2e" -> Q(
      (s, dir) => flagship(s, dir),
      Some(bankCte +
        s""", scored AS (SELECT v.*, ${recencySql("pdays")} AS r,
           | ${frequencySql("previous")} AS f, ${monetarySql("balance")} AS m
           | FROM (SELECT * FROM bank WHERE age BETWEEN 18 AND 100) v)
           | SELECT id, age, job, marital, education, "default", balance,
           | housing, loan, contact, day, month, duration, campaign, pdays,
           | previous, poutcome, y,
           | ${ageGroupSql("age")} AS age_group,
           | ${wealthSql("balance")} AS wealth_segment,
           | ${dayTypeSql("day")} AS contact_day_type,
           | (housing = 'yes' OR loan = 'yes') AS has_loans,
           | ${segmentSql("((r + f + m) / 3.0)")} AS customer_segment,
           | '{"recency": ' || r || ', "frequency": ' || f || ', "monetary": ' || m || '}' AS rfm_scores,
           | ${engagementSql("previous", "campaign", "duration", "y")} AS engagement_score
           | FROM scored ORDER BY id""".stripMargin.replace("\n", "")))
  )

  /** The flagship end-to-end pipeline (also `SparkEntry.entry`). */
  def flagship(s: SparkSession, dir: String): DataFrame =
    BankingPipeline.fromTyped(bankFrame(s, dir), keep = Seq("id")).processed
      .select((allTyped ++ Seq("age_group", "wealth_segment",
        "contact_day_type", "has_loans", "customer_segment", "rfm_scores",
        "engagement_score")).map(col): _*)
      .orderBy("id")
}
