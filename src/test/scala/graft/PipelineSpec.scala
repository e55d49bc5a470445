package graft

import org.apache.spark.sql.functions._
import graft.pipeline.BankingPipeline
import graft.schema.BankSchema

/** Parse-stage fidelity + end-to-end topology invariants. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val valid =
    "42;admin;married;tertiary;no;1500.5;yes;no;cellular;5;may;300;2;-1;0;unknown;no"

  test("valid line parses with typed coercions and lower/trim") {
    val res = BankingPipeline.fromLines(Seq(
      valid,
      "42; ADMIN ;married;tertiary;no;1500.5;yes;no;cellular;5;may;300;2;-1;0;unknown;no"
    ).toDF("value"))
    val rows = res.processed.select("age", "job", "balance", "pdays").collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getInt(0) == 42 && r.getString(1) == "admin"
      && r.getDouble(2) == 1500.5 && r.getInt(3) == -1))
    assert(res.errors.count() == 0)
  }

  test("quoted semicolons survive tokenization (csv.reader quotechar semantics)") {
    val res = BankingPipeline.fromLines(Seq(
      "42;\"ad;min\";married;tertiary;no;1500.5;yes;no;cellular;5;may;300;2;-1;0;unknown;no"
    ).toDF("value"))
    assert(res.processed.select("job").head().getString(0) == "ad;min")
  }

  test("arity errors carry the exact Python-shaped message") {
    val res = BankingPipeline.fromLines(Seq(
      "a;b;c",
      valid + ";extra"
    ).toDF("value"))
    val msgs = res.errors.select("error_type", "error_message")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(msgs == Set(
      ("parsing_error", "ParseError: Expected 17 columns, got 3"),
      ("parsing_error", "ParseError: Expected 17 columns, got 18")))
  }

  test("coercion failures name the first bad field like Python") {
    val res = BankingPipeline.fromLines(Seq(
      valid.replace("42;admin", "4x2;admin"),           // bad int age
      valid.replace(";1500.5;", ";12,5;")               // bad float balance
    ).toDF("value"))
    val msgs = res.errors.select("error_message").as[String].collect().toSet
    assert(msgs == Set(
      "ParseError: invalid literal for int() with base 10: '4x2'",
      "ParseError: could not convert string to float: '12,5'"))
  }

  test("balance coercion matches Python float() on edge tokens") {
    def withBalance(tok: String) = valid.replace(";1500.5;", s";$tok;")
    // Java-only forms Python rejects -> error channel.
    val res = BankingPipeline.fromLines(Seq(
      withBalance("5d"), withBalance("5f"), withBalance("0x1p3"),
      withBalance("1__0"), withBalance("_1"),    // bad underscore grouping
      // Python-accepted forms Java's parseDouble rejects or both accept.
      withBalance("inf"), withBalance("-INFINITY"), withBalance("+.5e2"),
      withBalance("7."), withBalance("1_000.5")  // digit-group underscore
    ).toDF("value"))
    val errs = res.errors.select("error_message").as[String].collect().toSet
    assert(errs == Set(
      "ParseError: could not convert string to float: '5d'",
      "ParseError: could not convert string to float: '5f'",
      "ParseError: could not convert string to float: '0x1p3'",
      "ParseError: could not convert string to float: '1__0'",
      "ParseError: could not convert string to float: '_1'"))
    val ok = res.processed.select("balance").as[Double].collect().toSet
    assert(ok == Set(Double.PositiveInfinity, Double.NegativeInfinity,
      50.0, 7.0, 1000.5))
  }

  test("one header per file part is dropped (Beam skip_header_lines=1 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-parts")
    val header = "age;job;marital;education;default;balance;housing;loan;" +
      "contact;day;month;duration;campaign;pdays;previous;poutcome;y"
    java.nio.file.Files.write(dir.resolve("part-0.csv"),
      java.util.Arrays.asList(header, valid))
    // The UCI distribution quotes every header token; the predicate is
    // the FULL 17-name shape, so quoting/whitespace variants are still
    // headers but nothing shorter is.
    val quoted = header.split(";").map("\"" + _ + "\"").mkString(";")
    java.nio.file.Files.write(dir.resolve("part-1.csv"),
      java.util.Arrays.asList(quoted, valid, valid))
    val lines = BankingPipeline.readCsvLines(spark, dir.toString)
    assert(lines.count() == 3) // both headers gone, all data rows kept
    val res = BankingPipeline.fromLines(lines)
    assert(res.processed.count() == 3 && res.errors.count() == 0)
    // Hadoop's line reader strips a leading UTF-8 BOM, so a BOM-prefixed
    // header reaches the predicate as a plain header and is dropped too.
    val bom = dir.resolve("part-2.csv")
    java.nio.file.Files.write(bom, ("\uFEFF" + header + "\n" + valid + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(spark.read.text(bom.toString).head().getString(0).head == 'a')
    assert(BankingPipeline.readCsvLines(spark, dir.toString).count() == 4)
  }

  test("a data row starting with 'age' is NOT silently dropped as a header") {
    // A malformed mid-file row whose first token is the column name must
    // reach the parsing_error channel like the reference's positional
    // skip_header_lines=1 would route it (ADVICE r2).
    val rows = Seq("age;oops;truncated", valid).toDF("value")
      .where(!BankingPipeline.isHeaderLine(col("value")))
    assert(rows.count() == 2)
    val res = BankingPipeline.fromLines(rows)
    assert(res.processed.count() == 1 && res.errors.count() == 1)
    assert(res.errors.select("error_type").as[String].head() == "parsing_error")
  }

  test("age range validation inclusive [18,100] (bp.py:171)") {
    def withAge(a: Int) = valid.replaceFirst("^42", a.toString)
    val res = BankingPipeline.fromLines(
      Seq(withAge(17), withAge(18), withAge(100), withAge(101)).toDF("value"))
    assert(res.processed.count() == 2)
    val errs = res.errors.select("error_type", "error_message").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(errs == Set(
      ("data_validation", "ValidationError: Age 17 outside valid range"),
      ("data_validation", "ValidationError: Age 101 outside valid range")))
  }

  test("every input row lands in exactly one of processed/errors") {
    val lines = (1 to 50).map { i =>
      if (i % 7 == 0) s"bad$i;x" // parse error
      else if (i % 5 == 0) valid.replaceFirst("^42", "150") // validation
      else valid
    }
    val res = BankingPipeline.fromLines(lines.toDF("value"))
    assert(res.processed.count() + res.errors.count() == lines.size)
  }

  test("processed schema is the declared 30-column output (bp.py:48-78)") {
    val res = BankingPipeline.fromLines(Seq(valid).toDF("value"))
    assert(res.processed.columns.toSeq == BankSchema.outputColumns)
    assert(res.errors.columns.toSeq ==
      Seq("raw_data", "error_message", "error_type", "timestamp"))
  }

  test("prepare stamps: per-record uuid, version 1.2 (bp.py:278-282)") {
    val res = BankingPipeline.fromLines(Seq(valid, valid).toDF("value"))
    val rows = res.processed.select("_batch_id", "_pipeline_version").collect()
    assert(rows.map(_.getString(0)).distinct.length == 2) // fresh uuid each
    assert(rows.forall(_.getString(1) == "1.2"))
  }

  test("all stamps of one pipeline build carry one instant") {
    val res = BankingPipeline.fromLines(Seq(valid, "a;b;c").toDF("value"))
    val stamps = res.processed.select("_ingestion_timestamp",
      "_processing_timestamp", "processing_timestamp").head()
    assert(stamps.getTimestamp(0) == stamps.getTimestamp(1) &&
      stamps.getTimestamp(1) == stamps.getTimestamp(2))
    assert(res.errors.select("timestamp").head().getTimestamp(0) ==
      stamps.getTimestamp(0))
  }

  test("the ETL generates identical code from build to build") {
    // Stamps inlined as literals would make every build's source unique,
    // so each run would recompile and start cold in the JIT.
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val lines = Seq(valid, "a;b;c").toDF("value")
    def code(): Seq[String] = codegenStringSeq(
      BankingPipeline.fromLines(lines).processed.queryExecution.executedPlan)
      .map(_._2).sorted
    val first = code()
    Thread.sleep(5)
    assert(first.nonEmpty && first == code())
  }

  test("error rows from stage k are not enriched by stage k+1 (short-circuit)") {
    val staged = graft.etl.Segment(graft.etl.ValidateEnrich(
      graft.etl.Parse(Seq(valid.replaceFirst("^42", "150")).toDF("value"))))
    val r = staged.select("age_group", "rfm_scores", "customer_segment").head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("whole main pipeline is a single narrow stage (no exchange)") {
    val res = BankingPipeline.fromLines(Seq(valid).toDF("value"))
    val plan = res.processed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }
}
