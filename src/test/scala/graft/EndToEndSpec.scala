package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.{BankingPipeline, EtlConfig, RunBankingEtl}

/** File-in/file-out end-to-end over the checked-in boundary fixture:
  * covers S1 (text source + header skip), S2 (CLI options), the full
  * stage stack, and K1-K3 sinks.
  */
class EndToEndSpec extends SparkSpec {

  private def fixturePath: String =
    getClass.getResource("/bank_fixture.csv").getPath

  test("S1: header line is dropped, all 50 data rows flow through") {
    val lines = BankingPipeline.readCsvLines(spark, fixturePath)
    assert(lines.count() == 50)
    val res = BankingPipeline.fromLines(lines)
    assert(res.processed.count() + res.errors.count() == 50)
  }

  test("fixture error paths: 4 parse errors + 2 validation errors") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    val byType = res.errors.groupBy("error_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("parsing_error" -> 4L, "data_validation" -> 2L))
  }

  test("quoted semicolon and case/space normalization survive the file path") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    val jobs = res.processed.select("job").distinct()
      .collect().map(_.getString(0)).toSet
    assert(jobs.contains("tech;nician"))
    assert(jobs.contains("management"))
  }

  test("S2/K1-K3: CLI config end-to-end writes parquet tables") {
    val out = Files.createTempDirectory("graft-e2e").toString
    val cfg = EtlConfig.parse(Seq(
      "--input_path", fixturePath,
      "--output_table", s"$out/processed",
      "--error_table", s"$out/errors",
      "--min_age", "18", "--max_age", "100"))
    RunBankingEtl.run(spark, cfg)
    val processed = spark.read.parquet(s"$out/processed")
    val errors = spark.read.parquet(s"$out/errors")
    assert(processed.count() == 44 && errors.count() == 6)
    assert(processed.columns.contains("customer_segment"))
    // Append semantics (the reference's get-or-create + append sink)
    RunBankingEtl.run(spark, cfg)
    assert(spark.read.parquet(s"$out/processed").count() == 88)
  }

  private def runFixture(input: String): Seq[String] = {
    val out = Files.createTempDirectory("graft-e2e").toString
    RunBankingEtl.run(spark, EtlConfig(input, s"$out/processed", s"$out/errors"))
    spark.read.parquet(s"$out/processed").select("_batch_id")
      .collect().map(_.getString(0)).toSeq
  }

  test("K3: two runs write disjoint _batch_id sets") {
    val a = runFixture(fixturePath)
    val b = runFixture(fixturePath)
    assert(a.size == 44 && b.size == 44)
    assert(a.toSet.intersect(b.toSet).isEmpty)
  }

  test("K3: _batch_id is distinct within a run spanning partitions") {
    // Two copies of the same file: identical rows in two partitions,
    // each partition's generator seeded apart.
    val dir = Files.createTempDirectory("graft-e2e-parts")
    Seq("a.csv", "b.csv").foreach(n =>
      Files.copy(java.nio.file.Paths.get(fixturePath), dir.resolve(n)))
    assert(BankingPipeline.readCsvLines(spark, dir.toString)
      .rdd.getNumPartitions >= 2)
    val ids = runFixture(dir.toString)
    assert(ids.size == 88)
    assert(ids.distinct.size == ids.size,
      s"${ids.size - ids.distinct.size} duplicate _batch_id values")
  }

  test("S2: custom age bounds are honored") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath),
      minAge = 30, maxAge = 49)
    val ages = res.processed.select("age").collect().map(_.getInt(0))
    assert(ages.nonEmpty && ages.forall(a => a >= 30 && a <= 49))
  }

  test("S2: gs:// paths are rejected, not silently rewritten") {
    val e = intercept[IllegalArgumentException] {
      EtlConfig.parse(Seq("--input_path", "gs://bucket/x.csv",
        "--output_table", "t", "--error_table", "e"))
    }
    assert(e.getMessage.contains("gs://"))
  }

  test("S2: missing required option names itself") {
    val e = intercept[IllegalArgumentException] {
      EtlConfig.parse(Seq("--input_path", "x.csv"))
    }
    assert(e.getMessage.contains("--output_table"))
  }

  test("scoring breakpoints from fixture match the reference tables") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    val rec = res.processed
      .select("pdays", "rfm_scores").where(col("previous") === 0)
      .collect().map(r => r.getInt(0) ->
        r.getString(1).split("\"recency\": ")(1).takeWhile(_.isDigit).toInt)
      .toMap
    val expected = Map(-1 -> 1, 0 -> 5, 7 -> 5, 8 -> 4, 30 -> 4, 31 -> 3,
      90 -> 3, 91 -> 2, 180 -> 2, 181 -> 1)
    expected.foreach { case (p, want) =>
      assert(rec.get(p).contains(want), s"pdays=$p want recency=$want got ${rec.get(p)}")
    }
  }

  test("K1/K2: json sink writes real JSON lines (reference wrote dict repr)") {
    val out = java.nio.file.Files.createTempDirectory("graft-json").toString
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    BankingPipeline.writeJson(res.errors, s"$out/errors")
    val lines = spark.read.text(s"$out/errors").collect().map(_.getString(0))
    assert(lines.length == 6)
    lines.foreach { l =>
      val parsed = spark.range(1).select(
        from_json(lit(l), org.apache.spark.sql.types.StructType.fromDDL(
          "raw_data STRING, error_message STRING, error_type STRING, timestamp TIMESTAMP"))).head().getStruct(0)
      assert(parsed != null && parsed.getString(2) != null) // valid JSON, typed
    }
  }
}
