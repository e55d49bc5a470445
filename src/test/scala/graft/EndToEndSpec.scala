package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.pipeline.{BankingPipeline, EtlConfig, RunBankingEtl}
import graft.schema.{BankSchema, Thresholds}

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

  private val header = Files.readAllLines(Paths.get(fixturePath)).get(0)
  private val valid =
    "42;admin;married;tertiary;no;1500.5;yes;no;cellular;5;may;300;2;-1;0;unknown;no"
  private val parseErrors = Seq("a;b;c", valid.replace("42;admin", "4x2;admin"))
  private val validationErrors = Seq(valid.replaceFirst("^42", "150"))

  private def csv(dir: Path, name: String, lines: Seq[String]): Path =
    Files.write(dir.resolve(name), (header +: lines).asJava)

  /** Rows as a multiset, without the per-record uuid and run-instant stamps. */
  private def bag(df: DataFrame): Map[Row, Int] =
    df.drop("_batch_id", "_ingestion_timestamp", "_processing_timestamp",
      "processing_timestamp", "timestamp")
      .collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def assertSinksMatchSplit(input: String): Unit = {
    val out = Files.createTempDirectory("graft-e2e-sinks").toString
    RunBankingEtl.run(spark, EtlConfig(input, s"$out/processed", s"$out/errors"))
    val want = BankingPipeline.fromLines(BankingPipeline.readCsvLines(spark, input))
    val processed = spark.read.parquet(s"$out/processed")
    val errors = spark.read.parquet(s"$out/errors")
    assert(processed.columns.toSeq == BankSchema.outputColumns)
    assert(errors.schema == BankSchema.errorSchema)
    assert(bag(processed) == bag(want.processed), input)
    assert(bag(errors) == bag(want.errors), input)
  }

  test("K1-K3: the one-job dual-sink write equals split's processed/errors") {
    val dir = Files.createTempDirectory("graft-e2e-inputs")
    val multi = Files.createDirectory(dir.resolve("multi"))
    Files.copy(Paths.get(fixturePath), multi.resolve("a.csv"))
    csv(multi, "b.csv", Seq.fill(20)(valid) ++ parseErrors ++ validationErrors)
    csv(multi, "c.csv", validationErrors ++ Seq.fill(5)(valid) ++ parseErrors)
    assert(BankingPipeline.readCsvLines(spark, multi.toString)
      .rdd.getNumPartitions >= 2)
    Seq(fixturePath, multi.toString,
      csv(dir, "valid.csv", Seq.fill(30)(valid)).toString,
      csv(dir, "errors.csv", parseErrors ++ validationErrors).toString)
      .foreach(assertSinksMatchSplit)
  }

  test("--stats_table holds the counts read back from both sinks") {
    val out = Files.createTempDirectory("graft-e2e-stats").toString
    RunBankingEtl.run(spark, EtlConfig(fixturePath, s"$out/processed",
      s"$out/errors", statsTable = Some(s"$out/stats")))
    val processed = spark.read.parquet(s"$out/processed")
    val errors = spark.read.parquet(s"$out/errors")
    def counts(df: DataFrame, by: String) = df.groupBy(by).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val stats = spark.read.parquet(s"$out/stats")
    def stat(name: String) = stats.where(col("stat") === name)
      .select("key", "rows").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stat("rows_processed") == Set((null, processed.count())))
    assert(stat("rows_error") == counts(errors, "error_type"))
    assert(stat("rows_segment") == counts(processed, "customer_segment"))
    assert(stats.select("timestamp").distinct().collect().toSeq ==
      processed.select("_ingestion_timestamp").distinct().collect().toSeq)
  }

  test("--stats_table counts every line read and one header dropped per file") {
    val dir = Files.createTempDirectory("graft-e2e-lines")
    val multi = Files.createDirectory(dir.resolve("multi"))
    Files.copy(Paths.get(fixturePath), multi.resolve("a.csv"))
    csv(multi, "b.csv", Seq.fill(20)(valid) ++ parseErrors)
    csv(multi, "c.csv", validationErrors ++ Seq.fill(5)(valid))
    Seq(Paths.get(fixturePath) -> 1L, multi -> 3L).foreach { case (input, files) =>
      val lines = Files.walk(input).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.readAllLines(_).size.toLong).sum
      val out = Files.createTempDirectory("graft-e2e-lines-out").toString
      RunBankingEtl.run(spark, EtlConfig(input.toString, s"$out/processed",
        s"$out/errors", statsTable = Some(s"$out/stats")))
      val stats = spark.read.parquet(s"$out/stats").where(col("key").isNull)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(stats("lines_read") == lines, input)
      assert(stats("headers_dropped") == files, input)
      assert(stats("rows_processed") + spark.read.parquet(s"$out/errors").count() ==
        lines - files, input)
    }
  }

  test("a run leaves the caller's split conf, its scan plans and its heap as they were") {
    // A session of its own, so no earlier run has touched its conf.
    val caller = spark.newSession()
    val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    def conf() = keys.map(caller.conf.getOption)
    // One parquet file of about 1 MB: one split at the default 4 MiB open
    // cost, four at the ETL's.
    val tables = Files.createTempDirectory("graft-e2e-tables").toString
    caller.range(0, 200000, 1, 1).selectExpr("id", "id * 2 AS twice")
      .write.parquet(s"$tables/t.parquet")
    def tableSplits() = graft.ops.TestData.table(caller, tables, "t").select(col("*"))
      .rdd.getNumPartitions
    val (confBefore, splitsBefore) = (conf(), tableSplits())
    val out = Files.createTempDirectory("graft-e2e-iso").toString
    def runOnce(i: Int): Unit =
      RunBankingEtl.run(caller, EtlConfig(fixturePath, s"$out/$i/processed", s"$out/$i/errors"))
    runOnce(0)
    assert(conf() == confBefore)
    assert(tableSplits() == splitsBefore)
    // One GC leaves behind what it only made collectable: Spark's context
    // cleaner releases earlier suites' state after the collector reports
    // it, so a reading after one GC sat 28 MB above the next in a
    // multi-suite run. Collect until two readings in a row sit within
    // 0.5 MB of the lowest one seen, and return that lowest: a reading
    // above it still holds garbage, and a baseline that holds garbage
    // hides a leak of the same size.
    def settledHeap(): Long = {
      def usedAfterGc(): Long = {
        System.gc()
        Thread.sleep(200)
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }
      val slack = 512 * 1024
      var (prev, cur, rounds) = (usedAfterGc(), usedAfterGc(), 2)
      var low = math.min(prev, cur)
      while ((prev - low > slack || cur - low > slack) && rounds < 20) {
        prev = cur
        cur = usedAfterGc()
        low = math.min(low, cur)
        rounds += 1
      }
      low
    }
    val heapBefore = settledHeap()
    (1 to 20).foreach(runOnce)
    val grownMb = (settledHeap() - heapBefore) / (1024.0 * 1024)
    info(f"driver heap grew $grownMb%.2f MB over 20 runs")
    assert(grownMb <= 5, f"driver heap grew $grownMb%.1f MB over 20 runs")
  }

  private def partFiles(p: Path): Long =
    if (!Files.isDirectory(p)) 0
    else Files.walk(p).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-")).toLong

  test("a failed dual-sink job leaves no part file in either sink; a re-run writes once") {
    val out = Files.createTempDirectory("graft-e2e-fail")
    val processedDir = out.resolve("processed")
    val errorsPath = out.resolve("errors")
    Files.write(errorsPath, "a file where the error table should go".getBytes)
    val cfg = EtlConfig(fixturePath, processedDir.toString, errorsPath.toString)
    intercept[Exception](RunBankingEtl.run(spark, cfg))
    assert(partFiles(processedDir) == 0 && Files.isRegularFile(errorsPath))
    Files.delete(errorsPath)
    RunBankingEtl.run(spark, cfg)
    assert(spark.read.parquet(processedDir.toString).count() == 44)
    assert(spark.read.parquet(errorsPath.toString).count() == 6)
  }

  test("a write task failing after it wrote processed rows leaves no part file") {
    import org.apache.spark.sql.graftbridge.{DualSinkWrite, Sink}
    // Two partitions: one whose task commits its processed rows, and one
    // whose task fails at its last row, after many processed rows.
    val dir = Files.createTempDirectory("graft-e2e-task-fail")
    csv(dir, "a.csv", Seq(valid))
    csv(dir, "b.csv", Seq.fill(2000)(valid) ++ validationErrors)
    val out = Files.createTempDirectory("graft-e2e-task-fail-out")
    val (processedDir, errorsDir) = (out.resolve("processed"), out.resolve("errors"))
    val staged = BankingPipeline.stagesAfterParse(graft.etl.Parse(
      BankingPipeline.readCsvLines(spark, dir.toString)),
      Thresholds.MinValidAge, Thresholds.MaxValidAge)
    val e = intercept[Exception](DualSinkWrite(BankingPipeline.sinkRows(staged),
      graft.etl.Stage.ErrType,
      Sink(processedDir.toString, BankSchema.outputColumns.map(col), "customer_segment"),
      Sink(errorsDir.toString, Seq(raise_error(lit("boom")).cast("string").as("error_type")),
        "error_type")))
    assert(e.getMessage.contains("boom"))
    assert(partFiles(processedDir) == 0 && partFiles(errorsDir) == 0)
    RunBankingEtl.run(spark, EtlConfig(dir.toString, processedDir.toString, errorsDir.toString))
    assert(spark.read.parquet(processedDir.toString).count() == 2001)
    assert(spark.read.parquet(errorsDir.toString).count() == 1)
  }

  test("the dual-sink write refuses a main record that is not the frame's leading columns") {
    import org.apache.spark.sql.graftbridge.{DualSinkWrite, Sink}
    val out = Files.createTempDirectory("graft-e2e-leading")
    val rows = BankingPipeline.sinkRows(BankingPipeline.stagesAfterParse(
      graft.etl.Parse(BankingPipeline.readCsvLines(spark, fixturePath)),
      Thresholds.MinValidAge, Thresholds.MaxValidAge))
    val e = intercept[IllegalArgumentException](DualSinkWrite(rows, graft.etl.Stage.ErrType,
      Sink(out.resolve("p").toString, Seq(col("job"), col("age")), "job"),
      Sink(out.resolve("e").toString, Seq(col(graft.etl.Stage.ErrType)), graft.etl.Stage.ErrType)))
    assert(e.getMessage.contains("leading columns"))
    assert(partFiles(out) == 0)
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

  test("S2: a flag with no value names itself instead of being dropped") {
    val e = intercept[IllegalArgumentException] {
      EtlConfig.parse(Seq("--input_path", "x.csv", "--output_table", "t",
        "--error_table", "e", "--stats_table"))
    }
    assert(e.getMessage.contains("--stats_table"))
    val mid = intercept[IllegalArgumentException] {
      EtlConfig.parse(Seq("--input_path", "x.csv", "--stats_table",
        "--output_table", "t", "--error_table", "e"))
    }
    assert(mid.getMessage.contains("--stats_table"))
  }

  test("S2: a non-integer age bound names its flag") {
    val e = intercept[IllegalArgumentException] {
      EtlConfig.parse(Seq("--input_path", "x.csv", "--output_table", "t",
        "--error_table", "e", "--min_age", "eighteen"))
    }
    assert(e.getMessage.contains("--min_age") && e.getMessage.contains("eighteen"))
    assert(EtlConfig.parse(Seq("--input_path", "x.csv", "--output_table", "t",
      "--error_table", "e", "--min_age", "-5", "--max_age", "60")).minAge == -5)
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
