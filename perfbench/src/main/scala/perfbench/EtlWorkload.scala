package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{Parse, Prepare, Segment, ValidateEnrich}
import graft.pipeline.{BankingPipeline, EtlConfig, RunBankingEtl}

/** The reference's batch job, file to both sinks: `RunBankingEtl.run` over
  * the generated semicolon files into a fresh pair of parquet sinks.
  */
final class EtlWorkload(work: File, seed: Long, shape: EtlShape) extends Workload {
  import Workload._

  private val input = new File(work, "input")
  private val sinks = new File(work, "sinks")
  private var manifest: EtlManifest = _
  private var unitNo = 0

  override def prepare(): Unit = {
    manifest = InputGen.etl(input, seed, shape)
    Files.write(new File(work, "manifest.json").toPath, manifest.toJson.getBytes(UTF_8))
  }

  private def freshSinks(): (File, File) = {
    unitNo += 1
    val dir = new File(sinks, s"unit-$unitNo")
    (new File(dir, "processed"), new File(dir, "errors"))
  }

  def runUnit(spark: SparkSession, counters: Option[EngineCounters]): UnitRun = {
    val (processedDir, errorsDir) = freshSinks()
    val cfg = EtlConfig(input.getPath, processedDir.getPath, errorsDir.getPath)
    counters.foreach(_.reset())
    val (wall, cpu, _) = timed(RunBankingEtl.run(spark, cfg))
    val engine = counters.map(_.read())

    // Untimed: the sinks must hold exactly the manifest's rows. They are
    // deleted afterwards, because `writeTable` appends.
    val processed = spark.read.parquet(processedDir.getPath).count()
    val errors = spark.read.parquet(errorsDir.getPath).groupBy("error_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ok = processed == manifest.processed &&
      errors == manifest.errorsByType.filter(_._2 > 0) &&
      processed + errors.values.sum == manifest.dataLines
    val layers = engine.fold(Map.empty[String, Double]) { t =>
      val files = dataFiles(processedDir.getParentFile)
      engineLayers(t) ++ Map(
        "pipeline.jobs" -> t.jobs.toDouble,
        "pipeline.bytes_read_ratio" -> t.inputBytes.toDouble / manifest.bytes,
        "pipeline.rows_processed" -> processed.toDouble,
        "pipeline.sink_files" -> files.size.toDouble,
        "pipeline.sink_mb" -> files.map(_.length).sum / Metrics.MiB) ++
        Seq(InputGen.ParsingError, InputGen.DataValidation).map(kind =>
          s"pipeline.rows_error.$kind" -> errors.getOrElse(kind, 0L).toDouble)
    }
    deleteRecursively(processedDir.getParentFile)
    UnitRun(wall, cpu, processed + errors.values.sum, Seq(wall), ok, layers)
  }

  /** The prefix ladder: each prefix of the job drained to the `noop` sink,
    * a step's self time being its prefix's wall minus the previous one's.
    * Both split branches follow `prepare`. A sink's self time is its
    * parquet write minus the noop drain of the same frame. Each figure is
    * the median over `LadderReps` repetitions.
    */
  override def probeLayers(spark: SparkSession): Map[String, Double] = {
    def drain(df: DataFrame): Double =
      timed(df.write.format("noop").mode("overwrite").save())._1
    val reps = (1 to EtlWorkload.LadderReps).map { _ =>
      val path = input.getPath
      val scan = spark.read.text(path)
      val lines = BankingPipeline.readCsvLines(spark, path)
      val parsed = Parse(lines)
      val validated = ValidateEnrich(parsed)
      val segmented = Segment(validated)
      val prepared = Prepare(segmented)
      val split = BankingPipeline.split(prepared)
      val walls = Seq(scan, lines, parsed, validated, segmented, prepared,
        split.processed, split.errors).map(drain)
      val (processedDir, errorsDir) = freshSinks()
      val sinkProcessed =
        timed(BankingPipeline.writeTable(split.processed, processedDir.getPath))._1
      val sinkErrors =
        timed(BankingPipeline.writeTable(split.errors, errorsDir.getPath))._1
      deleteRecursively(processedDir.getParentFile)
      Map(
        "pipeline.scan_s" -> walls(0),
        "pipeline.header_filter_s" -> (walls(1) - walls(0)),
        "etl.parse_s" -> (walls(2) - walls(1)),
        "etl.validate_s" -> (walls(3) - walls(2)),
        "etl.segment_s" -> (walls(4) - walls(3)),
        "etl.prepare_s" -> (walls(5) - walls(4)),
        "pipeline.split_processed_s" -> (walls(6) - walls(5)),
        "pipeline.split_errors_s" -> (walls(7) - walls(5)),
        "pipeline.sink_processed_s" -> (sinkProcessed - walls(6)),
        "pipeline.sink_errors_s" -> (sinkErrors - walls(7)))
    }
    reps.head.keys.map(k => k -> Metrics.median(reps.map(_(k)))).toMap
  }
}

object EtlWorkload {
  val LadderReps = 3
}
