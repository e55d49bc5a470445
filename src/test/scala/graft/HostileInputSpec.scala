package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{BankingPipeline, EtlConfig, RunBankingEtl}

/** Writes a directory of hostile semicolon-CSV files and records what the
  * job must make of them: CRLF, lone-CR and LF endings, invalid UTF-8 and
  * NUL bytes inside fields, empty lines, one line of about 1 MB, an empty
  * file, a header-only file, headerless files and about 50 small files.
  * Every data line is built so its outcome (processed, parsing_error or
  * data_validation) is known without running the parser.
  */
object HostileInput {
  final case class Manifest(files: Int, lines: Long, headerFiles: Long,
                            processed: Long, errors: Map[String, Long])

  val Header = "age;job;marital;education;default;balance;housing;loan;" +
    "contact;day;month;duration;campaign;pdays;previous;poutcome;y"
  private val QuotedHeader = Header.split(";").map(c => "\"" + c + "\"").mkString(";")
  /** Stands for two bytes that are not UTF-8 (0xFF, 0xC0) in a line's text. */
  private val Bad = '\uE000'
  private val BadBytes = Array(0xFF.toByte, 0xC0.toByte)

  private def encode(line: String): Array[Byte] =
    line.split(Bad.toString, -1).map(_.getBytes(UTF_8)).reduce(_ ++ BadBytes ++ _)

  private def fields(r: Random, age: String = null, job: String = null,
                     balance: String = null, day: String = null): Seq[String] = Seq(
    Option(age).getOrElse((18 + r.nextInt(83)).toString),
    Option(job).getOrElse(r.shuffle(Seq("admin", " Technician ", "\"tech;nician\"",
      "blue-collar", "RETIRED")).head),
    "married", "tertiary", "no",
    Option(balance).getOrElse(f"${r.nextInt(200000) / 10.0 - 5000}%.1f"),
    "yes", "no", "cellular", Option(day).getOrElse((1 + r.nextInt(31)).toString),
    "may", r.nextInt(4000).toString, (1 + r.nextInt(9)).toString,
    Seq("-1", "3", "45", "200")(r.nextInt(4)), r.nextInt(5).toString, "unknown",
    if (r.nextBoolean()) "no" else "YES")

  private val Processed = "processed"
  private val ParsingError = "parsing_error"
  private val DataValidation = "data_validation"

  /** One data line and where it must land. */
  private def dataLine(r: Random): (String, String) = {
    def row(f: Seq[String]) = f.mkString(";")
    r.nextInt(13) match {
      case 0 => row(fields(r, job = "adm\u0000in")) -> Processed
      case 1 => row(fields(r, job = s"cl${Bad}erk")) -> Processed
      case 2 => row(fields(r, age = r.nextInt(18).toString)) -> DataValidation
      case 3 => row(fields(r, age = (101 + r.nextInt(50)).toString)) -> DataValidation
      case 4 => "" -> ParsingError
      case 5 => "a;b;c" -> ParsingError
      case 6 => (row(fields(r)) + ";extra") -> ParsingError
      case 7 => row(fields(r, age = "4\u00002")) -> ParsingError
      case 8 => row(fields(r, age = s"4${Bad}2")) -> ParsingError
      case 9 => row(fields(r, day = s"1${Bad}")) -> ParsingError
      case 10 => row(fields(r, balance = "n/a")) -> ParsingError
      case _ => row(fields(r)) -> Processed
    }
  }

  /** Writes the files under `dir` (which must exist) and returns what the
    * job must report for them.
    */
  def write(dir: Path, seed: Long): Manifest = {
    val r = new Random(seed)
    var (files, lines, headerFiles) = (0, 0L, 0L)
    val landed = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    def file(name: String, header: Option[String], data: Seq[(String, String)],
             eol: String, lastEol: Boolean): Unit = {
      val all = header.toSeq ++ data.map(_._1)
      // An empty last line exists only if it has its ending.
      val ended = lastEol || all.lastOption.contains("")
      val body = all.map(encode).zipWithIndex.flatMap { case (l, i) =>
        if (i < all.size - 1 || ended) l ++ eol.getBytes(UTF_8) else l
      }.toArray
      Files.write(dir.resolve(name), body)
      files += 1
      lines += all.size
      if (header.nonEmpty) headerFiles += 1
      data.foreach { case (_, where) => landed(where) += 1 }
    }
    val eols = Seq("\n", "\r\n", "\r")
    for (i <- 0 until 50) {
      val header = r.nextInt(10) match {
        case 0 => None
        case 1 | 2 => Some(QuotedHeader)
        case _ => Some(Header)
      }
      file(f"part-$i%02d.csv", header, Seq.fill(r.nextInt(30))(dataLine(r)),
        eols(i % 3), lastEol = r.nextInt(4) != 0)
    }
    file("empty.csv", None, Nil, "\n", lastEol = true)
    file("header-only.csv", Some(Header), Nil, "\r\n", lastEol = true)
    val huge = fields(r).mkString(";") + ";" + "z" * (1 << 20)
    file("huge.csv", Some(Header),
      Seq.fill(200)(dataLine(r)) ++ Seq(huge -> ParsingError) ++ Seq.fill(200)(dataLine(r)),
      "\r\n", lastEol = false)
    Manifest(files, lines, headerFiles, landed(Processed),
      Map(ParsingError -> landed(ParsingError), DataValidation -> landed(DataValidation)))
  }

  /** Lines in `bytes` as Hadoop's `LineRecordReader` splits them: `\n`,
    * `\r\n` and a lone `\r` each end one, and a last line without an
    * ending is a line too.
    */
  def lineCount(bytes: Array[Byte]): Long = {
    val ends = bytes.indices.count { i =>
      bytes(i) == '\n' || (bytes(i) == '\r' && (i + 1 == bytes.length || bytes(i + 1) != '\n'))
    }
    val open = bytes.nonEmpty && bytes.last != '\n' && bytes.last != '\r'
    ends + (if (open) 1 else 0)
  }
}

/** The file-to-sink job over [[HostileInput]]: conservation, the stats
  * table's line counts, and error records equal to `split`'s.
  */
class HostileInputSpec extends SparkSpec {

  test("hostile files: every data line lands in one sink, counts match the line reader") {
    val in = Files.createTempDirectory("graft-hostile")
    val m = HostileInput.write(in, seed = 20261019L)
    val files = Files.list(in).toArray.map(_.asInstanceOf[Path])
    assert(files.length == m.files)
    assert(files.map(f => HostileInput.lineCount(Files.readAllBytes(f))).sum == m.lines)
    assert(m.processed > 0 && m.errors.values.forall(_ > 0))
    assert(m.headerFiles < m.files - 1, "a small file without a header")

    val out = Files.createTempDirectory("graft-hostile-out").toString
    RunBankingEtl.run(spark, EtlConfig(in.toString, s"$out/processed", s"$out/errors",
      statsTable = Some(s"$out/stats")))
    val processed = spark.read.parquet(s"$out/processed")
    val errors = spark.read.parquet(s"$out/errors")
    val stats = spark.read.parquet(s"$out/stats").where(col("key").isNull)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(stats("lines_read") == m.lines)
    assert(stats("headers_dropped") == m.headerFiles)
    assert(processed.count() == m.processed)
    assert(stats("rows_processed") == m.processed)
    val byType = errors.groupBy("error_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == m.errors)
    assert(m.processed + m.errors.values.sum == m.lines - m.headerFiles)

    def messages(df: DataFrame): Map[(String, String), Int] =
      df.select("error_type", "error_message").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).map { case (k, v) => k -> v.length }
    val want = BankingPipeline.fromLines(BankingPipeline.readCsvLines(spark, in.toString))
    assert(messages(errors) == messages(want.errors))
    assert(errors.where(length(col("raw_data")) > (1 << 20)).count() == 1)
  }
}
