package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.SplittableRandom

import graft.schema.BankSchema

/** Expected outcome of one generated ETL input, known from how each line
  * was made: the output check compares the sinks against it exactly.
  */
final case class EtlManifest(
    dataLines: Long,
    files: Int,
    bytes: Long,
    processed: Long,
    errorsByType: Map[String, Long]) {

  def toJson: String = {
    val errs = errorsByType.toSeq.sorted
      .map { case (t, n) => s""""$t": $n""" }.mkString(", ")
    s"""{"data_lines": $dataLines, "files": $files, "bytes": $bytes, """ +
      s""""processed": $processed, "errors_by_type": {$errs}}"""
  }
}

/** One ETL input shape: how many data lines, split over how many files
  * (each with its own header), what share of them are error lines, and
  * whether some quoted string fields carry a literal semicolon.
  */
final case class EtlShape(lines: Int, files: Int, errorShare: Double,
                          quotedSemicolons: Boolean)

/** Seeded generator of the reference's native input: semicolon CSV in the
  * UCI bank-marketing shape (every string field double-quoted, one quoted
  * header per file, LF line ends, no BOM, ASCII only). The same seed and
  * shape always give byte-identical files.
  *
  * Every line is made with a known fate under the pipeline's rules
  * (`ParseBankLine`, then the 18..100 age validation), so the manifest's
  * counts are exact, not estimated:
  *  - processed: values drawn across every scoring branch (recency,
  *    frequency, monetary, age group, wealth segment, day type);
  *  - `parsing_error`: wrong arity, a non-integer integer field, or a
  *    balance Python's `float()` rejects;
  *  - `data_validation`: a well-formed line whose age is out of range.
  */
object InputGen {
  val ParsingError = "parsing_error"
  val DataValidation = "data_validation"

  val Header: String =
    BankSchema.inputColumns.map(c => "\"" + c + "\"").mkString(";")

  private val jobs = Array("admin.", "blue-collar", "entrepreneur",
    "housemaid", "management", "retired", "self-employed", "services",
    "student", "technician", "unemployed", "unknown")
  private val maritals = Array("married", "single", "divorced")
  private val educations = Array("primary", "secondary", "tertiary", "unknown")
  private val yesNo = Array("yes", "no")
  private val contacts = Array("cellular", "telephone", "unknown")
  private val months = Array("jan", "feb", "mar", "apr", "may", "jun", "jul",
    "aug", "sep", "oct", "nov", "dec")
  private val poutcomes = Array("success", "failure", "other", "unknown")
  // Not "1.5": Spark's integer parser accepts and truncates a decimal part.
  private val badInts = Array("abc", "4x", "", "--3", "1e3")
  private val badFloats = Array("12.3.4", "1e", "0x1p3", "5d", "n/a")

  private def q(s: String): String = "\"" + s + "\""
  private def pick(r: SplittableRandom, a: Array[String]): String =
    a(r.nextInt(a.length))

  /** The 17 fields of a line that parses and validates. Balances span
    * -8000..129999 with cents on a third of them, pdays -1..399 and
    * previous 0..14, so every piecewise score bucket is reached.
    */
  private def validFields(r: SplittableRandom, semicolons: Boolean): Array[String] = {
    val job = pick(r, jobs)
    val balance = {
      val whole = r.nextInt(138000) - 8000
      if (r.nextInt(3) == 0) s"$whole.${r.nextInt(100)}" else whole.toString
    }
    Array(
      (18 + r.nextInt(83)).toString,
      // A literal ';' inside quotes must not split the field.
      q(if (semicolons && r.nextInt(4) == 0) s"$job;part-time" else job),
      q(pick(r, maritals)),
      q(pick(r, educations)),
      q(pick(r, yesNo)),
      balance,
      q(pick(r, yesNo)),
      q(pick(r, yesNo)),
      q(pick(r, contacts)),
      (1 + r.nextInt(31)).toString,
      q(pick(r, months)),
      r.nextInt(1300).toString,
      (1 + r.nextInt(15)).toString,
      (r.nextInt(401) - 1).toString,
      r.nextInt(15).toString,
      q(pick(r, poutcomes)),
      q(pick(r, yesNo)))
  }

  /** One error line and its expected `error_type`. */
  private def errorLine(r: SplittableRandom, semicolons: Boolean): (String, String) = {
    val f = validFields(r, semicolons)
    r.nextInt(4) match {
      case 0 => // arity: one field short or one too many
        val line = if (r.nextBoolean()) f.init.mkString(";")
                   else (f :+ q("extra")).mkString(";")
        (line, ParsingError)
      case 1 => // an integer field that int() rejects
        val pos = Array(0, 9, 11, 12, 13, 14)(r.nextInt(6))
        f(pos) = pick(r, badInts)
        (f.mkString(";"), ParsingError)
      case 2 => // a balance that float() rejects
        f(5) = pick(r, badFloats)
        (f.mkString(";"), ParsingError)
      case _ => // well-formed, age outside 18..100
        f(0) = (if (r.nextBoolean()) r.nextInt(18) else 101 + r.nextInt(20)).toString
        (f.mkString(";"), DataValidation)
    }
  }

  /** Writes `shape.files` files `part-NNNNN.csv` into `dir` (created,
    * and expected empty) and returns the manifest.
    */
  def etl(dir: File, seed: Long, shape: EtlShape): EtlManifest = {
    require(shape.files >= 1 && shape.lines >= shape.files, s"bad shape $shape")
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    var processed = 0L
    val errors = scala.collection.mutable.Map(ParsingError -> 0L, DataValidation -> 0L)
    var bytes = 0L
    val nl = "\n".getBytes(US_ASCII)
    for (fi <- 0 until shape.files) {
      val n = shape.lines / shape.files + (if (fi < shape.lines % shape.files) 1 else 0)
      val file = new File(dir, f"part-$fi%05d.csv")
      val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 20)
      try {
        def write(s: String): Unit = {
          val b = s.getBytes(US_ASCII)
          out.write(b); out.write(nl)
          bytes += b.length + 1
        }
        write(Header)
        var i = 0
        while (i < n) {
          if (r.nextDouble() < shape.errorShare) {
            val (line, kind) = errorLine(r, shape.quotedSemicolons)
            errors(kind) += 1
            write(line)
          } else {
            processed += 1
            write(validFields(r, shape.quotedSemicolons).mkString(";"))
          }
          i += 1
        }
      } finally out.close()
    }
    EtlManifest(shape.lines.toLong, shape.files, bytes, processed, errors.toMap)
  }
}
