package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused parse of one banking CSV line straight to the typed 17-field
  * struct plus the parse-error channel — tokenize, arity check, positional
  * coercion with Python-exception-shaped messages, required-field check,
  * all in one imperative pass (bp.py:109-156 semantics, identical to the
  * composable formulation it replaces; the oracle gate pins equality).
  *
  * Why fused: the composable path (tokenize expression + 17 guarded
  * getItem extractions + 7 try_casts + 10 lower/trim + error-message
  * coalesce trees) evaluates ~40 expression nodes per row. This is one
  * static call building one InternalRow. Int coercion uses UTF8String's
  * own parser (the code path Cast uses); balance coercion is gated by a
  * Python-float-shaped pattern so acceptance matches the reference's
  * float() (and the oracle's TRY_CAST) rather than Java's wider grammar.
  */
case class ParseBankLine(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_parse_bank_line needs STRING input, got ${t.simpleString}")
  }

  override def dataType: DataType = ParseBankLine.outputType

  override protected def nullSafeEval(line: Any): Any =
    ParseBankLine.parse(line.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ParseBankLine.parse($c);")

  override protected def withNewChildInternal(newChild: Expression): ParseBankLine =
    copy(child = newChild)

  override def prettyName: String = "graft_parse_bank_line"
}

object ParseBankLine {
  import graft.schema.{BankSchema, Thresholds}

  /** 17 typed fields + _error_type + _error_message. */
  val outputType: StructType = StructType(
    BankSchema.inputFields :+
      StructField("_error_type", StringType) :+
      StructField("_error_message", StringType))

  private val N = Thresholds.NumCsvColumns
  // positions: 0 age(int) 5 balance(double) 9 day 11 duration 12 campaign
  // 13 pdays 14 previous (ints); rest lower/trim strings
  private val ParsingError = UTF8String.fromString("parsing_error")

  private def err(row: GenericInternalRow, msg: String): InternalRow = {
    row.update(N, ParsingError)
    row.update(N + 1, UTF8String.fromString(msg))
    row
  }

  // Python float()-shaped token: optional sign, then decimal digits
  // (with Python's between-digits underscore grouping, '1_000.5') with
  // optional point/exponent, or case-insensitive inf/infinity/nan.
  // Shields Double.parseDouble from the Java-only forms Python rejects
  // ('5d'/'5f' suffixes, hex floats like '0x1p3') and admits the
  // Python-only 'inf'/'INF'/underscore spellings Java rejects.
  // ASCII digits only, like the regex (\d) formulation this byte-level
  // scanner replaced — the scanner exists because the regex cost a
  // Matcher allocation + UTF8String->String conversion per balance
  // token on the hot CSV path (q42); grammar is CPython's
  // digitpart = digit (['_'] digit)*. The reject path allocates
  // nothing; the accept path allocates exactly the one String
  // Double.parseDouble requires.

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Does the remainder of `tok` from `from` equal `word` (lowercase
    * ASCII) case-insensitively, consuming the whole remainder?
    */
  private def restEqualsIgnoreCase(tok: UTF8String, from: Int,
                                   word: String): Boolean = {
    if (tok.numBytes - from != word.length) return false
    var j = 0
    while (j < word.length) {
      if ((tok.getByte(from + j) | 0x20) != word.charAt(j)) return false
      j += 1
    }
    true
  }

  /** Parse with Python float() semantics; null when the token is rejected. */
  private def pythonFloat(tok: UTF8String): java.lang.Double = {
    val n = tok.numBytes
    var i = 0
    var neg = false
    if (n > 0) {
      val b0 = tok.getByte(0)
      if (b0 == '+' || b0 == '-') { neg = b0 == '-'; i = 1 }
    }
    if (i >= n) return null

    val first = (tok.getByte(i) | 0x20).toByte
    if (first == 'i' || first == 'n') {
      val v =
        if (restEqualsIgnoreCase(tok, i, "nan")) Double.NaN
        else if (restEqualsIgnoreCase(tok, i, "inf") ||
          restEqualsIgnoreCase(tok, i, "infinity")) Double.PositiveInfinity
        else return null
      return java.lang.Double.valueOf(if (neg) -v else v)
    }

    var underscored = false
    // digitpart: digit (['_'] digit)*. Returns the index after the last
    // consumed byte, or -1 if no leading digit.
    def digits(from: Int): Int = {
      var j = from
      if (j >= n || !isDigit(tok.getByte(j))) return -1
      j += 1
      var done = false
      while (!done && j < n) {
        val b = tok.getByte(j)
        if (isDigit(b)) j += 1
        else if (b == '_' && j + 1 < n && isDigit(tok.getByte(j + 1))) {
          underscored = true
          j += 2
        } else done = true
      }
      j
    }

    // Mantissa: D ('.' D?)? | '.' D
    if (tok.getByte(i) == '.') {
      i += 1
      val j = digits(i)
      if (j < 0) return null
      i = j
    } else {
      val j = digits(i)
      if (j < 0) return null
      i = j
      if (i < n && tok.getByte(i) == '.') {
        i += 1
        val k = digits(i)
        if (k >= 0) i = k
      }
    }
    // Optional exponent: [eE] [+-]? D
    if (i < n && (tok.getByte(i) | 0x20) == 'e') {
      var j = i + 1
      if (j < n && (tok.getByte(j) == '+' || tok.getByte(j) == '-')) j += 1
      val k = digits(j)
      if (k < 0) return null
      i = k
    }
    if (i != n) return null

    val s =
      if (!underscored) tok.toString
      else { // grouping only; value-neutral
        val sb = new java.lang.StringBuilder(n)
        var j = 0
        while (j < n) {
          val b = tok.getByte(j)
          if (b != '_') sb.append(b.toChar)
          j += 1
        }
        sb.toString
      }
    java.lang.Double.valueOf(java.lang.Double.parseDouble(s))
  }

  /** `tok.toLowerCase`, but `tok` itself when it is lower-case ASCII
    * already, as almost every token is: no copy of its bytes.
    */
  private def lowerCase(tok: UTF8String): UTF8String = {
    var i = 0
    while (i < tok.numBytes) {
      val b = tok.getByte(i)
      if (b < 0 || (b >= 'A' && b <= 'Z')) return tok.toLowerCase
      i += 1
    }
    tok
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def parse(line: UTF8String): InternalRow = {
    val toks: ArrayData = CsvTokenize.tokenize(line)
    val row = new GenericInternalRow(N + 2)
    val n = toks.numElements()
    if (n != N)
      return err(row, s"ParseError: Expected $N columns, got $n")

    // Positional coercion in CSV order; first failure wins (bp.py:121-138).
    var i = 0
    while (i < N) {
      val tok = toks.getUTF8String(i)
      i match {
        case 0 | 9 | 11 | 12 | 13 | 14 => // int fields
          val w = new UTF8String.IntWrapper
          if (tok.trimAll().toInt(w)) row.update(i, w.value)
          else return err(row,
            s"ParseError: invalid literal for int() with base 10: '$tok'")
        case 5 => // balance: double, Python float() acceptance rules
          val d = pythonFloat(tok.trimAll())
          if (d != null) row.update(i, d.doubleValue())
          else return err(row,
            s"ParseError: could not convert string to float: '$tok'")
        case _ =>
          row.update(i, lowerCase(tok.trim()))
      }
      i += 1
    }
    // Required-field NOT-NULL constraint (bp.py:143-145) — dead in
    // practice (coercion already errored), preserved for fidelity.
    if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(5)) {
      val name = if (row.isNullAt(0)) "age"
        else if (row.isNullAt(1)) "job" else "balance"
      return err(row, s"ParseError: Required field $name is missing")
    }
    row
  }

  /** Column API. */
  def parseBankLine(line: Column): Column =
    Bridge.column(ParseBankLine(Bridge.expression(line)))
}
