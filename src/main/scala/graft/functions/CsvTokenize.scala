package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenize one semicolon-CSV line into its raw fields, reproducing
  * Python `csv.reader(delimiter=';', quotechar='"')` (the reference's
  * parser, bp.py:117) for single-line records:
  *
  *  - `;` splits fields; a `"` at field start opens a quoted section in
  *    which `;` is literal and `""` is an escaped quote;
  *  - a quote later in an unquoted field is a literal character;
  *  - empty tokens stay "" (not NULL);
  *  - the token COUNT is exact, so the arity check matches csv.reader.
  *
  * [[ParseBankLine]] calls it once per line; positional extraction is a
  * plain array index.
  */
object CsvTokenize {
  private val Sep = ';'
  private val Quote = '"'

  /** Byte-level scan (';' and '"' are ASCII, so UTF-8 continuation bytes
    * can never alias them): unquoted fields — the overwhelmingly common
    * case — become zero-copy-ish byte slices; only fields containing a
    * quote take the buffer-building slow path.
    */
  def tokenize(line: UTF8String): ArrayData = {
    val bytes = line.getBytes
    val n = bytes.length
    val fields = new java.util.ArrayList[AnyRef](18)
    var i = 0
    while (i <= n) {
      if (i < n && bytes(i) == Quote) {
        // Quoted field: unescape "" and honor quoted separators.
        val buf = new java.io.ByteArrayOutputStream(32)
        var inQuotes = true
        i += 1
        while (i < n && (inQuotes || bytes(i) != Sep)) {
          val b = bytes(i)
          if (inQuotes && b == Quote) {
            if (i + 1 < n && bytes(i + 1) == Quote) { buf.write(Quote); i += 1 }
            else inQuotes = false
          } else buf.write(b)
          i += 1
        }
        fields.add(UTF8String.fromBytes(buf.toByteArray))
        i += 1 // skip separator (or step past end to terminate)
      } else {
        val start = i
        while (i < n && bytes(i) != Sep) i += 1
        fields.add(UTF8String.fromBytes(bytes, start, i - start))
        i += 1
      }
    }
    new GenericArrayData(fields.toArray)
  }
}
