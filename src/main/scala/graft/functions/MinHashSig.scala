package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole word-3-gram MinHash signature of a document, as ONE
  * codegen'd scalar expression: ARRAY<BIGINT> of `numHashes` minima of
  * the md5-head32 affine family ([[MinHashAgg.As]]/[[MinHashAgg.Bs]]
  * mod [[MinHashAgg.P]]) over the document's word 3-grams. Bit-identical
  * to the explode -> groupBy(doc_id) -> [[MinHashAgg]] pipeline (the
  * law's oracle in PropertySpec), and to the DuckDB oracle replay of the
  * same family — q25/q139/LSH oracles are unchanged by construction.
  *
  * Why a scalar beats the aggregate here: doc_id is UNIQUE per input
  * row, so the groupBy's partial aggregation can never combine anything
  * — the explode materializes ~|words| shingle rows per document, the
  * hash aggregate pays per-group buffer management, and every signature
  * still crosses an exchange. Per-row, the signature is a pure map:
  * no Generate, no aggregate state, no shuffle at all.
  *
  * Zero-copy shingling: `split(text, ' ')` separates on EXACTLY one
  * space, so the 3-gram `concat(w_i, ' ', w_i1, ' ', w_i2)` is
  * byte-for-byte the slice of the original text from the start of word
  * i to the end of word i+2 (0x20 never occurs inside a multi-byte
  * UTF-8 sequence). Each shingle is therefore digested straight from
  * the text's byte array — no word array, no concat, no per-shingle
  * string. Consecutive spaces yield empty words, exactly as split's
  * limit=-1 semantics do.
  *
  * Documents with fewer than 3 words have no shingles; the aggregate
  * path emits no row for them, so this expression returns NULL (callers
  * filter, preserving frame equality). Null input -> null.
  */
case class MinHashSignature(child: Expression, numHashes: Int = 16)
  extends UnaryExpression {

  require(numHashes >= 1 && numHashes <= MinHashAgg.As.length,
    s"numHashes must be in [1, ${MinHashAgg.As.length}], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_sig needs a STRING input, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashSig.compute($c, $numHashes);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(
    newChild: Expression): MinHashSignature = copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

object MinHashSig {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** numHashes affine minima over the word-3-gram shingles of s, or
    * null if s has fewer than 3 words.
    */
  def compute(s: UTF8String, numHashes: Int): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // Word starts: offset 0 plus the byte after every 0x20. With split
    // limit=-1 semantics, words = spaces + 1 (empty words included).
    var spaces = 0
    var b = 0
    while (b < nb) { if (bytes(b) == 0x20) spaces += 1; b += 1 }
    val nWords = spaces + 1
    if (nWords < 3) return null
    val start = new Array[Int](nWords + 1)
    start(0) = 0
    var w = 1
    b = 0
    while (b < nb) {
      if (bytes(b) == 0x20) { start(w) = b + 1; w += 1 }
      b += 1
    }
    start(nWords) = nb + 1 // virtual space after the last word

    val md = digests.get()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i <= nWords - 3) {
      // shingle i = text bytes [start(i), start(i + 3) - 1): the slice
      // from word i's first byte to word i+2's last byte.
      val off = start(i)
      md.reset()
      md.update(bytes, off, start(i + 3) - 1 - off)
      val d = md.digest()
      val x = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      var j = 0
      while (j < numHashes) {
        val h = (MinHashAgg.As(j) * x + MinHashAgg.Bs(j)) % MinHashAgg.P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Column form. */
  def sigCol(text: Column, numHashes: Int = 16): Column =
    Bridge.column(MinHashSignature(Bridge.expression(text), numHashes))
}
