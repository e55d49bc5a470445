package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature aggregate: for each group, the element-wise
  * minimum of `numHashes` hash values over the input strings (shingles).
  *
  * Hash family: one md5 per shingle, then `numHashes` affine transforms
  * h_j(x) = (a_j * x + b_j) mod (2^31 - 1) of its leading 32 bits — the
  * classic universal family. Chosen over seeded xxhash64 because the same
  * arithmetic is expressible in ANSI SQL over `md5(s)`, so the whole
  * signature is cross-engine verifiable (the DuckDB oracle replays it
  * exactly); it is also cheaper (one digest + k multiply-adds vs k full
  * hashes). 32-bit pre-hash collisions are irrelevant at per-document
  * shingle counts; constants stay below 2^30 so a_j * x fits in a signed
  * 64-bit long on any engine.
  *
  * The composable alternative — `numHashes` separate `min(...)` aggregate
  * columns — carries one agg buffer slot AND one projection per hash per
  * row. This TypedImperativeAggregate keeps a single primitive long-array
  * buffer, digests the shingle bytes once, and shuffles one fixed-width
  * array per group — the shape that matters when the group count is
  * billions.
  *
  * No catalog query calls it: it is the law oracle of the scalar
  * [[MinHashSignature]] in PropertySpec, and it owns the hash family
  * ([[MinHashAgg.As]], [[MinHashAgg.Bs]], [[MinHashAgg.P]]).
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int = 16,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = MinHashAgg.md5Head32(v.asInstanceOf[UTF8String])
      var j = 0
      while (j < numHashes) {
        val h = (MinHashAgg.As(j) * x + MinHashAgg.Bs(j)) % MinHashAgg.P
        if (h < buf(j)) buf(j) = h
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < numHashes) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(offset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashAgg =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "graft_minhash"
}

object MinHashAgg {
  /** Mersenne prime 2^31 - 1, the modulus of the affine family. */
  val P: Long = 2147483647L

  /** Fixed multipliers in [1, 2^30) and offsets in [0, 2^31): seeded once,
    * shared verbatim with the DuckDB oracle SQL (DedupOps interpolates
    * them), so both engines evaluate the identical hash family.
    */
  private val seeded = new scala.util.Random(0x5eed5eed)
  val As: Array[Long] = Array.fill(64)(1L + seeded.nextInt((1 << 30) - 1))
  val Bs: Array[Long] = Array.fill(64)(seeded.nextInt(Int.MaxValue).toLong)

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Leading 32 bits of md5(utf8 bytes) as an unsigned long — equal to
    * DuckDB's ('0x' || substr(md5(s), 1, 8))::BIGINT.
    */
  def md5Head32(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** MinHash signature Column over a string (shingle) column. */
  def minhashSig(shingle: Column, numHashes: Int = 16): Column =
    Bridge.column(MinHashAgg(Bridge.expression(shingle), numHashes)
      .toAggregateExpression())
}
