package graft.functions

import java.time.Instant
import java.util.concurrent.ThreadLocalRandom

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, RandomUUIDGenerator}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}

/** Per-run stamps whose values live in the generated class's `references`
  * array instead of its source text.
  *
  * Why: Spark inlines `current_timestamp()` as a `…L` literal and the
  * analyzer gives `uuid()` a fresh seed literal, so each run of the same
  * job would generate unique Java source, miss Spark's codegen cache,
  * recompile with Janino and run its hot loop cold in the JIT. Held as
  * reference objects, the values leave the source identical run to run.
  */
case class RunTimestamp(micros: Long) extends LeafExpression {
  // Never a literal: ConstantFolding would put the instant back into the
  // generated source.
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = TimestampType

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("runTimestamp", micros)
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "graft_run_timestamp"
}

/** A fresh uuid per record, like Spark's `uuid()`: a
  * [[RandomUUIDGenerator]] per partition seeded with `seed + partitionIndex`,
  * the run's seed held in `references`.
  */
case class RunUuid(seed: Long) extends LeafExpression with Nondeterministic {
  override def nullable: Boolean = false
  override def dataType: DataType = StringType
  override def stateful: Boolean = true

  @transient private[this] var generator: RandomUUIDGenerator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    generator = RandomUUIDGenerator(seed + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any =
    generator.getNextUUIDUTF8String()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RandomUUIDGenerator].getName
    val gen = ctx.addMutableState(cls, "runUuidGen", forceInline = true)
    val ref = ctx.addReferenceObj("runUuidSeed", seed)
    ctx.addPartitionInitializationStatement(
      s"$gen = new $cls($ref.longValue() + partitionIndex);")
    ev.copy(code = code"final UTF8String ${ev.value} = $gen.getNextUUIDUTF8String();",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "graft_run_uuid"
}

object RunStamps {
  /** Column API: the current instant, fixed when the column is built. */
  def runTimestamp(): Column =
    Bridge.column(RunTimestamp(DateTimeUtils.instantToMicros(Instant.now())))

  /** The instant `df`'s plan was stamped with by [[runTimestamp]], if any. */
  def timestampOf(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(
      _.collectFirst { case RunTimestamp(micros) => micros })).headOption

  /** Column API: per-record uuids under a seed drawn when the column is built. */
  def runUuid(): Column =
    Bridge.column(RunUuid(ThreadLocalRandom.current().nextLong()))
}
