package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Distinct-intersection COUNT of two SORTED ARRAY<BIGINT> columns —
  * the codegen'd two-pointer merge behind q151/q196's pair verification
  * and q158's neighbor similarity, replacing
  * `size(array_intersect(a, b))`.
  *
  * Why not the builtin: Spark's ArrayIntersect builds a hash set from
  * one side PER ROW and materializes the full intersection array that
  * the caller immediately reduces to its size — per-row allocation on
  * the hottest verification loop in the catalog. Every call site
  * already builds its arrays with `sort_array(collect_list(...))`, so
  * a linear two-pointer walk needs ZERO allocation, stays inside
  * whole-stage codegen, and reads each element exactly once.
  *
  * Semantics (law-tested against size(array_intersect) in
  * PropertySpec, duplicates included): DISTINCT common values — equal
  * runs on either side count once, exactly ArrayIntersect's set
  * semantics. PRECONDITION: both arrays sorted ascending (all call
  * sites sort_array); behavior on unsorted input is unspecified, which
  * is why this lives behind a graft_ name instead of shadowing the
  * builtin. Null arrays -> null (BinaryExpression nullSafeEval); null
  * ELEMENTS do not occur at the call sites (collect_list drops nulls).
  *
  * 100 TB relevance: verification cost is candidate-proportional —
  * this removes a per-candidate hash-set allocation + GC pressure from
  * exactly the stage whose volume the growth curves pin at ~N.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // containsNull rejected at ANALYSIS time (ADVICE r12): a null
      // element reaching getLong would read as an undefined long and
      // silently corrupt the count. All call sites produce
      // containsNull=false arrays (collect_list/sort_array of a
      // non-null column), so this contract costs nothing and turns a
      // future misuse into an analysis error instead of wrong data.
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_inter_count needs two ARRAY<BIGINT> (non-null " +
          s"elements) inputs, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val va = x.getLong(i)
      val vb = y.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else {
        c += 1
        i += 1; while (i < n && x.getLong(i) == va) i += 1
        j += 1; while (j < m && y.getLong(j) == vb) j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val va = ctx.freshName("va")
      val vb = ctx.freshName("vb")
      s"""
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m) {
         |  final long $va = $a.getLong($i);
         |  final long $vb = $b.getLong($j);
         |  if ($va < $vb) { $i++; }
         |  else if ($va > $vb) { $j++; }
         |  else {
         |    $c++;
         |    $i++; while ($i < $n && $a.getLong($i) == $va) { $i++; }
         |    $j++; while ($j < $m && $b.getLong($j) == $vb) { $j++; }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_inter_count"
}

/** Distinct intersection of two SORTED ARRAY<BIGINT> columns as a
  * sorted ARRAY<BIGINT> — the array-producing sibling of
  * [[SortedIntersectCount]] for call sites that explode the common
  * elements (q129's triangle closure). Same two-pointer merge and set
  * semantics; the per-row hash set is gone and the (unavoidable)
  * result array is built once as an UnsafeArrayData from a primitive
  * buffer bounded by min(|a|, |b|). For sorted inputs the builtin's
  * left-order-of-first-occurrence output IS ascending order, so
  * element order matches array_intersect exactly (law-tested).
  */
case class SortedIntersectArray(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // Same containsNull=false contract as SortedIntersectCount
      // (ADVICE r12) — see the rationale there.
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_inter needs two ARRAY<BIGINT> (non-null " +
          s"elements) inputs, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    val buf = new Array[Long](math.min(n, m))
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val va = x.getLong(i)
      val vb = y.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else {
        buf(c) = va; c += 1
        i += 1; while (i < n && x.getLong(i) == va) i += 1
        j += 1; while (j < m && y.getLong(j) == vb) j += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, c))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val va = ctx.freshName("va")
      val vb = ctx.freshName("vb")
      val buf = ctx.freshName("buf")
      s"""
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |final long[] $buf = new long[java.lang.Math.min($n, $m)];
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m) {
         |  final long $va = $a.getLong($i);
         |  final long $vb = $b.getLong($j);
         |  if ($va < $vb) { $i++; }
         |  else if ($va > $vb) { $j++; }
         |  else {
         |    $buf[$c++] = $va;
         |    $i++; while ($i < $n && $a.getLong($i) == $va) { $i++; }
         |    $j++; while ($j < $m && $b.getLong($j) == $vb) { $j++; }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $c));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): SortedIntersectArray =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_inter"
}

object SortedIntersect {

  /** Distinct intersection of two SORTED ARRAY<BIGINT> columns, sorted. */
  def array(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectArray(
      Bridge.expression(a), Bridge.expression(b)))

  /** Distinct-intersection count of two SORTED ARRAY<BIGINT> columns. */
  def count(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(
      Bridge.expression(a), Bridge.expression(b)))

  /** `size(array_intersect(a, b))` as BIGINT via the two-pointer merge
    * (value-equal to the builtin, law-tested in PropertySpec).
    */
  def interCountBig(a: Column, b: Column): Column =
    count(a, b).cast("long")
}
