package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `sorted_intersect_count(a, b)`: |a ∩ b| for two ASC-sorted int or
  * long arrays with distinct elements, via a single merge scan.
  *
  * This is the hot inner loop of the set-similarity joins (q21/q25
  * verify millions of candidate pairs): the built-in `array_intersect`
  * builds a hash set per row and materializes the intersection array,
  * where this expression is a branch-only O(|a|+|b|) scan producing a
  * scalar — and it participates in whole-stage codegen via doGenCode,
  * so the pair-verification stage stays in one generated loop.
  * Accepts array<int> and array<long> (token sets are xxhash64 ids —
  * longs; int kept for general set use), both sides the same type.
  *
  * Caller contract: both arrays sorted ascending, no duplicates
  * (e.g. built with `sort_array(collect_set(...))`). Not enforced —
  * violating it undercounts.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<int> or two array<long> arguments, " +
        s"got (${left.dataType}, ${right.dataType})")
  }
  private def isLong: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val long = isLong
    val n1 = x.numElements()
    val n2 = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n1 && j < n2) {
      val v1 = if (long) x.getLong(i) else x.getInt(i).toLong
      val v2 = if (long) y.getLong(j) else y.getInt(j).toLong
      if (v1 < v2) i += 1
      else if (v1 > v2) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val get = if (isLong) "getLong" else "getInt"
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val v1 = ctx.freshName("v1")
      val v2 = ctx.freshName("v2")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |final int $n1 = $a.numElements();
         |final int $n2 = $b.numElements();
         |while ($i < $n1 && $j < $n2) {
         |  final long $v1 = (long) $a.$get($i);
         |  final long $v2 = (long) $b.$get($j);
         |  if ($v1 < $v2) $i++; else if ($v1 > $v2) $j++; else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
