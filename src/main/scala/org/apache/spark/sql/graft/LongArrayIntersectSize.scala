package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType}

/** |A ∩ B| for two SORTED-ascending, duplicate-free long arrays via a
  * merge scan — the verify-stage kernel of the hashed-shingle dedup
  * operators: Dedup.nearDuplicates, and the shuffle regime of the exact
  * containment index's three readers (the containment screen,
  * containmentPairs and ngramJaccardPairs).
  *
  * Versus `size(array_intersect(a, b))`: ArrayIntersect builds a per-row
  * hash set of boxed values and materializes the intersection array; this
  * expression is a branch-predictable two-pointer loop over primitive
  * longs with no allocation, and it participates in whole-stage codegen.
  * Callers MUST pre-sort with `array_sort` (a one-off per row) — results
  * on unsorted input are undefined.
  */
case class LongArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "long_array_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0
    val n = x.numElements()
    val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayIntersectSize =
    copy(left = newLeft, right = newRight)
}

object LongArrayIntersectSize {
  def column(a: Column, b: Column): Column =
    ExpressionUtils.column(
      LongArrayIntersectSize(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
