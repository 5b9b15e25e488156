package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Overlapping UTF-8 byte bigrams of a string as a SORTED array<int> of
  * codes `(b(i) & 0xff) << 8 | (b(i+1) & 0xff)`, multiplicity preserved.
  * Strings shorter than 2 bytes give an empty array.
  *
  * The code is a bijection of byte pairs, so equality on codes is equality
  * on the `array<binary>` bigrams of `TextFunctions.byteBigrams`; the sort
  * lets [[SortedCoverage]] score a pair with one merge scan. Computed once
  * per term, not per pair.
  */
case class ByteBigramCodes(child: Expression)
    extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "byte_bigram_codes"

  override protected def nullSafeEval(input: Any): Any =
    ByteBigramCodes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.ByteBigramCodes.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ByteBigramCodes =
    copy(child = newChild)
}

object ByteBigramCodes {
  /** Static bridge shared by interpreted eval and generated code. */
  def compute(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val codes = new Array[Int](math.max(b.length - 1, 0))
    var i = 0
    while (i < codes.length) {
      codes(i) = (b(i) & 0xff) << 8 | (b(i + 1) & 0xff)
      i += 1
    }
    java.util.Arrays.sort(codes)
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  def column(c: Column): Column =
    ExpressionUtils.column(ByteBigramCodes(ExpressionUtils.expression(c)))
}

/** Asymmetric bigram containment coverage over two SORTED code arrays
  * (from [[ByteBigramCodes]]): the fraction of query codes, with
  * multiplicity, present anywhere in the ref's codes; 0.0 when the query
  * has none. The same double `TextFunctions.bigramCoverage` returns on
  * the binary bigrams.
  *
  * One two-pointer merge scan. A hit advances only the query index —
  * membership without consumption, the `break` at the reference's
  * heurFuzz.py:43 — so a repeated query code hits
  * the same ref code again and duplicate ref codes are harmless. Unlike
  * the `filter`/`array_contains` higher-order function it replaces, it
  * takes part in whole-stage codegen and allocates nothing per pair.
  * Results on unsorted input are undefined.
  */
case class SortedCoverage(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_coverage"

  override protected def nullSafeEval(q: Any, r: Any): Any =
    SortedCoverage.compute(q.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, r) => s"org.apache.spark.sql.graft.SortedCoverage.compute($q, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedCoverage =
    copy(left = newLeft, right = newRight)
}

object SortedCoverage {
  /** Static bridge shared by interpreted eval and generated code. */
  def compute(q: ArrayData, r: ArrayData): Double = {
    val uq = unsafe(q)
    val ur = unsafe(r)
    val n = uq.numElements()
    if (n == 0) 0.0
    else hits(uq.getBaseObject, elements(uq), n, ur.getBaseObject, elements(ur), ur.numElements())
      .toDouble / n
  }

  /** The merge scan: how many of the query's `n` codes at (qBase, qOff)
    * occur among the ref's `m` codes at (rBase, rOff). Both are read with
    * `Platform.getInt`, so one body serves an UnsafeArrayData's elements
    * and a slice of a flat `int[]` (HeurFuzz's narrow regime) alike.
    */
  def hits(qBase: AnyRef, qOff: Long, n: Int, rBase: AnyRef, rOff: Long, m: Int): Int = {
    var i = 0
    var j = 0
    var h = 0
    while (i < n && j < m) {
      val qv = Platform.getInt(qBase, qOff + 4L * i)
      val rv = Platform.getInt(rBase, rOff + 4L * j)
      if (qv == rv) { h += 1; i += 1 }
      else if (qv < rv) i += 1
      else j += 1
    }
    h
  }

  /** The offset of an UnsafeArrayData's first element. */
  def elements(a: UnsafeArrayData): Long =
    a.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(a.numElements())

  // interpreted eval over a literal may hand over a GenericArrayData
  private def unsafe(a: ArrayData): UnsafeArrayData = a match {
    case u: UnsafeArrayData => u
    case g => UnsafeArrayData.fromPrimitiveArray(g.toIntArray)
  }

  def column(q: Column, r: Column): Column =
    ExpressionUtils.column(
      SortedCoverage(ExpressionUtils.expression(q), ExpressionUtils.expression(r)))
}
