package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** The sorted, distinct hashes of a string's overlapping `n`-char
  * windows, as array<bigint>: the shingle-hash set of every exact and
  * MinHash dedup operator and of the decontamination span sites.
  *
  * Equal, element for element, to the higher-order chain
  * `array_sort(array_distinct(transform(charShingles(c, n), g => h(g))))`
  * on the same child (ShingleHashesSpec compares them), in one pass over
  * the row instead of one interpreted lambda per window:
  *   - the char boundaries are found once, with the lead-byte table
  *     `UTF8String.numChars` and `substringSQL` step by, so a window is
  *     the bytes `substring(c, i, n)` would copy (a lead byte truncated
  *     by the string's end ends its window there);
  *   - each window's UTF-8 bytes are hashed in place; no per-window
  *     string is built;
  *   - null and a string of fewer than n chars give an empty array, as
  *     the chain's `when(length(c) >= n, ...)` falls to its `otherwise`.
  *     The result is never null.
  *
  * The caller passes Spark's `lower(text)` as the child, so a row is
  * lowercased once, with Spark's semantics. Three hash forms, those of
  * the chains it replaces (`ShingleHashes.Form`).
  */
case class ShingleHashes(child: Expression, n: Int, form: ShingleHashes.Form)
    extends UnaryExpression
    with ExpectsInputTypes {
  require(n >= 1, s"shingle width must be positive, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_hashes"

  override def eval(input: InternalRow): Any =
    ShingleHashes.compute(child.eval(input).asInstanceOf[UTF8String], n, form.id)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = org.apache.spark.sql.graft.ShingleHashes.compute(
        ${c.isNull} ? null : ${c.value}, $n, ${form.id});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** A window's hash: one of the three the shingle-hash sites use. */
  sealed abstract class Form(val id: Int)
  /** `xxhash64(g)`, Spark's seed 42. */
  case object Xxhash64 extends Form(0)
  /** `Md5Long60(g)`. */
  case object Md5 extends Form(1)
  /** `Md5Long60(g) % TextFunctions.MinhashP`, the MinHash base hash,
    * reduced before the distinct and the sort.
    */
  case object Md5ModP extends Form(2)

  private val XxSeed = 42L

  /** Static bridge shared by interpreted eval and generated code. */
  def compute(s: UTF8String, n: Int, form: Int): ArrayData = {
    if (s == null) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val b = s.getBytes
    // starts(k) = byte offset of char k; starts(nc) = the end
    val starts = new Array[Int](b.length + 1)
    var nc = 0
    var i = 0
    while (i < b.length) {
      starts(nc) = i
      nc += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    starts(nc) = math.min(i, b.length)
    val w = nc - n + 1
    if (w <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val hs = new Array[Long](w)
    var k = 0
    while (k < w) {
      val off = starts(k)
      val len = starts(k + n) - off
      hs(k) = form match {
        case 0 => XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + off, len, XxSeed)
        case 1 => Md5Long60.hash(b, off, len)
        case _ => Md5Long60.hash(b, off, len) % TextFunctions.MinhashP
      }
      k += 1
    }
    java.util.Arrays.sort(hs)
    var m = 1
    k = 1
    while (k < w) {
      if (hs(k) != hs(m - 1)) { hs(m) = hs(k); m += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (m == w) hs else java.util.Arrays.copyOf(hs, m))
  }

  /** The shingle-hash set of `text`'s lowercase n-char windows. */
  def column(text: Column, n: Int, form: Form): Column =
    ExpressionUtils.column(ShingleHashes(
      ExpressionUtils.expression(org.apache.spark.sql.functions.lower(text)), n, form))
}
