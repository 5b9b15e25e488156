package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's 60-bit content hash,
  * `('0x' || substr(md5(s), 1, 15))::BIGINT`, computed straight from the
  * digest bytes: the first 15 hex chars of an md5 are the top 60 bits,
  * i.e. (first 8 digest bytes as a big-endian unsigned long) >>> 4.
  *
  * Versus `conv(substring(md5(s), 1, 15), 16, 10).cast("long")` — the
  * composition every shingle/span/draw site previously inlined — this
  * skips the 32-char hex-string materialization, the substring copy, and
  * the base-16 reparse, per element; the hot paths hash tens of millions
  * of shingles per corpus pass. Bit-identical to the old composition and
  * to the DuckDB oracle expression (pinned by Md5Long60Spec against the
  * built-in composition on random/edge-case inputs).
  */
case class Md5Long60(child: Expression)
    extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_long60"

  override protected def nullSafeEval(input: Any): Any =
    Md5Long60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.Md5Long60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long60 =
    copy(child = newChild)
}

object Md5Long60 {
  private val digests = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  def hash(s: UTF8String): Long = {
    val b = s.getBytes
    hash(b, 0, b.length)
  }

  /** The hash of `len` bytes of `b` from `off`: the one md5 body, shared
    * with ShingleHashes' windows.
    */
  def hash(b: Array[Byte], off: Int, len: Int): Long = {
    val md = digests.get()
    md.reset()
    md.update(b, off, len)
    val h = md.digest()
    // first 15 hex chars = top 60 bits of the 128-bit digest
    (((h(0) & 0xffL) << 56) |
      ((h(1) & 0xffL) << 48) |
      ((h(2) & 0xffL) << 40) |
      ((h(3) & 0xffL) << 32) |
      ((h(4) & 0xffL) << 24) |
      ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) |
      (h(7) & 0xffL)) >>> 4
  }

  def column(c: Column): Column =
    ExpressionUtils.column(Md5Long60(ExpressionUtils.expression(c)))
}
