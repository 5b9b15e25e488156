package graftbench

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.{DoubleArrayDot, LongArrayIntersectSize}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

import graft.functions.Fuzz

/** Single-threaded cost of the engine's custom kernels, in ns per call.
  * partial_ratio is called as the scalar scorer the verify stage uses; the
  * two array kernels run through Spark's generated projection code, the
  * path they take inside a query.
  */
object Kernels {
  def measure(seed: Long): Map[String, Double] = Map(
    "kernel.partial_ratio_ns" -> partialRatio(seed),
    "kernel.long_intersect_ns" -> longIntersect(seed),
    "kernel.array_dot_ns" -> arrayDot(seed))

  /** Verify-stage pairs: each dirty query against the ref it came from, or
    * against a random ref for the unmatched noise queries.
    */
  private def partialRatio(seed: Long): Double = {
    val in = Inputs.fuzzy(seed, nRefs = 1000, nQueries = 2000)
    val rnd = new Random(seed)
    val pairs = in.queries.indices.map { i =>
      val ref = if (in.source(i) >= 0) in.refs(in.source(i)) else in.refs(rnd.nextInt(in.refs.size))
      (ref, in.queries(i))
    }
    perCall(10000)(i => Fuzz.partialRatioCutoff(pairs(i % pairs.size)._1, pairs(i % pairs.size)._2, 90))
  }

  /** Sorted shingle-hash sets of about 300 elements sharing half their values. */
  private def longIntersect(seed: Long): Double = {
    val rnd = new Random(seed)
    val rows = IndexedSeq.fill(64) {
      val shared = Array.fill(150)(rnd.nextLong())
      def side() = (shared ++ Array.fill(150)(rnd.nextLong())).distinct.sorted
      InternalRow(UnsafeArrayData.fromPrimitiveArray(side()), UnsafeArrayData.fromPrimitiveArray(side()))
    }
    val t = ArrayType(LongType, containsNull = false)
    val proj = project(LongArrayIntersectSize(BoundReference(0, t, nullable = false),
      BoundReference(1, t, nullable = false)))
    perCall(20000)(i => proj(rows(i % rows.size)).getInt(0).toLong)
  }

  /** 32-d embedding dot products. */
  private def arrayDot(seed: Long): Double = {
    val rnd = new Random(seed)
    val rows = IndexedSeq.fill(64) {
      def v() = Array.fill(DedupGroups.Dim)(rnd.nextGaussian())
      InternalRow(UnsafeArrayData.fromPrimitiveArray(v()), UnsafeArrayData.fromPrimitiveArray(v()))
    }
    val t: DataType = ArrayType(DoubleType, containsNull = false)
    val proj = project(DoubleArrayDot(BoundReference(0, t, nullable = false),
      BoundReference(1, t, nullable = false)))
    perCall(500000)(i => java.lang.Double.doubleToLongBits(proj(rows(i % rows.size)).getDouble(0)))
  }

  private def project(e: Expression): InternalRow => InternalRow = {
    val p = UnsafeProjection.create(Seq(e))
    row => p(row)
  }

  @volatile private var sink = 0L

  /** Median ns per call over five timed rounds of `calls` calls, after one
    * untimed warm-up round.
    */
  private def perCall(calls: Int)(one: Int => Long): Double = {
    def round(): Double = {
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { acc += one(i); i += 1 }
      val ns = (System.nanoTime() - t0).toDouble / calls
      sink += acc
      ns
    }
    round()
    Stats.median(Seq.fill(5)(round()))
  }
}
