package org.apache.spark.sql.graft

import scala.collection.mutable
import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Descending,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The connected components of a near-dup pair list, resolved on the
  * driver: Dedup.resolveGroups' and Dedup.keepBest's narrow regime,
  * taken while the pair list fits the Narrow.Pairs budget. The collect,
  * the broadcast `best` reads (released once its collect ends) and the
  * driver-built frames go through Narrow.
  *
  * `ids` holds every id that an edge with two non-null endpoints touches,
  * sorted ascending, so index i is the dense handle of ids(i); `root(i)`
  * is the index of its component's minimum. A min-root union-find builds
  * it: a union keeps the smaller root, and since index order is id order
  * every root ends as its component's minimum id, the fixpoint the
  * shuffle regime's label propagation reaches. A pair with a null
  * endpoint links nothing, as in the shuffle regime, where a null key
  * never matches a label lookup.
  */
final class DupComponents private (val ids: Array[Long], val root: Array[Int])
    extends Serializable {

  /** The dense index of `id`, or -1 if no edge touches it. */
  def index(id: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i >= 0) i else -1
  }

  /** (id, keep_id) for every touched id that is not its component's
    * minimum; every other id keeps itself.
    */
  def labels(spark: ApiSession): DataFrame =
    Narrow.local(spark, DupComponents.LabelSchema,
      ids.indices.iterator.filter(i => root(i) != i).map(i => InternalRow(ids(i), ids(root(i)))))

  /** (id, group_id, best_id) for every member of a component of two or
    * more ids with a member in `docs`: the best member is the argmax by
    * (quality DESC NULLS LAST under Catalyst's ordering for the column's
    * type, id ASC), the order of keepBest's shuffle-regime window. Each
    * task keeps one candidate per component from its rows of `docs`; the
    * driver merges them, so it holds at most one row per component per
    * partition.
    */
  def best(docs: DataFrame, idCol: String, qualityCol: String): DataFrame = {
    val spark = docs.sparkSession
    val qType = docs.schema(qualityCol).dataType
    val size = new Array[Int](ids.length) // members per index, nonzero only at roots
    root.foreach(r => size(r) += 1)
    val comps = Narrow.share(spark, this)
    val parts = try Narrow.collect(docs.select(col(idCol).cast(LongType), col(qualityCol)),
        "dedup/docs/best") { rows =>
      val c = comps.value
      val better = DupComponents.better(qType)
      val top = mutable.HashMap.empty[Int, InternalRow]
      rows.foreach { r =>
        val i = if (r.isNullAt(0)) -1 else c.index(r.getLong(0))
        if (i >= 0) {
          val g = c.root(i)
          if (top.get(g).forall(better(r, _))) top(g) = r.copy()
        }
      }
      top.toArray
    } finally Narrow.release(comps)
    val better = DupComponents.better(qType)
    val top = parts.flatten.groupMapReduce(_._1)(_._2)((r, s) => if (better(s, r)) s else r)
    Narrow.local(spark, DupComponents.BestSchema,
      ids.indices.iterator.filter(i => size(root(i)) > 1 && top.contains(root(i)))
        .map(i => InternalRow(ids(i), ids(root(i)), top(root(i)).getLong(0))))
  }
}

object DupComponents {
  val LabelSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("keep_id", LongType, nullable = false)))
  val BestSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("group_id", LongType, nullable = false),
    StructField("best_id", LongType, nullable = false)))

  /** Collect the (id_a, id_b) pair list (integral ids) in one job and
    * run the union-find. The caller bounds its size.
    */
  def collect(pairs: DataFrame): DupComponents = {
    val parts = Narrow.collect(pairs.select(col("id_a").cast(LongType), col("id_b").cast(LongType)),
        "dedup/pairs/collect") {
      it =>
        val (a, b) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long])
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) { a += r.getLong(0); b += r.getLong(1) }
        }
        (a.result(), b.result())
    }
    val (a, b) = (Narrow.flat(parts.map(_._1)), Narrow.flat(parts.map(_._2)))
    val all = a ++ b
    java.util.Arrays.sort(all)
    var n = 0
    for (i <- all.indices if i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (e <- a.indices) {
      val ra = find(java.util.Arrays.binarySearch(ids, a(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, b(e)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    new DupComponents(ids, Array.tabulate(n)(find))
  }

  /** `better(r, s)`: row r = (id, quality) ranks before s by (quality
    * DESC NULLS LAST, id ASC).
    */
  private def better(qType: DataType): (InternalRow, InternalRow) => Boolean = {
    val ord = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(1, qType, nullable = true), Descending)))
    (r, s) => {
      val c = ord.compare(r, s)
      c < 0 || (c == 0 && r.getLong(0) < s.getLong(0))
    }
  }
}
