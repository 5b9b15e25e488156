// Custom whole-operator extension (SparkSessionExtensions ladder step c):
// a NATIVE backward as-of join — logical node + planner strategy +
// physical BinaryExecNode — for the operator Spark lacks (DuckDB has ASOF
// JOIN built in; graft.operators.AsofJoin is its entry point). The
// physical operator declares clustered distribution +
// (key, ts) ordering requirements, so Catalyst plans ONE hash exchange
// and one sort per side, then a single streaming merge pass per
// partition buffers exactly ONE candidate right row at a time — no union
// row inflation, no window state, no interval explosion.
//
// Lives under org.apache.spark.sql because it uses spark-private APIs
// (Dataset.ofRows, execution internals) — same convention as
// PartialRatioCutoff.scala.
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Logical backward as-of join: for every left row, the most recent
  * right row with the same key and ts <= left ts (ties at equal ts
  * match). Output: left.* ++ asof_<ts> (matched right ts, null when
  * unmatched) ++ right value columns (nullable).
  *
  * Contract: the right side must be unique per (key, ts) —
  * pre-aggregate otherwise.
  */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    rightValues: Seq[Attribute],
    // constructor parameter (NOT derived in the body): downstream plans
    // reference this attribute by exprId, so every copy()/transform must
    // preserve it — a fresh id per copy breaks binding
    asofTsOut: Attribute
) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ (asofTsOut +: rightValues.map(_.withNullability(true)))

  // asofTsOut originates HERE, not from a child
  override def producedAttributes: AttributeSet = AttributeSet(Seq(asofTsOut))

  // every left column is passed through verbatim — declare them all as
  // referenced so ColumnPruning keeps them (the right side prunes down
  // to key + ts + values, which is exactly what the exec reads)
  override def references: AttributeSet =
    AttributeSet(left.output) ++ AttributeSet(Seq(leftKey, leftTs, rightKey, rightTs) ++ rightValues)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical backward as-of join: co-partitioned on the key, both sides
  * sorted by (key, ts); one forward merge pass per partition holding a
  * single projected candidate right row.
  */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    rightValues: Seq[Attribute],
    asofTsOut: Attribute,
    output: Seq[Attribute]
) extends BinaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(Seq(asofTsOut))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  // every output row is a left row (possibly extended) — the left child's
  // hash partitioning survives, so a downstream groupBy/join on the key
  // reuses the exchange instead of re-shuffling (the SMJ convention)
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey: Expression, left.output)
    val lTs = BindReferences.bindReference(leftTs: Expression, left.output)
    val rKey = BindReferences.bindReference(rightKey: Expression, right.output)
    val rTs = BindReferences.bindReference(rightTs: Expression, right.output)
    val rightSide: Seq[Expression] = (rightTs +: rightValues)
      .map(a => BindReferences.bindReference(a: Expression, right.output))
    val outAttrs = output
    // primitive fast path for the overwhelmingly common case (long keys,
    // epoch-micros timestamps): ordinal getLong, no boxing per row
    val primitive = leftKey.dataType == LongType && leftTs.dataType == LongType &&
      rightKey.dataType == LongType && rightTs.dataType == LongType &&
      lKey.isInstanceOf[BoundReference] && lTs.isInstanceOf[BoundReference] &&
      rKey.isInstanceOf[BoundReference] && rTs.isInstanceOf[BoundReference]

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (ts, values*) of the held candidate — copied because Unsafe rows
      // from the sorter are reused buffers
      val rightProj = UnsafeProjection.create(rightSide.toArray)
      val nullRight = new GenericInternalRow(1 + rightValues.size)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow

      if (primitive) {
        val lkOrd = lKey.asInstanceOf[BoundReference].ordinal
        val ltOrd = lTs.asInstanceOf[BoundReference].ordinal
        val rkOrd = rKey.asInstanceOf[BoundReference].ordinal
        val rtOrd = rTs.asInstanceOf[BoundReference].ordinal
        new Iterator[InternalRow] {
          private var rRow: InternalRow = _
          private var rk = 0L
          private var rt = 0L
          private var rValid = advanceRight()
          private var held: InternalRow = _
          private var heldKey = 0L

          private def advanceRight(): Boolean = {
            while (rIter.hasNext) {
              rRow = rIter.next()
              if (!rRow.isNullAt(rkOrd) && !rRow.isNullAt(rtOrd)) {
                rk = rRow.getLong(rkOrd)
                rt = rRow.getLong(rtOrd)
                return true
              }
            }
            rRow = null
            false
          }

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val lRow = lIter.next()
            val lNull = lRow.isNullAt(lkOrd) || lRow.isNullAt(ltOrd)
            var matched = false
            if (!lNull) {
              val lk = lRow.getLong(lkOrd)
              val lt = lRow.getLong(ltOrd)
              while (rValid && (rk < lk || (rk == lk && rt <= lt))) {
                held = rightProj(rRow).copy()
                heldKey = rk
                rValid = advanceRight()
              }
              matched = held != null && heldKey == lk
            }
            joined(lRow, if (matched) held else nullRight)
            resultProj(joined)
          }
        }
      } else {
        val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
        val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
        new Iterator[InternalRow] {
          private var rRow: InternalRow = _
          private var rKeyVal: Any = _
          private var rTsVal: Any = _
          private var rValid = advanceRight()
          private var held: InternalRow = _
          private var heldKey: Any = _

          private def advanceRight(): Boolean = {
            while (rIter.hasNext) {
              rRow = rIter.next()
              rKeyVal = rKey.eval(rRow)
              rTsVal = rTs.eval(rRow)
              if (rKeyVal != null && rTsVal != null) return true
            }
            rRow = null
            false
          }

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val lRow = lIter.next()
            val lk = lKey.eval(lRow)
            val lt = lTs.eval(lRow)
            if (lk != null && lt != null) {
              // consume right rows that are at or before (lk, lt); the
              // LAST consumed row with key == lk is the backward match
              var continue = rValid
              while (continue) {
                val kc = keyOrd.compare(rKeyVal, lk)
                if (kc < 0 || (kc == 0 && tsOrd.compare(rTsVal, lt) <= 0)) {
                  held = rightProj(rRow).copy()
                  // copyValue: a buffer-backed key (UTF8String, binary)
                  // must not alias the sorter's reused row — the next
                  // advanceRight() would overwrite it
                  heldKey = InternalRow.copyValue(rKeyVal)
                  rValid = advanceRight()
                  continue = rValid
                } else continue = false
              }
            }
            // lt != null mirrors the primitive path's !lNull guard: a NULL
            // timestamp never matches (DuckDB ASOF semantics), even when a
            // candidate for the same key is already held
            val matched =
              lk != null && lt != null && held != null && keyOrd.compare(heldKey, lk) == 0
            joined(lRow, if (matched) held else nullRight)
            resultProj(joined)
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans AsofJoinNode into AsofJoinExec. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(
        planLater(n.left), planLater(n.right),
        n.leftKey, n.leftTs, n.rightKey, n.rightTs, n.rightValues,
        n.asofTsOut, n.output) :: Nil
    case _ => Nil
  }
}

object AsofJoinNative {

  /** Backward as-of join via the native physical operator, behind
    * `graft.operators.AsofJoin.asofBackward`: output is left.* ++
    * asof_<tsCol> ++ valueCols (nulls when unmatched = left semantics).
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String]
  ): DataFrame = {
    val clash = (valueCols.toSet + s"asof_$tsCol").intersect(left.columns.toSet)
    require(clash.isEmpty,
      s"output columns clash with left columns: $clash " +
        s"(right value columns and the generated asof_$tsCol must be fresh)")
    val spark = left.sparkSession.asInstanceOf[classic.SparkSession]
    GraftExtensions.ensureRegistered(spark)

    val lPlan = left.queryExecution.analyzed
    // re-alias the right side to FRESH exprIds: as-of joins are very
    // often self-joins over one scan (clicks vs views of the same events
    // table), and duplicate attribute ids across the two children would
    // make binding ambiguous
    val rAnalyzed = right.queryExecution.analyzed
    val rAliases = rAnalyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rAnalyzed)
    val rOut = rAliases.map(_.toAttribute)

    def attrOf(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side side has no column '$n'"))

    val rTs = attrOf(rOut, tsCol, "right")
    val node = AsofJoinNode(
      lPlan, rPlan,
      attrOf(lPlan.output, keyCol, "left"), attrOf(lPlan.output, tsCol, "left"),
      attrOf(rOut, keyCol, "right"), rTs,
      valueCols.map(attrOf(rOut, _, "right")),
      AttributeReference(s"asof_$tsCol", rTs.dataType, nullable = true)())
    classic.Dataset.ofRows(spark, node)
  }
}
