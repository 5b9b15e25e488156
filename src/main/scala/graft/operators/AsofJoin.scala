package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.AsofJoinNative

/** Backward as-of join — an operator Spark lacks natively (the classic
  * time-series "most recent right row at or before the left row's time").
  *
  * Runs as a native physical operator (custom LogicalPlan + SparkStrategy
  * + BinaryExecNode, org.apache.spark.sql.graft.AsofJoinNative): one hash
  * exchange and one sort per side, declared as distribution/ordering
  * requirements, then a single merge pass per partition holding ONE
  * candidate right row — no union row inflation, no window state, no
  * candidate-interval explosion. This is the plan shape a native ASOF
  * implementation (e.g. DuckDB's) lowers to.
  *
  * Right-side rows at exactly the left row's timestamp ARE visible
  * (backward-inclusive, matching `ON l.ts >= r.ts` ASOF semantics). A NULL
  * key or NULL timestamp never matches, on either side.
  */
object AsofJoin {

  /** For every left row: left.* plus `asof_<tsCol>` = the matched right
    * timestamp, plus each `valueCols` column of that same right row.
    * Unmatched left rows keep nulls (left semantics); filter on the asof
    * column for inner semantics.
    *
    * `right` must contain (keyCol, tsCol, valueCols*); the value columns
    * and `asof_<tsCol>` must not clash with left's columns. If the right
    * side can hold several rows per (key, ts), pre-aggregate it —
    * otherwise "the" value at a timestamp is ambiguous in ANY asof
    * implementation.
    */
  def asofBackward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String]
  ): DataFrame =
    AsofJoinNative.join(left, right, keyCol, tsCol, valueCols)
}
