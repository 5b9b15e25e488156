package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.AsofJoin

/** Plain-Scala backward as-of, the reference the operator is compared
  * against: for each left row, the right row with the same non-null key
  * and the largest non-null ts at or before the left ts (right rows are
  * unique per (key, ts)). Maps each left id to Some((asof ts, value)),
  * or None when nothing matches.
  */
object AsofBrute {
  def apply(left: DataFrame, right: DataFrame, id: String, key: String, ts: String,
      value: String): Map[Any, Option[(Any, Any)]] = {
    val rs = right.select(key, ts, value).collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    left.select(id, key, ts).collect().map { l =>
      val hit =
        if (l.isNullAt(1) || l.isNullAt(2)) None
        else rs.filter(r => r.get(0) == l.get(1) && r.getLong(1) <= l.getLong(2))
          .sortBy(_.getLong(1)).lastOption.map(r => (r.get(1), r.get(2)))
      l.get(0) -> hit
    }.toMap
  }

  /** The operator's answer in the same shape. */
  def of(out: DataFrame, id: String, ts: String, value: String): Map[Any, Option[(Any, Any)]] =
    out.select(id, s"asof_$ts", value).collect().map { r =>
      r.get(0) -> (if (r.isNullAt(1)) None else Some((r.get(1), r.get(2))))
    }.toMap
}

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private val left = Seq(
    (1L, "u1", 100L), (2L, "u1", 205L), (3L, "u1", 50L),
    (4L, "u2", 300L), (5L, "u3", 10L)
  ).toDF("event_id", "user", "tsn")
  private val right = Seq(
    ("u1", 100L, 11L), ("u1", 200L, 12L), ("u2", 299L, 21L), ("u2", 301L, 22L)
  ).toDF("user", "tsn", "val")

  private def run() = AsofJoin.asofBackward(left, right, "user", "tsn", Seq("val"))
    .orderBy("event_id")
    .collect()
    .map(r => (r.getLong(0), Option(r.getAs[java.lang.Long]("val")).map(_.toLong),
               Option(r.getAs[java.lang.Long]("asof_tsn")).map(_.toLong)))
    .toSeq

  test("backward-inclusive: equal timestamp matches; latest <= wins") {
    val rows = run()
    assert(rows(0) == ((1L, Some(11L), Some(100L)))) // ts 100 matches right at exactly 100
    assert(rows(1) == ((2L, Some(12L), Some(200L)))) // most recent of {100, 200}
  }

  test("left rows before any right row get nulls (left semantics)") {
    val rows = run()
    assert(rows(2) == ((3L, None, None)))  // u1@50: nothing at or before
    assert(rows(4) == ((5L, None, None)))  // u3: key has no right rows at all
  }

  test("future right rows are invisible") {
    val rows = run()
    assert(rows(3) == ((4L, Some(21L), Some(299L)))) // u2@300 sees 299, not 301
  }

  test("null right values do not mix rows: ts and value come from the SAME right row") {
    // u1 has a newer right row whose value is legitimately NULL; the asof
    // result must be (ts=200, val=NULL) — not ts=200 paired with the
    // OLDER row's val=11 (the bug a per-column last(ignoreNulls) has)
    val r = Seq(
      ("u1", 100L, Some(11L)), ("u1", 200L, None)
    ).toDF("user", "tsn", "val")
    val l = Seq((1L, "u1", 250L)).toDF("event_id", "user", "tsn")
    val row = AsofJoin.asofBackward(l, r, "user", "tsn", Seq("val"))
      .select("event_id", "val", "asof_tsn").head()
    assert(row.getLong(0) == 1L)
    assert(row.isNullAt(1), "value must be the matched row's NULL, not an older row's value")
    assert(row.getLong(2) == 200L)
  }

  test("clashing value column names are rejected") {
    intercept[IllegalArgumentException] {
      AsofJoin.asofBackward(left, right.withColumnRenamed("val", "tsn2")
        .withColumnRenamed("tsn2", "event_id"), "user", "tsn", Seq("event_id"))
    }
  }

  test("matches a brute-force as-of on the events fixture (self-join shape)") {
    val events =
      graft.streaming.EventStream.readEvents(spark, s"$testDataDir/events.parquet")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsn"), col("event_type"))
    val clicks = events.filter(col("event_type") === "click").drop("event_type")
    val views = events.filter(col("event_type") === "view")
      .groupBy("user_id", "tsn")
      .agg(max(col("event_id")).as("v_event_id"))
    val got = AsofBrute.of(
      AsofJoin.asofBackward(clicks, views, "user_id", "tsn", Seq("v_event_id")),
      "event_id", "tsn", "v_event_id")
    assert(got == AsofBrute(clicks, views, "event_id", "user_id", "tsn", "v_event_id"))
    // both matched and unmatched left rows must exist for the test to
    // actually cover the null path
    assert(got.values.exists(_.isEmpty) && got.values.exists(_.nonEmpty))
  }

  test("matches a brute-force as-of on random data (incl. equal-ts ties)") {
    val rng = new scala.util.Random(7)
    val leftRows = Seq.tabulate(400)(i => (i.toLong, rng.nextInt(12).toLong, rng.nextInt(50).toLong))
    val rightRows = Seq.tabulate(150)(i =>
      (rng.nextInt(12).toLong, rng.nextInt(50).toLong, 1000L + i))
      // unique per (key, ts) — the operator's documented contract
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val l = leftRows.toDF("id", "k", "t")
    val r = rightRows.toDF("k", "t", "v")
    val got = AsofBrute.of(AsofJoin.asofBackward(l, r, "k", "t", Seq("v")), "id", "t", "v")
    assert(got == AsofBrute(l, r, "id", "k", "t", "v"))
  }

  test("a left column named asof_<ts> is rejected (same rule as the native path)") {
    val l = left.withColumn("asof_tsn", lit(0L))
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofBackward(l, right, "user", "tsn", Seq("val"))
    }
    assert(e.getMessage.contains("asof_tsn"))
  }
}
