package graft

import org.apache.spark.sql.functions._
import graft.operators.AsofJoin

/** The as-of join's physical operator (AsofJoinExec): the plan is the
  * custom exec fed by one exchange + sort per side, its output
  * partitioning serves a downstream groupBy on the key, null keys or
  * timestamps never match on either merge path, and the generated
  * asof_<ts> column may not clash (AsofJoinSpec compares the rest against
  * a brute-force as-of).
  */
class AsofJoinNativeSpec extends SparkSpec {
  import spark.implicits._

  private def events =
    graft.streaming.EventStream.readEvents(spark, "/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsn"), col("event_type"))

  test("plan: AsofJoinExec with one exchange and one sort per side") {
    val clicks = events.filter(col("event_type") === "click").drop("event_type")
    val views = events.filter(col("event_type") === "view")
      .groupBy("user_id", "tsn").agg(max(col("event_id")).as("v_event_id"))
    val plan = AsofJoin.asofBackward(clicks, views, "user_id", "tsn", Seq("v_event_id"))
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix: the node prints "AsofJoin"
    assert(plan.contains("AsofJoin"), plan)
    assert(!plan.contains("Window"), s"native path must not fall back to the window trick:\n$plan")
    // exactly one key exchange per side (the aggregate's own exchange on
    // (user_id, tsn) is the third)
    assert(plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 3, plan)
  }

  test("outputPartitioning propagates: downstream groupBy on the key adds no exchange") {
    val clicks = events.filter(col("event_type") === "click").drop("event_type")
    val views = events.filter(col("event_type") === "view")
      .groupBy("user_id", "tsn").agg(max(col("event_id")).as("v_event_id"))
    val plan = AsofJoin.asofBackward(clicks, views, "user_id", "tsn", Seq("v_event_id"))
      .groupBy("user_id").count()
      .queryExecution.executedPlan.toString
    // 2 join-input exchanges + 1 aggregate exchange on (user_id, tsn) from
    // the views pre-aggregation; the post-join groupBy(user_id) must NOT
    // add a fourth — the join's left-side partitioning satisfies it
    assert(plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 3, plan)
  }

  test("null keys and timestamps never match") {
    val left = Seq((1L, Option(5L), Option(10L)), (2L, None, Option(10L)), (3L, Option(5L), None))
      .toDF("id", "k", "t")
    val right = Seq((Option(5L), Option(5L), 99L), (Option.empty[Long], Option(1L), 77L))
      .toDF("k", "t", "v")
    val joined = AsofJoin.asofBackward(left, right, "k", "t", Seq("v"))
    val out = joined.select("id", "v").orderBy("id").collect()
    assert(out(0).getLong(1) == 99L)   // normal match
    assert(out(1).isNullAt(1))         // null key -> no match
    assert(out(2).isNullAt(1))         // null ts -> no match
    assert(AsofBrute.of(joined, "id", "t", "v") == AsofBrute(left, right, "id", "k", "t", "v"))
  }

  test("null keys and timestamps never match on the interpreted path (string key)") {
    // string key -> non-primitive merge path; the null-ts row shares its
    // key with a matched row so a held candidate exists for that key
    val left = Seq(
      ("m1", Option("a"), Option(10L)),
      ("m2", Option("a"), Option.empty[Long]),  // null ts, key has a held candidate
      ("m3", Option.empty[String], Option(10L)),
      ("m4", Option("b"), Option(20L)))
      .toDF("id", "k", "t")
    val right = Seq(
      (Option("a"), Option(5L), 99L),
      (Option("b"), Option(7L), 88L),
      (Option.empty[String], Option(1L), 77L))
      .toDF("k", "t", "v")
    val joined = AsofJoin.asofBackward(left, right, "k", "t", Seq("v"))
    val out = joined.select("id", "v").orderBy("id").collect()
    assert(out(0).getLong(1) == 99L)   // ('a', 10) matches ('a', 5)
    assert(out(1).isNullAt(1))         // null ts -> no match, even with a held 'a' candidate
    assert(out(2).isNullAt(1))         // null key -> no match
    assert(out(3).getLong(1) == 88L)   // ('b', 20) matches ('b', 7)
    assert(AsofBrute.of(joined, "id", "t", "v") == AsofBrute(left, right, "id", "k", "t", "v"))
  }

  test("join rejects a left column that clashes with the generated asof_<ts> name") {
    val left = Seq((1L, 2L, 3L)).toDF("k", "t", "asof_t")
    val right = Seq((1L, 1L, 9L)).toDF("k", "t", "v")
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofBackward(left, right, "k", "t", Seq("v"))
    }
    assert(e.getMessage.contains("asof_t"))
  }
}
