package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions
import graft.functions.Fuzz

/** The codegen'd Catalyst scorer expression must agree with the plain
  * Scala scorer and the UDF on every surface (Column, SQL).
  */
class PartialRatioExprSpec extends SparkSpec {
  import spark.implicits._

  /** partial_ratio with cutoff as a plain Spark UDF: the comparison
    * surface, the same scorer behind the ScalaUDF wrapper.
    */
  private def partialRatioCutoffUdf(cutoff: Int) =
    udf((a: String, b: String) => Fuzz.partialRatioCutoff(a, b, cutoff))

  private val pairs = Seq(
    ("test", "testing"), ("abcd", "abced"), ("ab", "ba"),
    ("Vanilla", "vanilla "), ("peanutbutter", "tester"), ("", "x"), ("", "")
  )

  test("expression agrees with the Scala scorer and the UDF") {
    val df = pairs.toDF("a", "b")
    val out = df.select(
      col("a"), col("b"),
      GraftFunctions.partialRatioCutoff(col("a"), col("b"), 60).as("expr_score"),
      partialRatioCutoffUdf(60)(col("a"), col("b")).as("udf_score")
    ).collect()
    out.foreach { r =>
      val expected = Fuzz.partialRatioCutoff(r.getString(0), r.getString(1), 60)
      assert(r.getInt(2) == expected, s"expr ${r.getString(0)}/${r.getString(1)}")
      assert(r.getInt(3) == expected, s"udf ${r.getString(0)}/${r.getString(1)}")
    }
  }

  test("null inputs yield null (null-intolerant fast path)") {
    val df = Seq((Some("a"), None: Option[String]), (None, Some("b"))).toDF("a", "b")
    val out = df.select(GraftFunctions.partialRatioCutoff(col("a"), col("b"), 50)).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("registered SQL function works through the session extension") {
    val got = spark.sql(
      "SELECT partial_ratio_cutoff('test', 'testing', 90) AS s").head().getInt(0)
    assert(got == 100)
    val zero = spark.sql(
      "SELECT partial_ratio_cutoff('peanutbutter', 'tester', 90) AS s").head().getInt(0)
    assert(zero == 0)
  }

  test("survives codegen over a real column pipeline (many rows)") {
    val df = (1 to 1000).map(i => (s"term$i", s"term${i}x")).toDF("a", "b")
    val n = df.filter(GraftFunctions.partialRatioCutoff(col("a"), col("b"), 90) === 100).count()
    assert(n == 1000L) // every a is a substring of b
  }
}
