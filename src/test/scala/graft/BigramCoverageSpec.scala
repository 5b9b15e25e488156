package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** The sorted-code coverage kernel must return exactly the double the
  * `filter`/`array_contains` HOF returns on the binary bigrams, in both
  * codegen and interpreted execution, including multibyte UTF-8 (bytes
  * >= 0x80), repeated bigrams on either side, and empty / 1-byte terms.
  */
class BigramCoverageSpec extends SparkSpec {
  import spark.implicits._

  // repeated ASCII (repeated bigrams), 2-, 3- and 4-byte UTF-8 sequences
  private val alphabet = Seq("a", "a", "a", "b", "b", "c", " ", "é", "é", "中", "😀")

  private def randomTerms(seed: Int, n: Int): Seq[(String, String)] = {
    val rng = new scala.util.Random(seed)
    def term() = Seq.fill(rng.nextInt(12))(alphabet(rng.nextInt(alphabet.length))).mkString
    Seq(("", "ab"), ("a", "ab"), ("ab", ""), ("ab", "a"), ("", ""), ("aa", "a")) ++
      Seq.fill(n)((term(), term()))
  }

  test("sortedCoverage(byteBigramCodes) == bigramCoverage(byteBigrams) on random multibyte pairs") {
    val df = randomTerms(17, 600).toDF("q", "r")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val rows = df
          .withColumn("fast", TextFunctions.sortedCoverage(
            TextFunctions.byteBigramCodes(col("q")), TextFunctions.byteBigramCodes(col("r"))))
          .withColumn("ref", TextFunctions.bigramCoverage(
            TextFunctions.byteBigrams(col("q")), TextFunctions.byteBigrams(col("r"))))
          .select("q", "r", "fast", "ref")
          .collect()
        val bad = rows.filter(r => r.getDouble(2) != r.getDouble(3))
        assert(bad.length == 0, s"mismatch under $codegen: ${bad.take(5).mkString(", ")}")
        // not a vacuous agreement: partial coverages occur
        assert(rows.count(r => r.getDouble(3) > 0 && r.getDouble(3) < 1) > 100)
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("byteBigramCodes: sorted unsigned byte-pair codes with multiplicity") {
    val row = Seq("baa", "aé", "x", "").toDF("t")
      .select(TextFunctions.byteBigramCodes(col("t")).as("c"))
      .collect()
      .map(_.getSeq[Int](0))
    // "baa" = 62 61 61 -> {0x6261, 0x6161}; "aé" = 61 C3 A9 -> {0x61C3, 0xC3A9}
    assert(row.toSeq == Seq(Seq(0x6161, 0x6261), Seq(0x61C3, 0xC3A9), Seq(), Seq()))
  }

  test("null input yields null") {
    val df = Seq((Some("ab"), None: Option[String]), (None, Some("ab"))).toDF("q", "r")
    val rows = df.select(
      TextFunctions.byteBigramCodes(col("r")).as("codes"),
      TextFunctions.sortedCoverage(
        TextFunctions.byteBigramCodes(col("q")), TextFunctions.byteBigramCodes(col("r"))).as("cov")
    ).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(!rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }
}
