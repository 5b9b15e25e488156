package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{JobCount, Narrow}
import graft.operators.HeurFuzz
import graft.sources.Readers

/** Pipeline semantics: golden e2e (SURVEY §7.2 definition-of-done), the
  * load-bearing tie-break total orders (SURVEY §2 ops 7/10), and the
  * edge queries (no shared bigram, no bigram at all, cutoff 0, none).
  * HeurFuzzPropertySpec checks the same pipeline against a transcription
  * of the reference on generated term sets.
  */
class HeurFuzzSpec extends SparkSpec {

  // the reference's worked example (FIXTURES.md §1.1-1.2), vendored
  // byte-exact as test resources
  private def resource(name: String): String =
    new java.io.File(getClass.getResource(s"/$name").toURI).getPath
  private val exQ = resource("test_query.txt")
  private val exR = resource("test_refs.txt")
  private val goldenRows = Seq(
    ("test", "test2"),
    ("a yellow banana from the store", "yellow banana"),
    ("vanilla", "vanilla"),
    ("peanutbutter", "NA")
  )

  private def matchRows(params: HeurFuzz.Params) =
    HeurFuzz
      .matchTable(Readers.lines(spark, exQ), Readers.lines(spark, exR), params)
      .orderBy("q_id")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq

  test("golden e2e: reproduces example/output.txt (crossJoin path)") {
    // the shipped budget takes the narrow regime on the example; the
    // cross join is its fallback past the budget
    assert(matchRows(HeurFuzz.Params(topK = 5, scoreCutoff = 90)) == goldenRows)
    assert(Narrow.withBudget(0)(matchRows(HeurFuzz.Params(topK = 5, scoreCutoff = 90))) == goldenRows)
  }

  test("top-K candidate order: desc(coverage, len_diff, ref_id) — SURVEY §2.1") {
    val q = HeurFuzz.prepare(Readers.lines(spark, exQ), "q_")
    val r = HeurFuzz.prepare(Readers.lines(spark, exR), "r_")
    val cands = HeurFuzz
      .topKCandidates(HeurFuzz.pairsCross(q, r), 5)
      .filter(col("q_term") === "test")
      .orderBy(col("coverage").desc, col("len_diff").desc, col("r_id").desc)
      .select("r_term")
      .collect()
      .map(_.getString(0))
      .toSeq
    assert(cands == Seq("testing", "test123", "tester", "test2", "test1"))
  }

  test("argmax tie-break: desc(score), asc(len_diff), desc(ref_id) → test2 not test1") {
    val rows = matchRows(HeurFuzz.Params(topK = 5, scoreCutoff = 90))
    assert(rows.head == ("test", "test2"))
  }

  test("k larger than ref count: no spurious candidates (reference quirk not replicated)") {
    val q = HeurFuzz.prepare(Readers.lines(spark, exQ), "q_")
    val r = HeurFuzz.prepare(Readers.lines(spark, exR), "r_")
    val n = HeurFuzz
      .topKCandidates(HeurFuzz.pairsCross(q, r), 50)
      .filter(col("q_term") === "test")
      .count()
    assert(n == 10) // all 10 refs, nothing more
  }

  test("map ratio: 75.00 on the example fixture (heurFuzz.py:127-128)") {
    val m = HeurFuzz.matchTable(
      Readers.lines(spark, exQ),
      Readers.lines(spark, exR),
      HeurFuzz.Params(topK = 5, scoreCutoff = 90)
    )
    assert(HeurFuzz.mapRatio(m) == 75.0)
  }

  test("strip semantics: 'vanilla ' ref (trailing space) matches exactly") {
    val rows = matchRows(HeurFuzz.Params(topK = 5, scoreCutoff = 90))
    assert(rows(2) == ("vanilla", "vanilla"))
  }

  private def crossRows(queries: org.apache.spark.sql.DataFrame,
      refs: org.apache.spark.sql.DataFrame, cutoff: Int) =
    HeurFuzz.matchTable(queries, refs, HeurFuzz.Params(topK = 5, scoreCutoff = cutoff))
      .orderBy("q_id").collect().map(r => (r.getString(1), r.getString(2))).toSeq

  test("zero-overlap query: scored like any other, NA below the cutoff") {
    import spark.implicits._
    // "qqqq" shares no bigram with any example ref: coverage 0 for every
    // pair, yet it still takes K candidates into the verify
    val queries = Seq((0L, "qqqq"), (1L, "test")).toDF("id", "term")
    assert(crossRows(queries, Readers.lines(spark, exR), 90) == Seq(("qqqq", "NA"), ("test", "test2")))
  }

  test("zero-bigram (1-char) query: verified and matched, not silently NA") {
    import spark.implicits._
    // "a" has ZERO bigrams, but partial_ratio("a", "apple") = 100 at the
    // cutoff 90, so the reference (heurFuzz.py:113-125) maps it
    val queries = Seq((0L, "a"), (1L, "test")).toDF("id", "term")
    val refs = Seq((0L, "apple"), (1L, "test2")).toDF("id", "term")
    assert(crossRows(queries, refs, 90) == Seq(("a", "apple"), ("test", "test2")))
  }

  test("zero-overlap query at cutoff 0: matched through the verify") {
    import spark.implicits._
    // "xy" shares no bigram with "yx", yet at cutoff 0 it scores and maps
    val queries = Seq((0L, "xy")).toDF("id", "term")
    val refs = Seq((0L, "yx")).toDF("id", "term")
    assert(crossRows(queries, refs, 0) == Seq(("xy", "yx")))
  }

  test("empty query set: an empty result, no crash") {
    import spark.implicits._
    val queries = Seq.empty[(Long, String)].toDF("id", "term")
    assert(crossRows(queries, Readers.lines(spark, exR), 90).isEmpty)
  }

  test("cutoff gate: peanutbutter maps once the cutoff is dropped") {
    val rows = matchRows(HeurFuzz.Params(topK = 5, scoreCutoff = 0))
    assert(rows(3)._2 != "NA")
  }

  private def shuffles(r: org.apache.spark.rdd.RDD[_]): Int = r.dependencies.map {
    case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
    case d => shuffles(d.rdd)
  }.sum

  test("narrow match: one narrow pass, no ShuffleDependency") {
    // The narrow regime's contract: the refs are sized and collected once,
    // each in one labelled job, and every query row is scanned, cut to K
    // and verified inside the tasks of one pass, so no window, join or
    // exchange sees a pair. The walker is checked against the shuffle
    // regime, which must shuffle.
    val (q, r) = (Readers.lines(spark, exQ), Readers.lines(spark, exR))
    val params = HeurFuzz.Params(topK = 5, scoreCutoff = 90)
    val shuffled = Narrow.withBudget(0)(HeurFuzz.matchTable(q, r, params))
    assert(shuffles(shuffled.queryExecution.toRdd) > 0,
      "the lineage walker found no shuffle in the shuffle regime")
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).foreach(labels.add)
    }
    sc.setJobDescription("outer")
    sc.addSparkListener(listener)
    var out: DataFrame = null
    val jobs = try JobCount.during(sc) {
      out = HeurFuzz.matchTable(q, r, params)
      assert(out.collect().sortBy(_.getLong(0)).map(x => (x.getString(1), x.getString(2))).toSeq == goldenRows)
    } finally sc.removeSparkListener(listener)
    assert(jobs <= 3, s"matchTable + collect ran $jobs jobs")
    assert(shuffles(out.queryExecution.toRdd) == 0,
      s"the narrow match has a ShuffleDependency:\n${out.queryExecution.toRdd.toDebugString}")
    import scala.jdk.CollectionConverters._
    assert(labels.asScala.toSeq.distinct.sorted == Seq("heurfuzz/refs/collect", "heurfuzz/refs/size", "outer"))
    assert(sc.getLocalProperty("spark.job.description") == "outer", "the collect did not restore the description")
    sc.setJobDescription(null)
  }
}
