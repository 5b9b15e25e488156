package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ByteBigramCodes, Narrow, SortedCoverage}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions
import graft.sources.Readers

/** The reference's entire query (heurFuzz.py:138-170):
  *
  *   read queries + refs (strip, stable row ids)
  *     -> project byte length + byte bigrams
  *     -> per-pair coverage + abs length difference
  *     -> per-query top-K ordered desc(coverage, len_diff, ref_id)
  *        (/root/reference/src/heurFuzz.py:81-90; lexsort-derived total
  *        order validated against example/output.txt, SURVEY §2.1)
  *     -> partial_ratio verify with score cutoff, lowercased
  *        (/root/reference/src/heurFuzz.py:96-112)
  *     -> per-query argmax ordered desc(score), asc(len_diff), desc(ref_id)
  *        (/root/reference/src/heurFuzz.py:113-125)
  *     -> every query with its match or NA, input-order TSV sink
  *        (/root/reference/src/heurFuzz.py:131-136)
  *
  * Scale notes (100 TB design):
  *   - The reference keeps the refs as dense in-RAM arrays and loops over
  *     the queries in parallel (SURVEY §0, §1.1). matchTable does the same
  *     while the refs fit the driver's Narrow budget: they are collected
  *     once and broadcast as flat arrays (MatchRefs), and one narrow pass
  *     over the query partitions scores every ref with one merge scan,
  *     keeps the top K in a bounded buffer and verifies them per query —
  *     no pair row, window or exchange. The refs' footprint (about 56
  *     bytes per ref plus 5 per term byte, times the measured peak
  *     factor) is what bounds it, not the query count.
  *   - Past the budget the refs stream through a cross join against the
  *     broadcast queries, and the top-K window's shuffle carries only
  *     (query, ref id, ref term, coverage, len_diff) per pair — not the
  *     raw pair matrix the reference materializes densely in RAM.
  *   - Every pair is scored, by one merge scan (SortedCoverage). A bigram
  *     inverted-index equi-join (SURVEY §4.3) measured 3.1-4.2x slower
  *     than the cross join at every size tried, up to 160k refs and 2,000
  *     queries (SCALE.md, "Match pair stage: cross join vs inverted
  *     index"), and was removed: byte bigrams are dense in text, so the
  *     join emits a row per shared bigram where the cross path runs one
  *     merge scan per pair.
  */
object HeurFuzz {

  /** CLI defaults per the reference (/root/reference/src/heurFuzz.py:177-179).
    * The reference's bufferSize has no field: Spark strings are not
    * fixed-width, so graft.Main validates `-b` and ignores it (documented
    * divergence).
    */
  case class Params(
      topK: Int = 10,
      scoreCutoff: Int = 90
  )

  /** Add byte length + byte bigrams to a (id, term) frame, prefixing
    * column names (q_/r_). The bigrams are sorted int codes
    * (TextFunctions.byteBigramCodes), computed once per term so the pair
    * stage pays one merge scan per pair.
    */
  def prepare(df: DataFrame, p: String): DataFrame =
    df.select(
      col("id").as(s"${p}id"),
      col("term").as(s"${p}term"),
      TextFunctions.byteLength(col("term")).as(s"${p}len"),
      TextFunctions.byteBigramCodes(col("term")).as(s"${p}bigrams")
    )

  /** Brute-force pair stage (bit-faithful to the reference's dense loops,
    * /root/reference/src/heurFuzz.py:47-70): every (ref, query) pair via
    * BroadcastNestedLoopJoin with the query side broadcast, scored by the
    * codegen'd sorted-code coverage kernel (TextFunctions.sortedCoverage).
    * matchTable's shuffle regime.
    */
  def pairsCross(queries: DataFrame, refs: DataFrame): DataFrame =
    refs
      .crossJoin(broadcast(queries))
      .withColumn("coverage", TextFunctions.sortedCoverage(col("q_bigrams"), col("r_bigrams")))
      .withColumn("len_diff", abs(col("q_len") - col("r_len")).cast("double"))

  /** Per-query top-K: the reference's lexsort+tail+reverse net order is
    * desc(coverage, len_diff, ref_id) — including the counter-intuitive
    * LARGEST len_diff first within a coverage tie (code wins over
    * README.md:12; validated vs example/output.txt, SURVEY §2.1).
    * The reference's n_refs<K zero-fill quirk (spurious ref-0 candidates,
    * heurFuzz.py:83-89) is intentionally NOT replicated. Refs that share
    * an id are ordered by their term. The window partitions by `key`:
    * matchTable passes a per-row id so that query rows sharing a q_id are
    * not pooled.
    */
  def topKCandidates(pairs: DataFrame, topK: Int, key: String = "q_id"): DataFrame = {
    val w = Window
      .partitionBy(key)
      .orderBy(col("coverage").desc, col("len_diff").desc, col("r_id").desc, col("r_term").desc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK).drop("rank")
  }

  /** Verify + reduce: score the K survivors with lowercased partial_ratio
    * (cutoff zeroes in double domain, then uint8 rounding), keep score>0,
    * argmax per query ordered desc(score), asc(len_diff), desc(ref_id)
    * (heurFuzz.py:113-125: np.argmax first-hit over the §2-op-7 candidate
    * order == largest ref_id among min-len_diff score-ties). Returns
    * (`key`, match, score).
    */
  def bestMatches(candidates: DataFrame, scoreCutoff: Int, key: String = "q_id"): DataFrame = {
    val scored = candidates
      .withColumn("score",
        org.apache.spark.sql.graft.GraftFunctions.partialRatioCutoff(col("r_term"), col("q_term"), scoreCutoff))
      .filter(col("score") > 0)
    val w = Window
      .partitionBy(key)
      .orderBy(col("score").desc, col("len_diff").asc, col("r_id").desc, col("r_term").desc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col(key), col("r_term").as("match"), col("score"))
  }

  /** Full match table: every query row with its match or "NA" (absence
    * is the literal string "NA" in the reference, heurFuzz.py:115).
    * Returns (q_id, query, match), with q_id and query typed as the
    * input's id and term. Each query row is matched on its own, as the
    * reference matches each input line: rows that share an id, or have a
    * null one, are not pooled.
    *
    * Two regimes, one answer. While the refs' footprint (rows and term
    * bytes, one sizing job) fits the Narrow budget, the refs are
    * collected once, sorted into ref order and broadcast (MatchRefs), and
    * one narrow pass over the query partitions scans, keeps the top K and
    * verifies each query row inside its task. Past the budget the cross
    * join runs: pairsCross, topKCandidates and bestMatches keyed by a
    * per-row id, joined back to the queries.
    */
  def matchTable(queries: DataFrame, refs: DataFrame, params: Params): DataFrame = {
    val q = prepare(queries, "q_")
    val r = prepare(refs, "r_").select("r_id", "r_term", "r_bigrams")
    val (rows, bytes) = MatchRefs.footprint(r)
    if (Narrow.fits(Narrow.Refs -> rows, Narrow.TermBytes -> bytes)) {
      val schema = StructType(Seq(q.schema("q_id"), q.schema("q_term").copy(name = "query"),
        StructField("match", StringType, nullable = false)))
      MatchRefs.matches(q.select("q_id", "q_term", "q_bigrams"),
        Narrow.share(queries.sparkSession, MatchRefs.collect(r)), params.topK, params.scoreCutoff, schema)
    } else {
      val qk = q.withColumn("q_rk", monotonically_increasing_id()).localCheckpoint(false)
      val cands = topKCandidates(pairsCross(qk, prepare(refs, "r_")), params.topK, "q_rk")
      qk.select(col("q_rk"), col("q_id"), col("q_term").as("query"))
        .join(bestMatches(cands, params.scoreCutoff, "q_rk"), Seq("q_rk"), "left")
        .select(col("q_id"), col("query"), coalesce(col("match"), lit("NA")).as("match"))
    }
  }

  /** The narrow regime's top-K candidate list of each query term, from
    * the same collect and MatchScan the pass runs: (ref index in ref
    * order, coverage, len_diff), best first; None where a null term makes
    * coverage and len_diff null.
    */
  private[graft] def narrowCandidates(refs: DataFrame, topK: Int): String => Seq[(Int, Option[Double], Option[Double])] = {
    val scan = new MatchScan(MatchRefs.collect(prepare(refs, "r_").select("r_id", "r_term", "r_bigrams")), topK)
    term => {
      val codes = Option(term).map(t => ByteBigramCodes.compute(UTF8String.fromString(t)).asInstanceOf[UnsafeArrayData])
      scan.candidates(codes.orNull, codes.fold(-1)(_ => term.getBytes(UTF_8).length))
      val n = codes.fold(0)(_.numElements())
      (0 until scan.size).map { j =>
        if (scan.hits(j) < 0) (scan.ref(j), None, None)
        else (scan.ref(j), Some(if (n == 0) 0.0 else scan.hits(j).toDouble / n), Some(scan.diff(j).toDouble))
      }
    }
  }

  /** Map ratio %: mapped/total*100 rounded to 2dp
    * (/root/reference/src/heurFuzz.py:127-128).
    */
  def mapRatio(matches: DataFrame): Double =
    matches
      .agg(round(avg(when(col("match") =!= "NA", 1.0).otherwise(0.0)) * 100, 2))
      .head()
      .getDouble(0)

  /** End-to-end run on text files, mirroring the reference CLI
    * (/root/reference/src/heurFuzz.py:138-170). Writes the two-column TSV
    * (header `query\tmatch`, input order) and prints the map ratio.
    */
  def run(
      spark: SparkSession,
      queryFile: String,
      refFile: String,
      outputFile: String,
      params: Params = Params()
  ): Double = {
    // step banners for CLI parity (/root/reference/src/heurFuzz.py:140-168);
    // they are log lines, not materialization barriers — the DAG stays lazy
    println("[STEP1] Reading queries and refs...")
    // linesFast: ordering-equivalent ids in one pass (no zipWithIndex
    // count job) — tie-breaks depend only on id order, so output is
    // identical to the contiguous-id reader (golden e2e covers both).
    val queries = Readers.linesFast(spark, queryFile)
    val refs = Readers.linesFast(spark, refFile)
    println("[STEP2-5] Planning lengths, coverage, top-K (lazy single DAG)...")
    val matches = matchTable(queries, refs, params).cache()
    println("[STEP6] Running verify scorer + reduce...")
    val ratio = mapRatio(matches)
    println("[STEP6] Writing output file...")
    Readers.writeTsvFile(matches.select("q_id", "query", "match"), "q_id", outputFile)
    println(f"Map ratio: $ratio%.2f%%")
    matches.unpersist()
    ratio
  }
}
