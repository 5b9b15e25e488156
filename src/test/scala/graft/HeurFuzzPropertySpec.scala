package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import graft.functions.Fuzz
import graft.operators.HeurFuzz

/** Differential properties: `HeurFuzz.matchTable`, and its top-K
  * candidate stage, against a plain-Scala transcription of the reference
  * pipeline (heurFuzz.py, SURVEY §2 ops 3-10) on generated term sets. The
  * transcription keeps the reference's loop shapes instead of the
  * engine's relational ones:
  *   - coverage: for each query bigram, a linear search of the ref's
  *     bigrams that `break`s on the first hit, so a hit does not consume
  *     the ref bigram (heurFuzz.py:34-44);
  *   - top-K: a stable ascending sort on (coverage, len_diff) — the
  *     lexsort — then the last K reversed, i.e. desc(coverage, len_diff,
  *     ref row) (heurFuzz.py:81-90);
  *   - verify: `partial_ratio(ref, query)` of the lowercased terms with
  *     the score cutoff, scored by `Fuzz.partialRatioCutoff`
  *     (heurFuzz.py:96-112);
  *   - argmax: "NA" when every score is 0, else the best score, ties to
  *     the smallest len_diff, then the largest ref row (heurFuzz.py:113-125).
  * Ref rows are generated in ascending id order, so the reference's row
  * index order is the engine's r_id order. The one intended divergence is
  * kept: with fewer refs than K the reference zero-fills its index matrix
  * and re-scores ref row 0; the transcription, like the engine, keeps only
  * the real refs.
  */
object HeurFuzzPropertySpec extends Properties("HeurFuzz") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  final case class Case(queries: Seq[(Long, String)], refs: Seq[(Long, String)], topK: Int, cutoff: Int)

  // ---- the transcription -------------------------------------------------

  private def bigrams(term: String): Seq[(Byte, Byte)] = {
    val b = term.getBytes(UTF_8)
    (0 until b.length - 1).map(i => (b(i), b(i + 1)))
  }

  private def coverage(q: Seq[(Byte, Byte)], r: Seq[(Byte, Byte)]): Double = {
    var hits = 0
    for (g <- q) {
      var j = 0
      var found = false
      while (j < r.length && !found) {
        if (r(j) == g) { hits += 1; found = true }
        j += 1
      }
    }
    if (q.isEmpty) 0.0 else hits.toDouble / q.length
  }

  /** The K candidates of one query in the reference's emitted order, as
    * (ref row, coverage, len_diff).
    */
  private def topK(c: Case, q: String): Seq[(Int, Double, Double)] = {
    val qb = bigrams(q)
    val qLen = q.getBytes(UTF_8).length
    val cov = c.refs.map { case (_, r) => coverage(qb, bigrams(r)) }
    val lenDiff = c.refs.map { case (_, r) => math.abs(qLen - r.getBytes(UTF_8).length).toDouble }
    val lexsorted = c.refs.indices.sortBy(i => (cov(i), lenDiff(i)))
    lexsorted.takeRight(c.topK).reverse.map(i => (i, cov(i), lenDiff(i)))
  }

  private def reference(c: Case): Seq[(Long, String, String)] =
    c.queries.map { case (qId, q) =>
      val top = topK(c, q)
      val scores = top.map { case (i, _, _) => Fuzz.partialRatioCutoff(c.refs(i)._2, q, c.cutoff) }
      val best =
        if (scores.forall(_ == 0)) "NA"
        else {
          val hi = scores.max
          val ties = top.indices.filter(scores(_) == hi)
          val minDiff = ties.map(j => top(j)._3).min
          c.refs(ties.filter(j => top(j)._3 == minDiff).map(j => top(j)._1).max)._2
        }
      (qId, q, best)
    }

  // ---- generated term sets -----------------------------------------------

  // a small alphabet forces repeated bigrams, equal coverages and equal
  // byte lengths; 2-, 3- and 4-byte UTF-8 and upper case (the heuristic
  // phase is case-sensitive, the verify phase lowercases)
  private val tokens = Seq("a", "a", "b", "b", "ab", "ba", "A", " ", "é", "É", "中", "😀")
  private val term: Gen[String] =
    Gen.frequency(
      1 -> Gen.const(""),
      1 -> Gen.oneOf("a", "b", "x"),
      8 -> Gen.choose(1, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf(tokens)).map(_.mkString))
    )
  // strictly increasing, gapped ids in row order
  private def withIds(terms: Seq[String], start: Long): Gen[Seq[(Long, String)]] =
    Gen.listOfN(terms.size, Gen.choose(1L, 3L)).map { gaps =>
      gaps.scanLeft(start)(_ + _).tail.zip(terms)
    }

  private val cases: Gen[Case] = for {
    nRefs <- Gen.frequency(1 -> Gen.const(0), 12 -> Gen.choose(1, 12))
    refTerms <- Gen.listOfN(nRefs, term)
    // some refs repeat a term under a new id: full coverage/length ties
    refs <- withIds(refTerms ++ refTerms.take(nRefs / 3), 0L)
    nQueries <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 5))
    queryTerms <- Gen.listOfN(nQueries, term)
    queries <- withIds(queryTerms, 100L)
    topK <- Gen.frequency(3 -> Gen.choose(1, 3), 1 -> Gen.choose(4, 8))
    cutoff <- Gen.oneOf(0, 1, 50, 70, 90, 100)
  } yield Case(queries, refs, topK, cutoff)

  private def frames(c: Case) = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    (c.queries.toDF("id", "term"), c.refs.toDF("id", "term"))
  }

  property("matchTable equals the heurFuzz.py transcription") =
    Prop.forAllNoShrink(cases) { c =>
      val (q, r) = frames(c)
      val got = HeurFuzz.matchTable(q, r, HeurFuzz.Params(topK = c.topK, scoreCutoff = c.cutoff))
        .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq.sortBy(_._1)
      val want = reference(c)
      (got == want) :| s"$c\n engine:    $got\n reference: $want"
    }

  // the prune alone: a coverage fault that happens not to move a final
  // match still shows in the K candidates and their coverage values
  property("top-K candidates equal the transcription's, coverage included") =
    Prop.forAllNoShrink(cases) { c =>
      val (q, r) = frames(c)
      val got = HeurFuzz
        .topKCandidates(HeurFuzz.pairsCross(HeurFuzz.prepare(q, "q_"), HeurFuzz.prepare(r, "r_")), c.topK)
        .select("q_id", "r_id", "coverage", "len_diff")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getDouble(3))).toSeq
        .sortBy { case (qId, rId, cov, diff) => (qId, -cov, -diff, -rId) }
      val want = c.queries.sortBy(_._1).flatMap { case (qId, qt) =>
        topK(c, qt).map { case (i, cov, diff) => (qId, c.refs(i)._1, cov, diff) }
      }
      (got == want) :| s"$c\n engine:    $got\n reference: $want"
    }

  property("generated cases cover the edge inputs") = {
    val sample = Iterator.continually(cases.sample).flatten.take(200).toSeq
    def some(what: String)(p: Case => Boolean) = sample.exists(p) :| what
    def terms(c: Case) = c.queries.map(_._2) ++ c.refs.map(_._2)
    def covTie(c: Case) = c.queries.exists { case (_, q) =>
      val k = c.refs.map { case (_, r) => (coverage(bigrams(q), bigrams(r)), r.getBytes(UTF_8).length) }
      k.distinct.size < k.size
    }
    some("multibyte text")(terms(_).exists(_.exists(_ > 0x7f))) &&
      some("repeated bigram")(terms(_).exists(t => bigrams(t).distinct.size < bigrams(t).size)) &&
      some("0-byte term")(terms(_).contains("")) &&
      some("1-byte term")(terms(_).exists(_.getBytes(UTF_8).length == 1)) &&
      some("fewer refs than K")(c => c.refs.nonEmpty && c.refs.size < c.topK) &&
      some("coverage/length tie")(covTie) &&
      some("no refs")(_.refs.isEmpty) &&
      some("no queries")(_.queries.isEmpty)
  }
}
