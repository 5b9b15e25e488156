package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.graft.Narrow
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import graft.functions.Fuzz
import graft.operators.HeurFuzz

/** Differential properties: `HeurFuzz.matchTable` in both its regimes,
  * and its top-K candidate stage (the shuffle regime's window and the
  * narrow regime's kernel), against a plain-Scala transcription of the
  * reference pipeline (heurFuzz.py, SURVEY §2 ops 3-10) on generated term
  * sets. The transcription keeps the reference's loop shapes instead of
  * the engine's relational ones:
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
  * Each query row is matched on its own, as the reference matches each
  * input line, whatever its id. The reference has no nulls; a null term
  * is given null coverage and len_diff, which rank below every value, and
  * scores 0. Ref rows are generated in the engine's ref order — ascending
  * id with a null id first, ties on id by the term's UTF-8 bytes with a
  * null term first — and handed to Spark shuffled, so the reference's row
  * index order is the engine's ref order. The one intended divergence is
  * kept: with fewer refs than K the reference zero-fills its index matrix
  * and re-scores ref row 0; the transcription, like the engine, keeps only
  * the real refs.
  */
object HeurFuzzPropertySpec extends Properties("HeurFuzz") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  type Row = (Option[Long], Option[String])
  final case class Case(queries: Seq[Row], refs: Seq[Row], topK: Int, cutoff: Int, seed: Long)

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
  private def topK(c: Case, q: Option[String]): Seq[(Int, Option[Double], Option[Double])] = {
    val keys = c.refs.map { case (_, r) =>
      for (qt <- q; rt <- r) yield
        (coverage(bigrams(qt), bigrams(rt)),
          math.abs(qt.getBytes(UTF_8).length - rt.getBytes(UTF_8).length).toDouble)
    }
    val lexsorted = c.refs.indices.sortBy(i => (keys(i).map(_._1), keys(i).map(_._2)))
    lexsorted.takeRight(c.topK).reverse.map(i => (i, keys(i).map(_._1), keys(i).map(_._2)))
  }

  private def reference(c: Case): Seq[(Option[Long], Option[String], String)] =
    c.queries.map { case (qId, q) =>
      val top = topK(c, q)
      val scores = top.map { case (i, _, _) => Fuzz.partialRatioCutoff(c.refs(i)._2.orNull, q.orNull, c.cutoff) }
      val best =
        if (scores.forall(_ == 0)) "NA"
        else {
          val hi = scores.max
          val ties = top.indices.filter(scores(_) == hi)
          val minDiff = ties.flatMap(j => top(j)._3).min
          c.refs(ties.filter(j => top(j)._3.contains(minDiff)).map(j => top(j)._1).max)._2.get
        }
      (qId, q, best)
    }

  // ---- generated term sets -----------------------------------------------

  // a small alphabet forces repeated bigrams, equal coverages and equal
  // byte lengths; 2-, 3- and 4-byte UTF-8 and upper case (the heuristic
  // phase is case-sensitive, the verify phase lowercases)
  private val tokens = Seq("a", "a", "b", "b", "ab", "ba", "A", " ", "é", "É", "中", "😀")
  private val term: Gen[Option[String]] =
    Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some("")),
      1 -> Gen.oneOf("a", "b", "x").map(Some(_)),
      8 -> Gen.choose(1, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf(tokens)).map(t => Some(t.mkString)))
    )
  // non-decreasing gapped ids (a 0 gap repeats one), some of them null
  private def withIds(terms: Seq[Option[String]], start: Long): Gen[Seq[Row]] = for {
    gaps <- Gen.listOfN(terms.size, Gen.frequency(1 -> Gen.const(0L), 4 -> Gen.choose(1L, 3L)))
    nulls <- Gen.listOfN(terms.size, Gen.frequency(1 -> true, 9 -> false))
  } yield gaps.scanLeft(start)(_ + _).tail.zip(nulls).map { case (id, n) => Option.when(!n)(id) }.zip(terms)

  private def utf8(t: Option[String]): Option[List[Int]] = t.map(_.getBytes(UTF_8).map(_ & 0xff).toList)

  private val cases: Gen[Case] = for {
    nRefs <- Gen.frequency(1 -> Gen.const(0), 12 -> Gen.choose(1, 12))
    refTerms <- Gen.listOfN(nRefs, term)
    // some refs repeat a term under a new id (full coverage/length ties),
    // and some swap a and b: the same length and often the same score,
    // so the argmax meets ties between different terms
    swapped = refTerms.take(nRefs / 3).map(_.map(_.map {
      case 'a' => 'b'
      case 'b' => 'a'
      case ch => ch
    }))
    refs <- withIds(refTerms ++ refTerms.take(nRefs / 3) ++ swapped, 0L)
    nQueries <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 5))
    queryTerms <- Gen.listOfN(nQueries, term)
    queries <- withIds(queryTerms, 100L)
    topK <- Gen.frequency(3 -> Gen.choose(1, 3), 1 -> Gen.choose(4, 8))
    cutoff <- Gen.oneOf(0, 1, 50, 70, 90, 100)
    seed <- Gen.long
  } yield {
    import scala.math.Ordering.Implicits.seqOrdering
    Case(queries, refs.sortBy { case (id, t) => (id, utf8(t)) }, topK, cutoff, seed)
  }

  private def frames(c: Case) = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(c.seed)
    (rnd.shuffle(c.queries).toDF("id", "term"), rnd.shuffle(c.refs).toDF("id", "term"))
  }

  // rows that share an id are compared as a multiset
  private def sorted[T](rows: Seq[T]): Seq[T] = rows.sortBy(_.toString)

  property("matchTable equals the heurFuzz.py transcription") =
    Prop.forAllNoShrink(cases) { c =>
      val (q, r) = frames(c)
      def run() = HeurFuzz.matchTable(q, r, HeurFuzz.Params(topK = c.topK, scoreCutoff = c.cutoff))
      val (narrow, shuffle) = (run(), Narrow.withBudget(0)(run()))
      def rows(df: DataFrame) = sorted(df.collect().toSeq
        .map(x => (Option(x.get(0)).map(_.asInstanceOf[Long]), Option(x.getString(1)), x.getString(2))))
      val want = sorted(reference(c))
      val (gotN, gotS) = (rows(narrow), rows(shuffle))
      ((narrow.schema == shuffle.schema) :| s"schemas: ${narrow.schema} vs ${shuffle.schema}") &&
        ((gotN == want) :| s"$c\n narrow:    $gotN\n reference: $want") &&
        ((gotS == want) :| s"$c\n shuffle:   $gotS\n reference: $want")
    }

  // the prune alone: a coverage fault that happens not to move a final
  // match still shows in the K candidates and their coverage values. The
  // shuffle regime's stage keys its window by a per-row id; the narrow
  // kernel lists each query's candidates best first, so its order is
  // checked too.
  property("top-K candidates equal the transcription's, coverage included") =
    Prop.forAllNoShrink(cases) { c =>
      val (q, r) = frames(c)
      def opt[T](x: Any) = Option(x).map(_.asInstanceOf[T])
      val qk = HeurFuzz.prepare(q, "q_").withColumn("q_rk", monotonically_increasing_id())
      val stage = HeurFuzz.topKCandidates(HeurFuzz.pairsCross(qk, HeurFuzz.prepare(r, "r_")), c.topK, "q_rk")
        .select("q_rk", "q_id", "q_term", "r_id", "r_term", "coverage", "len_diff").collect().toSeq
        .groupBy(_.getLong(0)).values.map { rows =>
          ((opt[Long](rows.head.get(1)), opt[String](rows.head.get(2))),
            sorted(rows.map(x => (opt[Long](x.get(3)), opt[String](x.get(4)),
              opt[Double](x.get(5)), opt[Double](x.get(6))))))
        }.toSeq
      // queries with no candidate (no refs) have no group in the stage
      val ranked = c.queries.map { case (qId, qt) => ((qId, qt), topK(c, qt)) }
      val want = sorted(ranked.filter(_._2.nonEmpty).map { case (k, top) =>
        (k, sorted(top.map { case (i, cov, diff) => (c.refs(i)._1, c.refs(i)._2, cov, diff) }))
      })
      val kernel = HeurFuzz.narrowCandidates(r, c.topK)
      val gotK = c.queries.map { case (qId, qt) => ((qId, qt), kernel(qt.orNull)) }
      ((sorted(stage) == want) :| s"$c\n stage:     ${sorted(stage)}\n reference: $want") &&
        ((gotK == ranked) :| s"$c\n kernel:    $gotK\n reference: $ranked")
    }

  property("generated cases cover the edge inputs") = {
    val sample = Iterator.continually(cases.sample).flatten.take(200).toSeq
    def some(what: String)(p: Case => Boolean) = sample.exists(p) :| what
    def terms(c: Case) = (c.queries ++ c.refs).flatMap(_._2)
    def covTie(c: Case) = c.queries.flatMap(_._2).exists { q =>
      val k = c.refs.flatMap(_._2).map(r => (coverage(bigrams(q), bigrams(r)), r.getBytes(UTF_8).length))
      k.distinct.size < k.size
    }
    def repeated(ids: Seq[Option[Long]]) = ids.flatten.distinct.size < ids.flatten.size
    // two different terms among one query's K tie on a positive score and
    // on len_diff
    def argmaxTie(c: Case) = c.queries.exists { case (_, q) =>
      topK(c, q).map { case (i, _, diff) =>
        (Fuzz.partialRatioCutoff(c.refs(i)._2.orNull, q.orNull, c.cutoff), diff, c.refs(i)._2)
      }.filter(_._1 > 0).groupBy(t => (t._1, t._2)).values.exists(_.map(_._3).distinct.size > 1)
    }
    some("multibyte text")(terms(_).exists(_.exists(_ > 0x7f))) &&
      some("repeated bigram")(terms(_).exists(t => bigrams(t).distinct.size < bigrams(t).size)) &&
      some("0-byte term")(terms(_).contains("")) &&
      some("1-byte term")(terms(_).exists(_.getBytes(UTF_8).length == 1)) &&
      some("fewer refs than K")(c => c.refs.nonEmpty && c.refs.size < c.topK) &&
      some("coverage/length tie")(covTie) &&
      some("argmax tie between terms")(argmaxTie) &&
      some("no refs")(_.refs.isEmpty) &&
      some("no queries")(_.queries.isEmpty) &&
      some("null query term")(_.queries.exists(_._2.isEmpty)) &&
      some("null ref term")(_.refs.exists(_._2.isEmpty)) &&
      some("null query id")(_.queries.exists(_._1.isEmpty)) &&
      some("null ref id")(_.refs.exists(_._1.isEmpty)) &&
      some("repeated query id")(c => repeated(c.queries.map(_._1))) &&
      some("repeated ref id")(c => repeated(c.refs.map(_._1)))
  }
}
