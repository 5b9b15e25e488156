package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Fuzz
import graft.operators.HeurFuzz
import org.apache.spark.sql.graft.GraftFunctions

/** The paper's query: `HeurFuzz.matchTable` on its default cross-join path
  * (bigram-coverage prune over every pair, top-K, partial_ratio verify).
  */
object FuzzyMatch extends Workload {
  val name = "fuzzy_match"
  val TopK = 10
  val Cutoff = 90
  /** Queries re-derived on the driver in each check. */
  val CheckSample = 50

  def prepare(spark: SparkSession, seed: Long, work: java.io.File): Instance =
    new Run(spark, seed, Inputs.fuzzy(seed, nRefs = 1500, nQueries = 200))

  private val termSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("term", StringType)))

  final class Run(spark: SparkSession, seed: Long, in: Inputs.Fuzzy) extends Instance {
    private val refs = Workload.cachedFrame(spark,
      in.refs.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, termSchema)
    private val queries = Workload.cachedFrame(spark,
      in.queries.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, termSchema)

    def sizes: Seq[(String, Long)] = Seq(
      "refs" -> in.refs.size.toLong, "queries" -> in.queries.size.toLong,
      "pairs" -> in.refs.size.toLong * in.queries.size,
      "noise_queries" -> in.source.count(_ < 0).toLong)
    def units: Long = in.queries.size

    private def outcome(rows: Array[Row]): Outcome = {
      val out = rows.map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      Outcome(Workload.digest(out.iterator.map { case (i, q, m) => s"$i\t$q\t$m" }), out)
    }

    def runPlain(): Outcome =
      outcome(HeurFuzz.matchTable(queries, refs,
        HeurFuzz.Params(topK = TopK, scoreCutoff = Cutoff)).collect())

    def runTraced(tr: Tracer): Outcome = {
      def rows(s: Span, df: DataFrame): Unit =
        s.counts("rows") = tr.span("probe.count")(_ => df.count()).toDouble
      val (q, r) = tr.span("heurfuzz.prepare") { _ =>
        (Workload.materialize(HeurFuzz.prepare(queries, "q_")),
          Workload.materialize(HeurFuzz.prepare(refs, "r_")))
      }
      val pairs = tr.span("heurfuzz.pairs") { s =>
        val p = Workload.materialize(HeurFuzz.pairsCross(q, r)
          .select("q_id", "q_term", "r_id", "r_term", "coverage", "len_diff"))
        rows(s, p)
        p
      }
      val cands = tr.span("heurfuzz.topk") { s =>
        val c = Workload.materialize(HeurFuzz.topKCandidates(pairs, TopK))
        rows(s, c)
        c
      }
      tr.span("probe.verify_hits") { s =>
        s.counts("rows") = cands.filter(
          GraftFunctions.partialRatioCutoff(col("r_term"), col("q_term"), Cutoff) > 0).count().toDouble
      }
      val best = tr.span("heurfuzz.verify")(_ => Workload.materialize(HeurFuzz.bestMatches(cands, Cutoff)))
      // matchTable's last step: every query, with its match or "NA"
      tr.span("sink.collect") { _ =>
        outcome(q.select(col("q_id"), col("q_term").as("query"))
          .join(best, Seq("q_id"), "left")
          .select(col("q_id"), col("query"), coalesce(col("match"), lit("NA")).as("match"))
          .collect())
      }
    }

    def layers(all: Seq[Span], root: Span, out: Outcome): Map[String, Double] = {
      val v = new Workload.SpanView(all, root)
      val pairsRows = v.count("heurfuzz.pairs", "rows")
      val candRows = v.count("heurfuzz.topk", "rows")
      Map(
        "heurfuzz.prepare_s" -> v.selfS("heurfuzz.prepare"),
        "heurfuzz.pairs_s" -> v.selfS("heurfuzz.pairs"),
        "heurfuzz.topk_s" -> v.selfS("heurfuzz.topk"),
        "heurfuzz.verify_s" -> v.selfS("heurfuzz.verify"),
        "heurfuzz.pairs_rows" -> pairsRows,
        "heurfuzz.candidate_rows" -> candRows,
        "heurfuzz.pair_task_ns" -> v.own("heurfuzz.pairs").taskBusyS * 1e9 / pairsRows,
        "heurfuzz.verify_hit_ratio" -> v.count("probe.verify_hits", "rows") / candRows)
    }

    /** Byte bigrams with multiplicity, as `TextFunctions.byteBigrams`. */
    private def bigrams(s: String): IndexedSeq[(Byte, Byte)] = {
      val b = s.getBytes("UTF-8")
      (0 until b.length - 1).map(i => (b(i), b(i + 1)))
    }

    private lazy val refBigrams = in.refs.map(t => bigrams(t).toSet)

    /** The expected match of query `qi`, derived on the driver from the
      * definitions: coverage of the query's bigrams in each ref, top-K by
      * (coverage desc, len_diff desc, ref id desc), partial_ratio with
      * cutoff on the survivors, argmax by (score desc, len_diff asc, ref
      * id desc).
      */
    private def expected(qi: Int): String = {
      val q = in.queries(qi)
      val qb = bigrams(q)
      val qLen = q.getBytes("UTF-8").length
      val ranked = in.refs.indices.map { ri =>
        val cov = if (qb.isEmpty) 0.0 else qb.count(refBigrams(ri).contains).toDouble / qb.size
        (ri, cov, math.abs(qLen - in.refs(ri).getBytes("UTF-8").length).toDouble)
      }.sortBy { case (ri, cov, ld) => (-cov, -ld, -ri) }.take(TopK)
      val scored = ranked.map { case (ri, _, ld) =>
        (ri, Fuzz.partialRatioCutoff(in.refs(ri), q, Cutoff), ld)
      }.filter(_._2 > 0)
      if (scored.isEmpty) "NA"
      else in.refs(scored.minBy { case (ri, sc, ld) => (-sc, ld, -ri) }._1)
    }

    private lazy val sample: Seq[Int] =
      new Random(seed).shuffle(in.queries.indices.toList).take(CheckSample)

    def check(out: Outcome): Seq[String] = {
      val rows = out.output.asInstanceOf[Array[(Long, String, String)]]
      val shape =
        if (rows.map(_._1).toSeq != in.queries.indices.map(_.toLong))
          Seq(s"expected one row per query (${in.queries.size}), got ${rows.length}")
        else rows.collect { case (i, q, _) if q != in.queries(i.toInt) => s"query $i text changed" }.toSeq
      if (shape.nonEmpty) shape
      else sample.flatMap { qi =>
        val want = expected(qi)
        val got = rows(qi)._3
        if (got == want) None else Some(s"query $qi: match '$got', expected '$want'")
      }
    }

    def release(): Unit = { refs.unpersist(true); queries.unpersist(true) }
  }
}
