package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.StructType

/** One benchmark workload: seeded inputs, the measured calls into the
  * engine (plain, and traced layer by layer) and the check of the output.
  */
trait Workload {
  def name: String

  /** Untimed iterations before the measured ones. Two were enough for the
    * batch workloads: the first measured iteration after a single one
    * still ran about 10% slow.
    */
  def warmups: Int = 2

  /** Generate this workload's inputs from `seed` and load them into
    * `spark`; `work` is a scratch directory for input files.
    */
  def prepare(spark: SparkSession, seed: Long, work: java.io.File): Instance
}

trait Instance {
  /** Input sizes, written into the run record. */
  def sizes: Seq[(String, Long)]

  /** Units of work one iteration completes (queries, docs, incoming docs). */
  def units: Long

  /** One iteration as a user would write it: the engine's public calls,
    * composed lazily, with the output collected on the driver.
    */
  def runPlain(): Outcome

  /** The same work with each layer call wrapped in a span and its output
    * materialized, so each layer's self time can be read off the trace.
    */
  def runTraced(tr: Tracer): Outcome

  /** Problems found in an iteration's output; empty when it is correct. */
  def check(out: Outcome): Seq[String]

  /** Per-layer metrics of one traced iteration, read from its spans. */
  def layers(all: Seq[Span], root: Span, out: Outcome): Map[String, Double]

  /** Drop everything this instance cached in the session. */
  def release(): Unit
}

/** What one iteration produced.
  *
  * @param digest        hash of the sorted output rows
  * @param output        the rows, in the workload's own shape, for the check
  * @param firstResultNs time from the iteration's start to its first
  *                      committed output, when that comes before the end
  * @param streamNs      length of the streaming phase, for streaming workloads
  * @param batchMs       per-micro-batch trigger times
  * @param extra         numbers the trace reads from outside the spans
  */
final case class Outcome(
    digest: String,
    output: AnyRef,
    firstResultNs: Option[Long] = None,
    streamNs: Option[Long] = None,
    batchMs: Seq[Double] = Nil,
    extra: Map[String, Double] = Map.empty)

object Workload {
  val all: Seq[Workload] = Seq(FuzzyMatch, DedupGroups, StreamScreen)

  def named(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  /** A generated table as a cached DataFrame, materialized before timing. */
  def cachedFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val slices = spark.sparkContext.defaultParallelism
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema).cache()
    df.count()
    df
  }

  /** Materialize a layer's output so the next layer starts from it. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Rows produced by the joins of an executed query: the candidate pairs
    * a filter-and-verify operator checked.
    */
  def joinOutputRows(df: DataFrame): Long = PlanWalk.collect(df.queryExecution.executedPlan) {
    case j: BaseJoinExec => j.metrics.get("numOutputRows").fold(0L)(_.value)
  }.sum

  private object PlanWalk extends AdaptiveSparkPlanHelper

  def digest(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Shorthand for span lookups inside one traced iteration. */
  final class SpanView(all: Seq[Span], root: Span) {
    private val mine = Tracer.subtree(all, root)
    def apply(name: String): Span =
      mine.find(_.name == name).getOrElse(sys.error(s"no span '$name' in this iteration"))
    def selfS(name: String): Double = Tracer.selfNs(all, apply(name)) / 1e9
    def own(name: String): Tracer.Totals = Tracer.own(apply(name))
    def count(name: String, key: String): Double = apply(name).counts(key)
    def named(name: String): Seq[Span] = mine.filter(_.name == name)
  }
}
