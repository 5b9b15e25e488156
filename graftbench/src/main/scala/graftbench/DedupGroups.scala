package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, NnDescent}

/** The training-data dedup pipeline: MinHash-LSH near-duplicate pairs
  * (`Dedup.nearDuplicates`) unioned with high-cosine NN-Descent edges
  * (`NnDescent.knnGraph`), resolved into groups that keep their best doc
  * (`Dedup.keepBest`, whose `resolveGroups` is a fixpoint loop). The
  * parameters are the engine registry's: LSH as its dedup queries call it,
  * and the graph in the derived mode (width, rounds and ρ-cap from N).
  */
object DedupGroups extends Workload {
  val name = "dedup_groups"
  val ShingleN = 4
  val NumHashes = 8
  val RowsPerBand = 4
  val JaccardMin = 0.4
  val Dim = 32
  val CosineMin = 0.95
  /** LSH pairs and cosine edges re-derived on the driver in each check. */
  val CheckSample = 200
  /** Recall floors, under the lowest value seen at the baseline over
    * seeds 1–30 (in brackets): the share of planted cluster-mate pairs
    * that end in one group (1.0) and that LSH emits (0.758), and the
    * graph's recall of the true nearest neighbours, all nodes (0.9995).
    */
  val GroupRecallMin = 0.99
  val LshRecallMin = 0.7
  val RecallAtKMin = 0.99

  def prepare(spark: SparkSession, seed: Long, work: java.io.File): Instance =
    new Run(spark, seed, Inputs.docs(seed, 300, Dim))

  private val docSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType),
    StructField("quality", DoubleType, nullable = false)))
  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("vec", ArrayType(FloatType, false))))

  /** keepBest's output row: (id, group_id, best_id, kept). */
  type Out = (Long, Long, Long, Boolean)

  final class Run(spark: SparkSession, seed: Long, in: Inputs.Docs) extends Instance {
    private val n = in.text.size
    private val docs = Workload.cachedFrame(spark,
      (0 until n).map(i => Row(i.toLong, in.text(i), in.quality(i))), docSchema)
    private val vectors = Workload.cachedFrame(spark,
      (0 until n).map(i => Row(i.toLong, in.vec(i).toSeq)), vecSchema)

    def sizes: Seq[(String, Long)] = Seq(
      "docs" -> n.toLong, "dim" -> Dim.toLong,
      "planted_clusters" -> in.cluster.filter(_ >= 0).distinct.size.toLong,
      "planted_docs" -> in.cluster.count(_ >= 0).toLong)
    def units: Long = n

    private def nearDuplicates(): DataFrame =
      Dedup.nearDuplicates(docs, "id", "text", ShingleN, NumHashes, RowsPerBand, JaccardMin)
    private def knnGraph(): DataFrame =
      NnDescent.knnGraph(vectors, "id", "vec", k = 0, iters = 0, cap = 0)
    private def cosineEdges(knn: DataFrame): DataFrame =
      knn.filter(col("cos_sim") >= CosineMin)
        .select(least(col("src"), col("dst")).as("id_a"), greatest(col("src"), col("dst")).as("id_b"))
        .distinct()
    private def keepBest(near: DataFrame, knn: DataFrame): Outcome = {
      val pairs = near.select("id_a", "id_b").union(cosineEdges(knn))
      val rows = Dedup.keepBest(docs, "id", pairs, "quality").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).sortBy(_._1)
      Outcome(Workload.digest(rows.iterator.map(_.productIterator.mkString("\t"))), rows)
    }

    def runPlain(): Outcome = keepBest(nearDuplicates(), knnGraph())

    def runTraced(tr: Tracer): Outcome = {
      val near = tr.span("dedup.near_dup") { s =>
        val nd = nearDuplicates()
        val df = Workload.materialize(nd)
        // every band-join output row is one Jaccard verification
        s.counts("candidates") = Workload.joinOutputRows(nd).toDouble
        s.counts("rows") = tr.span("probe.count")(_ => df.count()).toDouble
        df
      }
      val knn = tr.span("nnd.knn_graph")(_ => Workload.materialize(knnGraph()))
      tr.span("probe.nnd_recall")(s => s.counts("recall") = recallAtK(edges(knn)))
      tr.span("dedup.resolve")(_ => keepBest(near, knn))
    }

    def layers(all: Seq[Span], root: Span, out: Outcome): Map[String, Double] = {
      val v = new Workload.SpanView(all, root)
      val verified = v.count("dedup.near_dup", "rows")
      val candidates = v.count("dedup.near_dup", "candidates")
      Map(
        "dedup.near_dup_s" -> v.selfS("dedup.near_dup"),
        "dedup.lsh_candidates" -> candidates,
        "dedup.verified_pairs" -> verified,
        "dedup.lsh_precision" -> verified / candidates,
        "nnd.knn_graph_s" -> v.selfS("nnd.knn_graph"),
        "nnd.jobs" -> v.own("nnd.knn_graph").jobs.toDouble,
        "nnd.rounds" -> NnDescent.autoIters(n).toDouble,
        "nnd.recall_at_k" -> v.count("probe.nnd_recall", "recall"),
        "dedup.resolve_s" -> v.selfS("dedup.resolve"),
        "dedup.resolve_jobs" -> v.own("dedup.resolve").jobs.toDouble,
        "dedup.groups" -> multiDocGroups(out.output.asInstanceOf[Array[Out]]).toDouble)
    }

    private def multiDocGroups(rows: Array[Out]): Int =
      rows.groupBy(_._2).count(_._2.length > 1)

    private def cosine(a: Int, b: Int): Double = {
      val x = in.vec(a)
      val y = in.vec(b)
      var dot, nx, ny = 0.0
      x.indices.foreach { i =>
        dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i)
      }
      dot / math.sqrt(nx) / math.sqrt(ny)
    }

    /** (src, dst) of a graph, collected. */
    private def edges(knn: DataFrame): Array[(Int, Int)] =
      knn.select("src", "dst").collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt))

    /** Each node's true nearest neighbours at the graph's derived width,
      * by brute force on the driver.
      */
    private lazy val trueNeighbours: Array[Set[Int]] = {
      val k = NnDescent.autoK(n)
      Array.tabulate(n) { s =>
        (0 until n).filter(_ != s).map(o => (-cosine(s, o), o)).sorted.take(k).map(_._2).toSet
      }
    }

    /** Mean share of each node's true nearest neighbours the graph lists. */
    private def recallAtK(graph: Array[(Int, Int)]): Double = {
      val listed = graph.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
      (0 until n).map { s =>
        val truth = trueNeighbours(s)
        (truth intersect listed.getOrElse(s, Set.empty)).size.toDouble / truth.size
      }.sum / n
    }

    /** Pairs of docs planted in the same cluster, lower id first. */
    private lazy val plantedMates: Seq[(Int, Int)] = (0 until n).groupBy(in.cluster(_)).collect {
      case (c, ms) if c >= 0 => ms.combinations(2).map(p => (p(0), p(1)))
    }.flatten.toSeq

    private def plantedRecall(linked: ((Int, Int)) => Boolean): Double =
      plantedMates.count(linked).toDouble / plantedMates.size

    private def shingles(i: Int): Set[String] = {
      val t = in.text(i).toLowerCase
      (0 to t.length - ShingleN).map(j => t.substring(j, j + ShingleN)).toSet
    }

    /** The pairs the engine resolves and the recall of its graph,
      * computed once, outside the timing.
      */
    private lazy val emitted: (Array[(Int, Int)], Array[(Int, Int)], Double) = {
      def ids(df: DataFrame) = df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
      val knn = Workload.materialize(knnGraph())
      (ids(nearDuplicates()), ids(cosineEdges(knn)), recallAtK(edges(knn)))
    }

    def check(out: Outcome): Seq[String] = {
      val rows = out.output.asInstanceOf[Array[Out]]
      if (rows.map(_._1).toSeq != (0 until n).map(_.toLong))
        return Seq(s"expected one row per doc ($n), got ${rows.length}")
      val (lsh, cos, recall) = emitted
      val problems = mutable.ArrayBuffer.empty[String]
      // groups: the union-find components of the emitted pairs, keyed by min id
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
      (lsh ++ cos).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val comp = Array.tabulate(n)(find)
      val minOf = comp.indices.groupBy(comp(_)).map { case (k, ms) => k -> ms.min }
      val bestOf = comp.indices.groupBy(comp(_)).map { case (k, ms) =>
        k -> ms.minBy(i => (-in.quality(i), i))
      }
      rows.foreach { case (id, group, best, kept) =>
        val c = comp(id.toInt)
        if (group != minOf(c)) problems += s"doc $id: group_id $group, components say ${minOf(c)}"
        else if (best != bestOf(c)) problems += s"doc $id: best_id $best, expected ${bestOf(c)}"
        else if (kept != (id == best)) problems += s"doc $id: kept=$kept with best_id $best"
      }
      val grouped = plantedRecall { case (a, b) => rows(a)._2 == rows(b)._2 }
      if (grouped < GroupRecallMin)
        problems += f"planted cluster-mates grouped: $grouped%.4f, below $GroupRecallMin"
      val lshPairs = lsh.toSet
      val found = plantedRecall(lshPairs)
      if (found < LshRecallMin)
        problems += f"planted cluster-mates among LSH pairs: $found%.4f, below $LshRecallMin"
      if (recall < RecallAtKMin) problems += f"graph recall@k $recall%.4f below $RecallAtKMin"
      val rnd = new Random(seed)
      rnd.shuffle(lsh.toList).take(CheckSample).foreach { case (a, b) =>
        val (x, y) = (shingles(a), shingles(b))
        val j = (x intersect y).size.toDouble / (x union y).size
        if (j < JaccardMin - 1e-9) problems += f"pair ($a, $b): Jaccard $j%.4f below $JaccardMin"
      }
      rnd.shuffle(cos.toList).take(CheckSample).foreach { case (a, b) =>
        val c = cosine(a, b)
        if (c < CosineMin - 1e-9) problems += f"edge ($a, $b): cosine $c%.4f below $CosineMin"
      }
      problems.take(10).toSeq
    }

    def release(): Unit = { docs.unpersist(true); vectors.unpersist(true) }
  }
}
