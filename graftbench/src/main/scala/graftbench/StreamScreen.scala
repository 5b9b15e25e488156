package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.streaming.EventStream
import org.apache.spark.graftbench.ListenerBus

/** Build once, probe many: `Dedup.containmentScreenIndex` over a corpus,
  * then a file stream of incoming docs through `EventStream.foreachBatchSink`,
  * each micro-batch screened by `Dedup.incrementalContainmentScreenOnIndex`.
  */
object StreamScreen extends Workload {
  val name = "stream_screen"
  /** Iteration times fall steeply over the first four iterations (seed
    * 206: 9.2, 3.7, 3.4, 3.2 s) and then slowly for as long as the run
    * lasts (2.3 to 2.5 s by the eighteenth). Six warm-ups instead of four
    * did not narrow the spread over seeds, so the run stays short.
    */
  override val warmups = 4
  val ShingleN = 5
  val Threshold = 0.8

  def prepare(spark: SparkSession, seed: Long, work: File): Instance =
    new Run(spark, Inputs.stream(seed, 200, nBatches = 3, perBatch = 20), new File(work, "stream"))

  private val corpusSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType)))

  /** Output row of the screen: (id, n_containers, kept). */
  type Out = (Long, Long, Boolean)

  final class Run(spark: SparkSession, in: Inputs.Stream, dir: File) extends Instance {
    private val corpus = Workload.cachedFrame(spark,
      in.corpus.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, corpusSchema)
    private val incomingDir = new File(dir, "incoming")
    private val incoming = in.batches.flatten
    private var iteration = 0

    // one JSON-lines file per micro-batch, oldest first
    Files.createDirectories(incomingDir.toPath)
    in.batches.zipWithIndex.foreach { case (b, i) =>
      val f = new File(incomingDir, f"part-$i%03d.json")
      val lines = b.map(d => Json.Obj("id" -> Json.Num(d.id.toDouble), "text" -> Json.Str(d.text)).render)
      Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      f.setLastModified(1700000000000L + i * 1000L)
    }

    def sizes: Seq[(String, Long)] = Seq(
      "corpus_docs" -> in.corpus.size.toLong, "batches" -> in.batches.size.toLong,
      "incoming_docs" -> incoming.size.toLong,
      "planted_excerpts" -> incoming.count(_.planted).toLong)
    def units: Long = incoming.size

    def runPlain(): Outcome = run(None)
    def runTraced(tr: Tracer): Outcome = run(Some(tr))

    private def run(tr: Option[Tracer]): Outcome = {
      val t0 = System.nanoTime()
      def span[T](name: String, parent: Option[Span] = None)(body: Option[Span] => T): T =
        tr.fold(body(None))(_.span(name, parent)(s => body(Some(s))))

      val index = span("dedup.index_build") { s =>
        val ix = Dedup.containmentScreenIndex(corpus, "id", "text", ShingleN, eager = true)
        s.foreach(_.counts("rows") = tr.get.span("probe.count")(_ => ix.postings.count()).toDouble)
        ix
      }

      val ckpt = new File(dir, s"checkpoint-$iteration")
      iteration += 1
      val results = new ConcurrentLinkedQueue[Out]()
      @volatile var firstNs = 0L
      val firstCommit = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (firstNs == 0L) firstNs = System.nanoTime()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(firstCommit)
      val s0 = System.nanoTime()
      val query = try span("stream") { streamSpan =>
        val source = spark.readStream.schema(corpusSchema)
          .option("maxFilesPerTrigger", 1).json(incomingDir.getPath)
        val q = EventStream.foreachBatchSink(source, batch =>
          Dedup.incrementalContainmentScreenOnIndex(batch, index, "id", "text", ShingleN, Threshold)
        ) { (out, _) =>
          span("stream.batch", streamSpan) { s =>
            val rows = out.collect()
            rows.foreach(r => results.add((r.getLong(0), r.getLong(1), r.getBoolean(2))))
            s.foreach { s =>
              s.counts("containers") = rows.map(_.getLong(1)).sum.toDouble
              s.counts("join_rows") = Workload.joinOutputRows(out).toDouble
            }
          }
        }.option("checkpointLocation", ckpt.getPath).start()
        q.awaitTermination()
        q
      } finally {
        ListenerBus.drain(spark.sparkContext)
        spark.streams.removeListener(firstCommit)
        deleteTree(ckpt)
      }
      val streamNs = System.nanoTime() - s0
      require(firstNs > 0L, "no progress event for the first micro-batch")

      val progress = query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trigger = progress.map(ms(_, "triggerExecution")).toSeq
      val add = progress.map(ms(_, "addBatch")).toSeq
      val commit = progress.map(p => ms(p, "walCommit") + ms(p, "commitOffsets")).toSeq
      val gap = trigger.indices.map(i => trigger(i) - add(i) - commit(i))
      val rows = results.asScala.toArray.sortBy(_._1)
      Outcome(
        Workload.digest(rows.iterator.map(_.productIterator.mkString("\t"))), rows,
        firstResultNs = Some(firstNs - t0), streamNs = Some(streamNs), batchMs = trigger,
        extra = Map(
          "stream.add_batch_ms" -> Stats.median(add),
          "stream.commit_ms" -> Stats.median(commit),
          "stream.gap_ms" -> Stats.median(gap)))
    }

    def layers(all: Seq[Span], root: Span, out: Outcome): Map[String, Double] = {
      val v = new Workload.SpanView(all, root)
      val spans = v.named("stream.batch")
      val batches = spans.map(Tracer.own)
      val n = batches.size.toDouble
      def sum(key: String) = spans.map(_.counts(key)).sum
      Map(
        "dedup.index_build_s" -> v.selfS("dedup.index_build"),
        "dedup.index_rows" -> v.count("dedup.index_build", "rows"),
        "stream.jobs_per_batch" -> batches.map(_.jobs).sum / n,
        "stream.scan_mb_per_batch" -> batches.map(_.inputMb).sum / n,
        "dedup.probe_hit_ratio" -> sum("containers") / sum("join_rows")
      ) ++ out.extra.filter(_._1.startsWith("stream."))
    }

    private def shingles(text: String): Set[String] = {
      val t = text.toLowerCase
      (0 to t.length - ShingleN).map(j => t.substring(j, j + ShingleN)).toSet
    }

    /** Exact containment counts on the driver: for each incoming doc, the
      * corpus docs holding at least `Threshold` of its shingles.
      */
    private lazy val expected: Map[Long, Long] = {
      val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      in.corpus.zipWithIndex.foreach { case (t, c) =>
        shingles(t).foreach(g => postings.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += c)
      }
      incoming.map { d =>
        val a = shingles(d.text)
        val hits = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
        a.foreach(g => postings.get(g).foreach(_.foreach(c => hits(c) += 1)))
        d.id -> hits.values.count(k => a.nonEmpty && k.toDouble / a.size >= Threshold).toLong
      }.toMap
    }

    def check(out: Outcome): Seq[String] = {
      val rows = out.output.asInstanceOf[Array[Out]]
      if (rows.map(_._1).toSeq != incoming.map(_.id).sorted)
        return Seq(s"expected one row per incoming doc (${incoming.size}), got ${rows.length}")
      val planted = incoming.map(d => d.id -> d.planted).toMap
      rows.toSeq.flatMap { case (id, n, kept) =>
        if (n != expected(id)) Some(s"doc $id: $n containers, expected ${expected(id)}")
        else if (planted(id) == kept)
          Some(s"doc $id: kept=$kept but it is ${if (planted(id)) "a planted excerpt" else "fresh"}")
        else None
      }.take(10)
    }

    def release(): Unit = { corpus.unpersist(true); deleteTree(dir) }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
