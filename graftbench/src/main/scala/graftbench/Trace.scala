package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler._

/** One timed call into a layer. Spark work started while the span is the
  * innermost one on its thread (jobs, their stages and tasks) is charged
  * to it by the listener; the counters are written on the listener thread
  * and read after [[Tracer.drain]].
  */
final class Span(val id: Int, val name: String, val parent: Option[Span], val startNs: Long) {
  @volatile var endNs: Long = 0L
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** (start, end) wall-clock millis of each job charged here. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def durNs: Long = endNs - startNs
}

/** In-memory span recorder and the benchmark's Spark listener.
  *
  * `span` sets the Spark local property [[Tracer.Property]] to the span id
  * before running its body, so every job the body triggers — on this
  * thread or on the threads Spark hands local properties to (broadcast
  * and subquery pools) — is attributed to that span. Spans on other
  * threads (a streaming query's batches) pass their parent explicitly.
  * Nothing is written until the run ends.
  */
final class Tracer(sc: SparkContext) extends SparkListener with AutoCloseable {
  import Tracer.Property

  private val nextId = new AtomicInteger(0)
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  private val current = new ThreadLocal[Span]
  sc.addSparkListener(this)

  def span[T](name: String, parent: Option[Span] = None)(body: Span => T): T = {
    val s = new Span(nextId.getAndIncrement(), name,
      parent.orElse(Option(current.get)), System.nanoTime())
    byId.put(s.id, s)
    val prevSpan = current.get
    val prevProp = sc.getLocalProperty(Property)
    current.set(s)
    sc.setLocalProperty(Property, s.id.toString)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      current.set(prevSpan)
      sc.setLocalProperty(Property, prevProp)
    }
  }

  /** Every span recorded so far, in start order. */
  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    byId.values.asScala.toSeq.sortBy(_.id)
  }

  def drain(): Unit = ListenerBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
      .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(stageSpan.put(_, s))
        s.synchronized { s.jobs += 1 }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
      s.synchronized { s.jobIntervals += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        s.taskBusyMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  override def close(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  val Property = "graftbench.span"

  /** `root` and every span below it. */
  def subtree(all: Seq[Span], root: Span): Seq[Span] = {
    def under(s: Span): Boolean = s.id == root.id || s.parent.exists(under)
    all.filter(under)
  }

  /** Length of the union of a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(all: Seq[Span], s: Span): Long =
    s.durNs - unionLength(all.filter(_.parent.exists(_.id == s.id)).map(c => (c.startNs, c.endNs)))

  /** Engine-level totals of a span and everything below it. */
  final case class Totals(jobs: Int, stages: Int, tasks: Int, taskBusyS: Double,
      shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double, inputMb: Double,
      jobUnionS: Double)

  def totals(all: Seq[Span], root: Span): Totals = {
    val ss = subtree(all, root)
    def sum(f: Span => Long): Long = ss.map(s => s.synchronized(f(s))).sum
    Totals(
      jobs = sum(_.jobs.toLong).toInt,
      stages = sum(_.stages.toLong).toInt,
      tasks = sum(_.tasks.toLong).toInt,
      taskBusyS = sum(_.taskBusyMs) / 1e3,
      shuffleReadMb = sum(_.shuffleReadBytes) / 1e6,
      shuffleWriteMb = sum(_.shuffleWriteBytes) / 1e6,
      spillMb = sum(_.spillBytes) / 1e6,
      inputMb = sum(_.inputBytes) / 1e6,
      jobUnionS = unionLength(ss.flatMap(s => s.synchronized(s.jobIntervals.toList))) / 1e3)
  }

  /** What was charged to the span itself, not to its children. */
  def own(s: Span): Totals = totals(Seq(s), s)

  /** The spans of one run as JSON, with times relative to `originNs`. */
  def toJson(all: Seq[Span], originNs: Long): Json.Value =
    Json.Arr(all.map { s =>
      val t = own(s)
      Json.Obj(
        "id" -> Json.Num(s.id),
        "name" -> Json.Str(s.name),
        "parent" -> s.parent.fold[Json.Value](Json.Null)(p => Json.Num(p.id)),
        "start_ms" -> Json.Num((s.startNs - originNs) / 1e6),
        "dur_ms" -> Json.Num(s.durNs / 1e6),
        "self_ms" -> Json.Num(selfNs(all, s) / 1e6),
        "jobs" -> Json.Num(t.jobs),
        "stages" -> Json.Num(t.stages),
        "tasks" -> Json.Num(t.tasks),
        "task_busy_s" -> Json.Num(t.taskBusyS),
        "shuffle_read_mb" -> Json.Num(t.shuffleReadMb),
        "shuffle_write_mb" -> Json.Num(t.shuffleWriteMb),
        "spill_mb" -> Json.Num(t.spillMb),
        "input_mb" -> Json.Num(t.inputMb),
        "counts" -> Json.Obj(s.counts.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*))
    })
}
