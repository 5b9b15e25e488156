package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: set up a session and a workload's seeded inputs,
  * run the workload for a fixed time, check every output, and print one
  * JSON result line (end-to-end metrics, or per-layer metrics with
  * `--trace 1`).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --records <dir for the run record and spans>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
      records: File)

  /** Set-up is repeated this many times per run; set-up time is the median.
    * The first repetition pays the JVM's class loading and the second is
    * still warming up, so with three the median was the second one and
    * moved by up to a fifth between two sets of runs of the same code.
    */
  val SetupReps = 5
  /** Measured iterations per run at least, so every median has three samples. */
  val MinIterations = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "rows_per_s" -> "1/s", "setup_s" -> "s",
    "first_result_s" -> "s", "batch_p50_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_idle_s" -> "s", "spark.task_busy_s" -> "s", "spark.core_util" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "heurfuzz.prepare_s" -> "s", "heurfuzz.pairs_s" -> "s", "heurfuzz.topk_s" -> "s",
    "heurfuzz.verify_s" -> "s", "heurfuzz.pairs_rows" -> "count",
    "heurfuzz.candidate_rows" -> "count", "heurfuzz.pair_task_ns" -> "ns",
    "heurfuzz.verify_hit_ratio" -> "ratio",
    "kernel.partial_ratio_ns" -> "ns", "kernel.long_intersect_ns" -> "ns",
    "kernel.array_dot_ns" -> "ns",
    "dedup.near_dup_s" -> "s", "dedup.lsh_candidates" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.lsh_precision" -> "ratio",
    "nnd.knn_graph_s" -> "s", "nnd.jobs" -> "count", "nnd.rounds" -> "count",
    "nnd.recall_at_k" -> "ratio", "dedup.resolve_s" -> "s", "dedup.resolve_jobs" -> "count",
    "dedup.groups" -> "count",
    "dedup.index_build_s" -> "s", "dedup.index_rows" -> "count",
    "stream.add_batch_ms" -> "ms", "stream.commit_ms" -> "ms", "stream.gap_ms" -> "ms",
    "stream.jobs_per_batch" -> "count", "stream.scan_mb_per_batch" -> "MB",
    "dedup.probe_hit_ratio" -> "ratio",
    "jvm.peak_heap_mb" -> "MB",
    "trace.overhead_s" -> "s", "trace.unaccounted_s" -> "s")

  /** One measured iteration that produced a correct output. */
  private final case class Sample(wallNs: Long, out: Outcome, root: Option[Span], traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workload.named(args.workload)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(args.work.toPath)

    // ---- set-up: session start, input generation and loading (repeated;
    // the first repetition also pays the JVM's class loading)
    var spark: SparkSession = null
    var inst: Instance = null
    val setupS = (0 until SetupReps).map { _ =>
      if (spark != null) { inst.release(); spark.stop() }
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores)
      inst = wl.prepare(spark, args.seed, args.work)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val inputRdds = sc.getPersistentRDDs.keySet
    val tracer = if (args.trace) Some(new Tracer(sc)) else None
    val failures = mutable.ArrayBuffer.empty[String]
    var reference: Option[String] = None
    var attempted = 0

    /** Run one iteration and check its output; the sample if it is correct. */
    def iterate(rootName: String, traced: Boolean): Option[Sample] = {
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!inputRdds(id)) rdd.unpersist(true) }
      System.gc()
      var root: Option[Span] = None
      val t0 = System.nanoTime()
      val result = Try(tracer match {
        case Some(tr) => tr.span(rootName) { r =>
          root = Some(r)
          if (traced) inst.runTraced(tr) else inst.runPlain()
        }
        case None => inst.runPlain()
      })
      val wallNs = System.nanoTime() - t0
      attempted += 1
      result match {
        case Success(out) =>
          val problems = Try(inst.check(out)).fold(e => Seq(s"check failed: $e"), identity) ++
            reference.filter(_ != out.digest).map(r => s"output digest ${out.digest} differs from $r")
          reference = reference.orElse(Some(out.digest))
          if (problems.isEmpty) Some(Sample(wallNs, out, root, traced))
          else { failures += s"$rootName $attempted: ${problems.mkString("; ")}"; None }
        case Failure(e) =>
          failures += s"$rootName $attempted: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    // ---- warm-up: untimed but checked iterations, so Spark's code
    // generation has seen every plan and the JIT has compiled the hot
    // paths before the clock starts
    val warmupS = (0 until wl.warmups).map { _ =>
      val t0 = System.nanoTime()
      iterate("warmup", traced = false)
      (System.nanoTime() - t0) / 1e9
    }

    // ---- measured phase
    val heap = new HeapSampler
    val samples = mutable.ArrayBuffer.empty[Sample]
    val measureStart = System.nanoTime()
    val deadline = measureStart + args.seconds * 1000000000L
    var n = 0
    while (n < MinIterations || System.nanoTime() < deadline) {
      samples ++= iterate("iteration", traced = args.trace && n % 2 == 1)
      n += 1
    }
    val measuredS = (System.nanoTime() - measureStart) / 1e9
    val peakHeapMb = heap.stop()
    failures.foreach(f => System.err.println(s"[graftbench] FAILED $f"))

    val metrics: Seq[(String, String, Double)] =
      if (samples.isEmpty) Nil
      else if (!args.trace) endToEnd(samples.toSeq, setupS, inst.units)
      else tracer.fold(Seq.empty[(String, String, Double)]) { tr =>
        tr.drain()
        perLayer(tr, inst, samples.toSeq, cores, peakHeapMb, args.seed)
      }

    // ---- record and result
    val tag = s"${wl.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    val runs = args.records
    Files.createDirectories(runs.toPath)
    val record = Json.Obj(
      "workload" -> Json.Str(wl.name), "seed" -> Json.Num(args.seed.toDouble),
      "seconds" -> Json.Num(args.seconds), "trace" -> Json.Bool(args.trace),
      "cores" -> Json.Num(cores),
      "sizes" -> Json.Obj(inst.sizes.map { case (k, v) => k -> Json.Num(v.toDouble) }: _*),
      "setup_s" -> Json.nums(setupS),
      "warmup_s" -> Json.nums(warmupS),
      "measured_s" -> Json.Num(measuredS),
      "iterations" -> Json.Arr(samples.toSeq.map(s => Json.Obj(
        "traced" -> Json.Bool(s.traced), "wall_s" -> Json.Num(s.wallNs / 1e9),
        "batch_ms" -> Json.nums(s.out.batchMs)))),
      "attempted" -> Json.Num(attempted),
      "failed" -> Json.Num(failures.size),
      "error_rate" -> Json.Num(failures.size.toDouble / attempted),
      "failures" -> Json.Arr(failures.toSeq.map(Json.Str)),
      "digest" -> reference.fold[Json.Value](Json.Null)(Json.Str),
      "metrics" -> metricsJson(metrics))
    write(new File(runs, s"$tag.json"), record.render)
    tracer.foreach { tr =>
      write(new File(runs, s"$tag-spans.json"), Tracer.toJson(tr.spans, measureStart).render)
      tr.close()
    }
    val sizes = inst.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ")
    System.err.println(f"[graftbench] ${wl.name} seed=${args.seed} $sizes " +
      f"iterations=$attempted failed=${failures.size} setup=${Stats.median(setupS)}%.2fs")
    inst.release()
    spark.stop()

    println(Json.Obj(
      "correct" -> Json.Bool(failures.isEmpty && samples.nonEmpty),
      "attempted" -> Json.Num(attempted),
      "failed" -> Json.Num(failures.size),
      "metrics" -> metricsJson(metrics)).render)
    System.out.flush()
    sys.exit(0)
  }

  private def metricsJson(ms: Seq[(String, String, Double)]): Json.Obj =
    Json.Obj(ms.map { case (n, u, v) => n -> Json.Obj("value" -> Json.Num(v), "unit" -> Json.Str(u)) }: _*)

  private def withUnits(spec: Seq[(String, String)], values: Map[String, Double]): Seq[(String, String, Double)] =
    spec.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }

  /** End-to-end metrics: medians over the measured iterations. A batch
    * workload's first result is its whole result, in one batch.
    */
  private def endToEnd(samples: Seq[Sample], setupS: Seq[Double], units: Long): Seq[(String, String, Double)] = {
    val wall = samples.map(_.wallNs / 1e9)
    val first = samples.map(s => s.out.firstResultNs.getOrElse(s.wallNs) / 1e9)
    val rate = samples.map(s => units / (s.out.streamNs.getOrElse(s.wallNs) / 1e9))
    val batches = samples.flatMap(s => if (s.out.batchMs.nonEmpty) s.out.batchMs else Seq(s.wallNs / 1e6))
    withUnits(EndToEnd, Map(
      "wall_s" -> Stats.median(wall),
      "rows_per_s" -> Stats.median(rate),
      "setup_s" -> Stats.median(setupS),
      "first_result_s" -> Stats.median(first),
      "batch_p50_ms" -> Stats.median(batches)))
  }

  /** Per-layer metrics. Engine totals come from the plain iterations (the
    * call chain as end-to-end runs it, with only the listener attached);
    * layer splits come from the traced ones. A layer the workload does not
    * exercise reads 0.
    */
  private def perLayer(tr: Tracer, inst: Instance, samples: Seq[Sample], cores: Int,
      peakHeapMb: Double, seed: Long): Seq[(String, String, Double)] = {
    val all = tr.spans
    val plain = samples.filterNot(_.traced)
    val traced = samples.filter(_.traced)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val engine = plain.map { s =>
      val t = Tracer.totals(all, s.root.get)
      val wallS = s.wallNs / 1e9
      Map(
        "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
        "spark.tasks" -> t.tasks.toDouble,
        "spark.driver_idle_s" -> (wallS - t.jobUnionS),
        "spark.task_busy_s" -> t.taskBusyS,
        "spark.core_util" -> t.taskBusyS / (wallS * cores),
        "spark.shuffle_write_mb" -> t.shuffleWriteMb,
        "spark.shuffle_read_mb" -> t.shuffleReadMb,
        "spark.spill_mb" -> t.spillMb)
    }
    val layer = traced.map(s => inst.layers(all, s.root.get, s.out) +
      ("trace.unaccounted_s" -> Tracer.selfNs(all, s.root.get) / 1e9))
    val maps = engine ++ layer
    val keys = maps.flatMap(_.keys).distinct
    val values = keys.map(k => k -> med(maps.flatMap(_.get(k)))).toMap ++
      Kernels.measure(seed) ++ Map(
        "jvm.peak_heap_mb" -> peakHeapMb,
        "trace.overhead_s" -> (med(traced.map(_.wallNs / 1e9)) - med(plain.map(_.wallNs / 1e9))))
    withUnits(PerLayer, values)
  }

  /** Largest live heap seen: the heap pools' occupancy after their most
    * recent collection, sampled every 20 ms, in MB.
    */
  private final class HeapSampler {
    import scala.jdk.CollectionConverters._
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    @volatile private var peak = 0L
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) {
        peak = math.max(peak, pools.map(_.getCollectionUsage.getUsed).sum)
        Thread.sleep(20)
      }
    }, "graftbench-heap")
    thread.setDaemon(true)
    thread.start()

    def stop(): Double = { running = false; thread.join(); peak / 1e6 }
  }

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      new File(need("work")), new File(need("records")))
  }
}
