package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Builder-side profiling main (round 17): runs one registered query the
  * way Bench does (same session config, same noop sink) and prints a
  * per-JOB / per-STAGE cost table from the scheduler event stream —
  * where a multi-action query (checkpoint loops, convergence counts,
  * artifact staging) actually spends its wall-clock. Guide §1: measure
  * first; the bench JSON gives one number per query, this main says
  * which job/stage inside the query owns it.
  *
  * Usage: sbt "runMain graft.Profile q52_dedup_groups [runs]"
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.
  *
  * Output (stderr-safe, one line per job of the LAST run):
  *   job <id> <wall ms> desc=<job description / call site>
  *     stage <id> tasks=<n> wall=<ms> input=<MB> shufR=<MB> shufW=<MB> name
  */
object Profile {
  private case class StageAgg(
      name: String, var tasks: Int = 0, var wallMs: Long = 0,
      var inputB: Long = 0, var shufRB: Long = 0, var shufWB: Long = 0,
      var firstLaunch: Long = Long.MaxValue, var lastFinish: Long = 0)

  def main(args: Array[String]): Unit = {
    if (sys.env.get("GRAFT_PROFILE_SWEEP").contains("1")) { sweep(args); return }
    require(args.nonEmpty, "usage: Profile <query-name-substring> [runs]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local()

    val name = SparkEntry.queries.keys.toSeq.sorted
      .find(_.contains(args(0)))
      .getOrElse(sys.error(s"no query matches '${args(0)}'"))
    val fn = SparkEntry.queries(name)

    val jobStart = mutable.Map.empty[Int, (Long, String)]
    val jobLines = mutable.ArrayBuffer.empty[String]
    val stageOfJob = mutable.Map.empty[Int, Int] // stageId -> jobId
    val stages = mutable.Map.empty[Int, StageAgg]
    val jobStages = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobStart(e.jobId) = (e.time, desc)
        jobStages(e.jobId) = mutable.ArrayBuffer(e.stageIds: _*)
        e.stageIds.foreach(s => stageOfJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobStart.get(e.jobId).foreach { case (t0, desc) =>
          jobLines += f"job ${e.jobId}%4d ${e.time - t0}%7d ms  $desc"
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = stages.getOrElseUpdate(e.stageId, StageAgg(""))
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.wallMs += (e.taskInfo.finishTime - e.taskInfo.launchTime)
          a.inputB += m.inputMetrics.bytesRead
          a.shufRB += m.shuffleReadMetrics.totalBytesRead
          a.shufWB += m.shuffleWriteMetrics.bytesWritten
        }
        a.firstLaunch = math.min(a.firstLaunch, e.taskInfo.launchTime)
        a.lastFinish = math.max(a.lastFinish, e.taskInfo.finishTime)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val a = stages.getOrElseUpdate(e.stageInfo.stageId, StageAgg(""))
        stages(e.stageInfo.stageId) = a.copy(name = e.stageInfo.name)
      }
    }

    // warm runs (codegen, parquet footers, artifact staging) — untimed
    (1 until runs).foreach { _ =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain (listenerBus is private[spark])

    println(f"== $name : ${wall}%.3f s wall (last of $runs runs) ==")
    jobLines.foreach(println)
    println("-- stages (task-summed) --")
    stages.toSeq.sortBy(_._1).foreach { case (sid, a) =>
      val jid = stageOfJob.getOrElse(sid, -1)
      val span = if (a.lastFinish > 0) a.lastFinish - a.firstLaunch else 0L
      println(f"stage $sid%4d (job $jid%3d) tasks=${a.tasks}%4d span=${span}%6d ms " +
        f"tsum=${a.wallMs}%7d ms in=${a.inputB / 1e6}%8.1f MB " +
        f"sR=${a.shufRB / 1e6}%8.1f MB sW=${a.shufWB / 1e6}%8.1f MB  ${a.name.take(90)}")
    }
    spark.stop()
  }

  /** GRAFT_PROFILE_SWEEP=1: run EVERY query (or the given substrings)
    * once warm + once timed, and print one classification line each —
    * wall, job count, summed job wall, summed task time — separating
    * driver/overhead-bound queries (wall >> task-parallel floor) from
    * compute-bound ones (task-sum / wall ~ core count).
    */
  private def sweep(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val only = args.toSet
    @volatile var jobs = 0
    @volatile var jobWall = 0L
    @volatile var taskSum = 0L
    val jobT0 = mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobT0(e.jobId) = e.time }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobT0.remove(e.jobId).foreach { t0 => jobs += 1; jobWall += e.time - t0 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        taskSum += (e.taskInfo.finishTime - e.taskInfo.launchTime)
    }
    spark.sparkContext.addSparkListener(listener)
    println("query,wall_s,jobs,job_wall_s,task_sum_s")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          System.gc()
          Thread.sleep(200)
          jobs = 0; jobWall = 0L; taskSum = 0L
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // drain listener bus
          println(f"$name,$wall%.2f,$jobs,${jobWall / 1e3}%.2f,${taskSum / 1e3}%.2f")
        } catch { case e: Throwable =>
          System.err.println(s"[sweep] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
