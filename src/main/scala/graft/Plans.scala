package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for registered queries to files — the
  * plan evidence the optimization rounds commit under plans/rNN/.
  *
  * Usage: sbt "runMain graft.Plans <outDir> <suffix> [query substrings...]"
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. With no
  *   substrings, dumps every batch query (streaming gates build their
  *   plans inside foreachBatch and are skipped on error).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plans <outDir> <suffix> [queries...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val only = args.drop(2).toSet
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plans] wrote $name")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plans] $name skipped: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
