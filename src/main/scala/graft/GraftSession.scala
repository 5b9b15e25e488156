package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Local-mode defaults mirror what a production cluster submit would set
  * per-job: shuffle parallelism sized to cores (not the 200 default), AQE on
  * (runtime re-plan, skew-join splitting, shuffle coalescing), UTC session
  * time zone for oracle parity.
  *
  * The one place a SparkSession is built: every main and the test suite
  * call `local`, so the engine runs under one conf set everywhere.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` when set, else every core of the host. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // unpersisting a locally checkpointed RDD is intended (the narrow
    // regimes' checkpoints, the bench iterations), so its WARN is noise
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
