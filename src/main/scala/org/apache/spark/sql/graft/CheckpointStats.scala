package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Stats hygiene for iterative (local)checkpoint loops.
  *
  * `Dataset.checkpoint`/`localCheckpoint` wrap the materialized RDD in a
  * `LogicalRDD` that CARRIES the checkpointed plan's statistics
  * (`originStats`). Catalyst's size-only estimator multiplies child
  * sizes at joins (`SizeInBytesOnlyStatsPlanVisitor.default`), so an
  * iterative loop of the shape
  *
  *   labels = f(labels join labels).localCheckpoint()
  *
  * inherits a size estimate that is (at least) SQUARED every round.
  * The estimate is a `BigInt`; after ~13-25 rounds its bit length
  * crosses java.math.BigInteger's 2^31-bit cap and PLANNING itself
  * throws `ArithmeticException: BigInteger would overflow supported
  * range` — the pointer-jumping dedup-group loops (q52/q91/q192 class)
  * hit exactly this once their input pairs carry default-sized
  * (8 EiB) LogicalRDD leaves and the loop runs enough rounds.
  *
  * `freshCheckpoint` localCheckpoints the frame and re-wraps the
  * materialized RDD WITHOUT origin stats (zero-copy: the physical
  * `toRdd` of a checkpoint scan is the checkpointed RDD itself), so
  * every round restarts from the session default size estimate instead
  * of the inherited product. The default (8 EiB) also keeps the loop's
  * self-joins out of broadcast plans — correct here: label frames are
  * corpus-proportional, never safely broadcastable at scale.
  */
object CheckpointStats {
  /** localCheckpoint + stats reset. The re-wrap copies the checkpoint's
    * LogicalRDD with originStats = None, which strips exactly the
    * squared size estimate; its recorded output partitioning and
    * ordering are copied as they are. Under AQE (the engine's default)
    * the checkpointed plan is adaptive and the LogicalRDD records
    * UnknownPartitioning(0), so a frame repartitioned by a key before
    * this checkpoint is NOT known to be partitioned by it: a later
    * groupBy or join on that key still plans its Exchange (checked:
    * df.repartition(col("src")).localCheckpoint().groupBy("src") plans
    * one Exchange with AQE on and none with it off; the re-wrap copies
    * that LogicalRDD's partitioning). Pre-partitioning before a
    * checkpoint therefore buys nothing here and costs a shuffle.
    * `eager = false` defers materialization to the caller's next action
    * — an iterative loop whose round ends in a convergence count can
    * fold checkpoint materialization into that count instead of paying
    * a separate job.
    */
  def freshCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val cp = ds.localCheckpoint(eager).asInstanceOf[Dataset[Row]]
    val sp = cp.sparkSession.asInstanceOf[SparkSession]
    cp.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Dataset.ofRows(sp, org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(sp, None, None))
      case _ =>
        sp.internalCreateDataFrame(cp.queryExecution.toRdd, cp.schema)
    }
  }

  /** Row count as one job over the frame's internal rows. Dataset.count
    * aggregates, which under AQE is a map-stage job plus a result job;
    * on a lazy freshCheckpoint this single job is also the one that
    * materializes it.
    */
  def rowCount(df: DataFrame): Long =
    df.asInstanceOf[Dataset[Row]].queryExecution.toRdd.count()
}
