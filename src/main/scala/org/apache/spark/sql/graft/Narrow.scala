package org.apache.spark.sql.graft

import scala.collection.mutable
import scala.ref.WeakReference
import scala.reflect.ClassTag
import scala.util.DynamicVariable

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The scaffolding every narrow regime shares. A narrow regime collects
  * its input once, broadcasts it as flat arrays and answers in one narrow
  * pass over them; past its budget the operator runs its shuffle twin.
  * Four regimes use it: NN-Descent's rounds (NarrowRounds), group
  * resolution (DupComponents), the exact containment corpus
  * (ContainmentCorpus, which three operators probe: the containment
  * screen, containmentPairs and ngramJaccardPairs) and the fuzzy match's
  * refs (graft.operators.MatchRefs).
  * This object owns what they have in common:
  *
  *   - the budget: one byte budget derived from the driver heap, against
  *     which each regime's declared footprint (bytes per row times the
  *     measured peak factor of its collect, SCALE.md) is checked;
  *   - the collect: per-partition array builders, gathered in one job
  *     through `queryExecution.toRdd` under an `operator/phase` job
  *     description, joined with one allocation;
  *   - the broadcast and its release, now or once the checkpoint that
  *     reads it is cut from its lineage;
  *   - the frames back: a narrow pass's RDD of internal rows, or a
  *     driver-built LocalRelation.
  */
object Narrow {

  /** A regime's declared footprint: the bytes one input row occupies in
    * its broadcast arrays, and the driver's peak heap over a narrow
    * build, as a multiple of those bytes. The factors are measured
    * (SCALE.md): ScaleProbe's A/Bs at the old constant row bounds, the
    * sampled used heap around the narrow arm's build in a 4 GB driver
    * with a 32 MB young generation. The peak holds what a local-mode
    * driver holds: the collect's arrays, the broadcast and its
    * serialized pieces, and the build's checkpoint blocks.
    */
  final case class Regime(bytesPerRow: Long, peakFactor: Double) {
    def bytes(rows: Long): Double = rows.toDouble * bytesPerRow * peakFactor
  }

  /** Near-dup pairs: two longs (DupComponents); measured at 3.99M pairs. */
  val Pairs: Regime = Regime(16, 19.2)
  /** Corpus postings: postDoc, postPos and docH (16 bytes), plus a
    * dictionary entry, df and CSR offset per distinct shingle (16) and a
    * doc's CSR offset, key and live flag per doc (13); distinct shingles
    * and docs are each at most one per posting (ContainmentCorpus).
    * Measured at 2.0M postings as 4.7 times 32 declared bytes, i.e. 3.34
    * times these 45 (the per-doc arrays are 3,600 × 13 bytes there); 2.6
    * when re-measured with the per-doc key array.
    */
  val Postings: Regime = Regime(45, 3.34)
  /** NN-Descent graph rows: one out-edge (dst, score, null flag) and up
    * to two capped adjacency entries (NarrowGraph). Graph and Vectors
    * share the factor of one measured build: 90k 64-d vectors, k = 43,
    * 6 rounds.
    */
  val Graph: Regime = Regime(24, 22.5)
  /** NN-Descent vectors of `dim` doubles, with id, norm and array header
    * (NarrowVectors).
    */
  def Vectors(dim: Int): Regime = Regime(40L + 8L * dim, 22.5)
  /** Fuzzy-match refs (graft.operators.MatchRefs), sized in two parts
    * because terms vary in length: per ref, its byte length, CSR offset
    * and String object (`Refs`); per term byte, one bigram code and one
    * byte of the String's storage (`TermBytes`). They share the factor
    * of one measured match: 640,000 refs of 40 bytes against 10 queries.
    */
  val Refs: Regime = Regime(56, 5.8)
  val TermBytes: Regime = Regime(5, 5.8)

  private val pinned = new DynamicVariable[Option[Long]](None)

  /** The bytes a narrow regime may peak at on the driver: Spark's user
    * memory, the heap that neither its 300 MB reserve nor its unified
    * execution and storage region (spark.memory.fraction) claims.
    */
  def budget: Long = pinned.value.getOrElse {
    val fraction = Option(SparkEnv.get).fold(0.6)(_.conf.getDouble("spark.memory.fraction", 0.6))
    ((Runtime.getRuntime.maxMemory - (300L << 20)) * (1 - fraction)).toLong
  }

  /** Do the regimes' summed peaks fit the budget? */
  def fits(demands: (Regime, Long)*): Boolean =
    demands.map { case (r, rows) => r.bytes(rows) }.sum <= budget

  /** Run `body` with the budget pinned to `bytes` on this thread and the
    * threads it starts; 0 sends every operator to its shuffle regime.
    * Tests and ScaleProbe force a regime this way.
    */
  def withBudget[T](bytes: Long)(body: => T): T = pinned.withValue(Some(bytes))(body)

  /** Collect `df` in one job, one value per partition in partition order:
    * `part` folds a partition's internal rows into array builders. The
    * scan reuses its rows, so `part` copies what it keeps. The job runs
    * under the description `label` (`operator/phase`, e.g.
    * `heurfuzz/refs/collect`); the thread's previous description is
    * restored after it.
    */
  def collect[P: ClassTag](df: DataFrame, label: String)(part: Iterator[InternalRow] => P): Array[P] = {
    val sc = df.sparkSession.sparkContext
    val previous = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(label)
    try df.asInstanceOf[Dataset[_]].queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(part(rows))).collect()
    finally sc.setJobDescription(previous)
  }

  /** Per-partition arrays joined into one, allocated once. */
  def flat[T: ClassTag](parts: Array[Array[T]]): Array[T] = Array.concat(parts.toIndexedSeq: _*)

  /** Broadcast a regime's arrays for its narrow pass. */
  def share[T: ClassTag](spark: ApiSession, value: T): Broadcast[T] =
    spark.sparkContext.broadcast(value)

  /** Destroy broadcasts now, blocking until their blocks are gone. */
  def release(shared: Broadcast[_]*): Unit = shared.foreach(_.destroy(blocking = true))

  private val releasers = mutable.WeakHashMap.empty[SparkContext, Releaser]

  /** Destroy `shared` once the checkpoint `cp` (a localCheckpoint or
    * freshCheckpoint, eager or lazy, or a frame over a locally
    * checkpointed RDD) is cut from its lineage: now if it
    * is, else at the end of a later job. Spark cuts a lazy checkpoint
    * right after the first job whose result stage reads it through no
    * other checkpoint, and a broadcast must outlive every plan that can
    * still compute from it (a task that merely serializes that lineage
    * fails). A checkpoint that is never cut releases once it is
    * unreachable. Every other frame that reads `shared` is consumed
    * before `cp` is cut.
    */
  def releaseWith(cp: DataFrame, shared: Broadcast[_]*): Unit = {
    val rdd = cp.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(throw new IllegalArgumentException("releaseWith needs a checkpointed frame"))
    synchronized(releasers.getOrElseUpdate(rdd.sparkContext, new Releaser(rdd.sparkContext)))
      .add(rdd, shared)
  }

  /** One context's broadcasts waiting for their checkpoints, swept when
    * one is added and at every job end (on the listener thread).
    */
  private final class Releaser(sc: SparkContext) extends SparkListener {
    private val waiting = mutable.ArrayBuffer.empty[(WeakReference[RDD[_]], Seq[Broadcast[_]])]
    sc.addSparkListener(this)

    def add(rdd: RDD[_], shared: Seq[Broadcast[_]]): Unit =
      synchronized { waiting += ((WeakReference(rdd), shared)); sweep() }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = sweep()

    private def sweep(): Unit = synchronized {
      val done = waiting.filter(_._1.get.forall(_.isCheckpointed))
      waiting --= done
      done.foreach(e => release(e._2: _*))
    }
  }

  /** A narrow pass's rows as a frame: a scan of `rows`. */
  def frame(spark: ApiSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rows, schema)

  /** A driver-built frame over `rows`, planned as a LocalRelation so a
    * broadcast join takes it without a collect job.
    */
  def local(spark: ApiSession, schema: StructType, rows: Iterator[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows.toVector))
}
