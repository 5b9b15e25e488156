package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, NnDescent, Quota, Similarity, Sketches, TextAnalysis}

/** Shared helpers for the registry pillars: readers, partition-spread
  * shims, the flagship match pipeline, and every constant / CTE-SQL
  * builder shared between a Spark query and its generated oracle SQL.
  * Split from SparkEntry.scala (round 8) unchanged except visibility
  * (private -> protected for cross-pillar access).
  */
trait RegistryBase {

  protected def rd(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is normalized to the engine-wide long-NANOS convention at
    // this boundary (the driver's files moved from INT64 TIMESTAMP(NANOS)
    // to TIMESTAMP(MICROS); see EventStream.readEvents) — downstream
    // operators and the epoch_us-parity oracles are unchanged.
    if (name == "events") graft.streaming.EventStream.readEvents(s, s"$dir/$name.parquet")
    else {
      // defensive: nanos-era parquet is unreadable without nanosAsLong
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** The testdata's small tables arrive as one parquet file = one input
    * partition; hash-heavy per-row work (md5 shingles, simhash) would run
    * single-core locally. Spread to the session's parallelism ONLY when
    * the scan is under-partitioned — on a real cluster the inputs are
    * many files and no shuffle is injected (an unconditional repartition
    * would re-shuffle 100 TB for nothing).
    */
  protected def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // file count (already cached in the relation's FileIndex — no job, no
    // RDD lineage materialization) stands in for the scan's partition
    // count: the shim only needs to catch the one-file local-testdata
    // case. Non-file sources report no files and are left alone.
    // When the spread fires, BARRIER it: under AQE, a downstream lazy
    // localCheckpoint over the exchange-bearing plan eagerly runs its
    // heavy projection (md5/xxhash shingling) in a single task at
    // checkpoint-CREATION time — measured 4-7 s per query at sf0.1
    // against 0.1 s + a parallel first action off the barrier. On a
    // real cluster the branch never fires (many files), so no cache and
    // no shuffle are injected there.
    val nFiles = df.inputFiles.length
    if (nFiles > 0 && nFiles < target) df.repartition(target).localCheckpoint(false)
    else df
  }

  /** spread() for foreachBatch micro-batches: a micro-batch DataFrame
    * reports NO inputFiles (measured: inputFiles=0, 1 partition for a
    * one-file trigger), so the file-count shim above leaves it alone and
    * per-row hash work runs single-core. A micro-batch is bounded (one
    * trigger's worth) and its physical plan is already built inside the
    * handler, so reading rdd.getNumPartitions here is driver-only
    * planning — no job, and no 100 TB re-shuffle risk (the repartition
    * only fires when the batch genuinely arrived under-partitioned).
    */
  protected def spreadBatch(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // NOT barriered like spread(): the spread() single-task-checkpoint
    // pathology scales with the frame being shingled, and micro-batches
    // are small by construction — barriering here was measured at
    // sf0.1 (10-gate slice net zero) and h10 (q191 13.2 -> 15.2 s: the
    // extra per-batch materialization costs more than it saves)
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's whole pipeline (fuzzy match of dirty part names
    * against the distinct name catalog).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val parts = rd(spark, dir, "part")
    val queries = parts
      .select(col("p_partkey").as("id"), lower(col("p_name")).as("term"))
      .filter(col("id") < 40)
    // ref ids: natural key (min partkey per distinct name) — deterministic
    // and distributed (one hash shuffle), vs a no-partition window that
    // would drag the whole table onto a single executor at scale.
    // Downstream tie-breaks need only a deterministic total id order,
    // not term-sorted contiguity.
    val refs = parts
      .groupBy(col("p_name").as("term"))
      .agg(min(col("p_partkey")).cast("long").as("id"))
    HeurFuzz.matchTable(queries, refs, HeurFuzz.Params(topK = 5, scoreCutoff = 80))
  }

  // ---- shared fragments -------------------------------------------------

  /** Pair table for the coverage/top-k operators: dirty part names
    * (partkey < 30) against the 30..229 slice, with bigram coverage and
    * length difference (SURVEY §2 ops 4-6).
    */
  protected def partPairs(s: SparkSession, dir: String): DataFrame = {
    val p = rd(s, dir, "part")
      .select(
        col("p_partkey"),
        col("p_name"),
        TextFunctions.charShingles(col("p_name"), 2).as("bg"),
        octet_length(col("p_name")).cast("long").as("len")
      )
    val q = p.filter(col("p_partkey") < 30)
      .select(col("p_partkey").as("q_id"), col("p_name").as("q_name"), col("bg").as("qb"), col("len").as("q_len"))
    val r = p.filter(col("p_partkey") >= 30 && col("p_partkey") < 230)
      .select(col("p_partkey").as("r_id"), col("p_name").as("r_name"), col("bg").as("rb"), col("len").as("r_len"))
    r.crossJoin(broadcast(q))
      .withColumn("coverage", TextFunctions.bigramCoverage(col("qb"), col("rb")))
      .withColumn("len_diff", abs(col("q_len") - col("r_len")).cast("double"))
  }

  protected val partPairsSql =
    """WITH p AS (
      |  SELECT p_partkey, p_name,
      |         list_transform(range(1, strlen(p_name)), i -> substr(p_name, i::INT, 2)) AS bg,
      |         strlen(p_name) AS len
      |  FROM part),
      |q AS (SELECT p_partkey AS q_id, p_name AS q_name, bg AS qb, len AS q_len FROM p WHERE p_partkey < 30),
      |r AS (SELECT p_partkey AS r_id, p_name AS r_name, bg AS rb, len AS r_len FROM p WHERE p_partkey >= 30 AND p_partkey < 230),
      |pairs AS (
      |  SELECT q_id, r_id,
      |         CASE WHEN len(qb) = 0 THEN 0.0
      |              ELSE len(list_filter(qb, g -> list_contains(rb, g)))::DOUBLE / len(qb) END AS coverage,
      |         abs(q_len - r_len)::DOUBLE AS len_diff
      |  FROM q CROSS JOIN r)
      |""".stripMargin

  protected val docShinglesSql = (n: Int) =>
    s"list_distinct(list_transform(range(1, greatest(strlen(lower(text)) - ${n - 2}, 1)), i -> substr(lower(text), i::INT, $n)))"

  protected val tokensSql =
    "string_split_regex(trim(text), '\\s+')"
  protected val tokensLowerSql =
    "string_split_regex(trim(lower(text)), '\\s+')"

  /** Shared WITH-prefix for the product-quantization oracles (q109/q110):
    * quantized vectors, their 8 per-subspace slices, and the TRAINED
    * codebook — one independent k-means per subspace (grp = sub_id),
    * seeded from the vec_id < 8 slices, mirroring the Spark side's
    * trainPqCodebooks. DuckDB list slicing is 1-based and end-inclusive.
    */
  protected lazy val pqDistsSql =
    s"""WITH v AS (SELECT vec_id,
      |            list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv
      |          FROM embeddings),
      |subs AS (SELECT vec_id, r.range AS sub_id,
      |                qv[(r.range * 8 + 1)::INT:(r.range * 8 + 8)::INT] AS sv
      |         FROM v, range(0, 8) r),
      |kp AS (SELECT greatest(1, count(*) // 320) AS m FROM embeddings),
      |ksub AS (SELECT sub_id, vec_id, sv AS qv FROM subs),
      |ktv AS (SELECT ksub.* FROM ksub, kp WHERE vec_id % kp.m = 0),
      |kinit AS (SELECT sub_id, vec_id AS centroid_id, qv AS cv FROM ktv, kp WHERE vec_id < 8 * kp.m),
      |${lloydCtesSql("ktv", "kinit", 8, KmeansIters, Seq("sub_id"), "kcents")},
      |cents AS (SELECT centroid_id AS code, sub_id, cv FROM kcents)""".stripMargin

  /** Integer squared-L2 between a subs-row slice `s.sv` and a cents-row
    * slice `c.cv` (exact; matches Similarity.sqDistQ).
    */
  protected val pqSqDistSql =
    "CAST(list_sum(list_transform(range(1, 9), " +
      "i -> (s.sv[i::INT] - c.cv[i::INT]) * (s.sv[i::INT] - c.cv[i::INT]))) AS BIGINT)"

  /** Links `<dir>/<table>.parquet` into `<stage>/in`, `copies` times, and
    * returns that directory: a file-stream source monitors a directory,
    * and each link is one file (one micro-batch under maxFilesPerTrigger 1).
    */
  protected def linkInput(stage: Path, dir: String, table: String, copies: Int = 1): String = {
    val in = Files.createDirectories(stage.resolve("in"))
    val src = Paths.get(s"$dir/$table.parquet").toAbsolutePath.normalize()
    for (i <- 1 to copies) Files.createSymbolicLink(in.resolve(s"$table-$i.parquet"), src)
    in.toString
  }

  /** Shared streaming-gate harness: stage the events parquet into a
    * fresh directory, run the caller's stream into a memory sink, fail
    * LOUDLY on timeout (a partial sink would be a nondeterministic wrong
    * answer, not an error), return the sink table. The stage and the
    * checkpoint are discarded on EVERY exit path (timeout, stream failure,
    * analysis error): a failed gate must not leak scratch dirs or a
    * half-filled sink until JVM shutdown.
    */
  protected def runStreamGate(
      s: SparkSession,
      dir: String,
      sinkTable: String,
      outputMode: String
  )(mkStream: String => DataFrame): DataFrame = {
    val stage = Staging.dir(sinkTable.takeWhile(_ != '_') + "-")
    // state-store deltas/snapshots + offset log on the fast scratch root
    // (see Staging.fastDir): state COMMIT latency to disk-backed /tmp,
    // not compute, dominated the stateful gates' wall-clock
    val ckpt = Staging.fastDir("ckpt-")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    try {
      // State partitions are baked into the checkpoint at query start and
      // every (partition x store) instance pays a fixed commit/coordinator
      // cost per micro-batch (~0.4 s measured, independent of rows) — so
      // size them to STATE VOLUME, not the session's batch-shuffle width.
      // Gate state is watermark-bounded to ~10^4-10^5 rows; 8 partitions
      // keeps per-partition state far under memory while cutting the
      // fixed per-instance overhead 4x (q95: 128 -> 32 instances). At
      // production volume this knob is a deliberate per-stream sizing
      // decision, not the batch default.
      s.conf.set("spark.sql.shuffle.partitions",
        math.min(8, prevShuffle.toInt).toString)
      if (s.catalog.tableExists(sinkTable)) s.catalog.dropTempView(sinkTable)
      val q = mkStream(linkInput(stage, dir, "events"))
        .writeStream
        .format("memory")
        .queryName(sinkTable)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
      awaitGate(sinkTable, q)
      s.table(sinkTable)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      Staging.discard(stage)
      Staging.discard(ckpt)
    }
  }

  /** A foreachBatch gate once its setup has run: the stream, the frame
    * each micro-batch writes (given the batch and its id), and the answer
    * over the rows every batch wrote.
    */
  protected case class BatchGate(
      stream: DataFrame,
      batch: (DataFrame, Long) => DataFrame,
      finish: DataFrame => DataFrame)

  /** The sink [[foreachBatchGate]] writes under a gate's stage: batch
    * `id` lands in `<sink>/batch=<id>`.
    */
  protected def gateSink(stage: Path): String = stage.resolve("out").toString

  /** The foreachBatch bridge: runs a BATCH operator over every
    * micro-batch of a stream, so no operator needs a streaming rewrite.
    *
    * `setup` gets a fresh stage directory. It stages the gate's input
    * there and builds the gate's static side before returning; that side
    * must be built eagerly (`localCheckpoint(true)`), or its build lands
    * inside batch 0's addBatch (StreamBatch0Spec audits this).
    *
    * Batch `id` is written to `<sink>/batch=<id>` with mode overwrite.
    * foreachBatch is at-least-once: a batch that fails after its write
    * but before its offset commit is replayed on restart with the same id
    * and the same input, so it replaces its own output instead of
    * appending a duplicate. [[GateReplay]] exercises this.
    *
    * After the drain the sink is read back without its `batch` partition
    * column (an idempotency key, not part of the answer), handed to
    * `finish`, and the answer is checkpointed eagerly: it must be
    * materialised off the sink files before the stage and the checkpoint
    * are deleted, which happens on every exit path.
    */
  protected def foreachBatchGate(s: SparkSession, name: String)(
      setup: Path => BatchGate): DataFrame = {
    val stage = Staging.dir(s"$name-")
    val ckpt = Staging.fastDir("ckpt-")
    try {
      val gate = setup(stage)
      val sink = gateSink(stage)
      def run(): Unit = awaitGate(name, gate.stream.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          gate.batch(batch, id).write.mode("overwrite").parquet(s"$sink/batch=$id")
          GateReplay.afterSink(name, id)
        }
        .start())
      try run()
      catch { case _: StreamingQueryException if GateReplay.restart() => run() }
      gate.finish(s.read.parquet(sink).drop("batch")).localCheckpoint(true)
    } finally {
      Staging.discard(stage)
      Staging.discard(ckpt)
    }
  }

  /** Drain a streaming gate: await AvailableNow completion (bounded),
    * record its StreamingQueryProgress rollup for the bench JSON, and
    * stop it on every exit path.
    */
  protected def awaitGate(name: String, q: StreamingQuery): Unit = {
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(s"$name stream did not finish within 300s")
    } finally {
      graft.streaming.StreamMetrics.record(name, q)
      if (q.isActive) q.stop()
    }
  }

  /** Deterministic bounded training sample for every FIXED-k (k = 8)
    * trained-quantizer surface (q35/q43/q109/q110/q123/q124): 1-in-m
    * rows with m = max(1, N div 320) — ~40 training points per
    * centroid/codeword (the FAISS sizing guideline), so Lloyd cost is
    * O(1) in corpus size while assignment still covers everything.
    * m = 1 at the oracle scales. Returns (sample, initIds); seeds are
    * the first 8 SAMPLED ids (vec_id < 8m ∧ vec_id % m = 0), which
    * degrades to vec_id < 8 when m = 1.
    */
  protected def trainSample8(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    val kRow = e.agg(count(lit(1)).as("n"))
      .select(greatest(lit(1L), expr("n div 320")).as("m"))
    val sample = spread(s, e).crossJoin(broadcast(kRow))
      .filter(col("vec_id") % col("m") === 0)
    val initIds = sample.filter(col("vec_id") < lit(8L) * col("m")).select("vec_id")
    (sample.select("vec_id", "embedding"), initIds)
  }

  /** The oracle twin of trainSample8: kp(m), tv = sampled v rows, kinit =
    * first 8 sampled seeds. `vCte` must expose (vec_id, qv).
    */
  protected def trainSampleCtesSql(vCte: String): String =
    s"""kp AS (SELECT greatest(1, count(*) // 320) AS m FROM embeddings),
       |tv AS (SELECT $vCte.* FROM $vCte, kp WHERE vec_id % kp.m = 0),
       |kinit AS (SELECT vec_id AS centroid_id, qv AS cv FROM tv, kp WHERE vec_id < 8 * kp.m)""".stripMargin

  /** The corpus-scaled coarse quantizer: k = ceil(sqrt(N)) centroids,
    * TRAINED (Lloyd's) on a deterministic 1-in-m sample with m =
    * max(1, N div 40k): ~40 training points per centroid (the FAISS
    * sizing guideline), so training stays O(sqrt(N) * k) = O(N) per
    * iteration at any corpus size — nobody Lloyd-scans 100 TB per
    * iteration; sampling the trainer is what SemDeDup/IVF deployments
    * do. m = 1 at the oracle scales (sample = corpus). Persisted once
    * per corpus; shared by the q46/q117 clustering family AND (since
    * round 12) the q43/q131/q194 IVF serving family.
    */
  protected def sqrtCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "embeddings")
    val kRow = e.agg(count(lit(1)).as("n"))
      .select(ceil(sqrt(col("n"))).cast("long").as("k"), col("n"))
      .withColumn("m", greatest(lit(1L), expr("n div (40 * k)")))
    val sample = spread(s, e).crossJoin(broadcast(kRow)).filter(col("vec_id") % col("m") === 0)
    val initIds = sample.filter(col("vec_id") < col("k") * col("m")).select("vec_id")
    trainedArtifact(s, dir, "centSqrt") {
      Similarity.trainCentroids(
        sample.select("vec_id", "embedding"), "vec_id", "embedding", initIds, KmeansIters)
    }
  }

  /** The persisted IVF index over sqrtCentroids — Similarity.ivfIndex
    * with the label stored for filtered probes: (r_id, centroid_id, lbl,
    * dv, nrm) for every corpus vector. Built once per corpus, persisted
    * like the q126/q132 signature table, and probed through
    * ivfTopKOnIndex with no corpus-side join per query/batch; at 100 TB
    * this table is partitioned by centroid_id and a probe reads just its
    * partitions. q43/q131/q179/q194/q205 share it.
    */
  protected def ivfSqrtIndex(s: SparkSession, dir: String): DataFrame = {
    // hoisted OUTSIDE the train thunk: trainedArtifact's mapping function
    // must not re-enter the artifact map (CHM recursive-update contract)
    val cents = sqrtCentroids(s, dir)
    trainedArtifact(s, dir, "ivfSqrtIndex",
        layout = _.repartition(col("centroid_id"))) {
      Similarity.ivfIndex(spread(s, rd(s, dir, "embeddings")), cents,
        "vec_id", "embedding", labelCol = Some("label"))
    }
  }

  /** Corpus-scaled embedding clustering shared by q46/q117/q122: the
    * unlabelled ivfIndex over sqrtCentroids as the assignment frame
    * (vec_id, centroid_id, dv, nrm) — lazily checkpointed, since it
    * feeds both pair sides plus the flag/group joins, and the quantized
    * assignment argmax must not re-run per reference — and the
    * within-cluster cosine pairs (id_a < id_b) at >= SemDedupTau.
    * k = ceil(sqrt(N)) keeps within-bucket pair work O(N^1.5).
    */
  protected def embClusterPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val withB = Similarity.ivfIndex(spread(s, rd(s, dir, "embeddings")),
        sqrtCentroids(s, dir), "vec_id", "embedding")
      .withColumnRenamed("r_id", "vec_id")
      .localCheckpoint(false)
    val pairs = withB
      .select(col("centroid_id"), col("vec_id").as("id_a"), col("dv").as("dv_a"), col("nrm").as("nrm_a"))
      .join(withB.select(col("centroid_id"), col("vec_id").as("id_b"), col("dv").as("dv_b"), col("nrm").as("nrm_b")),
        Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", Similarity.dot(col("dv_a"), col("dv_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos_sim") >= SemDedupTau)
    (withB, pairs)
  }

  /** Fuzzy-match workload at testdata scale: queries = the distinct part
    * names (small side, broadcast), refs = 40-char document prefixes (the
    * large side, streamed). Exercises the full reference pipeline on the
    * biggest text table the harness ships.
    */
  protected def matchDocs(s: SparkSession, dir: String): DataFrame = {
    // query ids: natural key (min partkey per distinct lowered name) — no
    // single-partition global window; see `entry`
    val queries = rd(s, dir, "part")
      .groupBy(lower(col("p_name")).as("term"))
      .agg(min(col("p_partkey")).cast("long").as("id"))
    // spread the ref side (round 17): the one-file documents scan put the
    // whole BroadcastNestedLoopJoin stream side — ~10M pair coverage
    // computations — in a single task (profile sweep: q50 wall 3.8 s at
    // 0.9x parallelism); on a many-file cluster scan the shim is a no-op
    val refs = spread(s, rd(s, dir, "documents"))
      .select(col("doc_id").as("id"), substring(col("text"), 1, 40).as("term"))
    HeurFuzz.matchTable(queries, refs,
        HeurFuzz.Params(topK = 10, scoreCutoff = 70))
      .orderBy("q_id")
  }

  // ---- the registry -----------------------------------------------------


  /** Boilerplate-removal document-frequency threshold (percent of corpus;
    * shared between the q74 Spark query and its generated oracle SQL).
    */
  protected val BoilerplateDfPct = 78L

  /** Span length (chars) for the q108 repeated-span dedup signal (shared
    * with its generated oracle SQL).
    */
  protected val DupSpanN = 12

  /** Span length for q113's decontamination stage — long enough that
    * "contaminated" means a verbatim 20-char leak, not this corpus's
    * pervasive short-phrase reuse (shared with the oracle SQL).
    */
  protected val DecontamSpanN = 20

  /** Lloyd iteration count for every trained-centroid/codebook surface
    * (q35/q43/q46/q109/q110/q117/q122/q123; shared with the generated
    * oracle CTE chain). 3 steps from a deterministic seed is where this
    * corpus's assignments stop moving; more iterations only lengthen the
    * oracle SQL.
    */
  protected val KmeansIters = 3

  /** Corpus-frequency cutoff under which a token counts as rare (q111;
    * shared with its generated oracle SQL).
    */
  protected val RareMaxFreq = 2L

  /** Temperature-mixing quota multiplier: per-source quota =
    * min(n, floor(sqrt(n) * this)) (q112; shared with its oracle SQL).
    */
  protected val MixSqrtScale = 4L

  /** Stop-fingerprint document-frequency cap and minimum shared-
    * fingerprint count for the q116 winnowing near-dup join (shared with
    * its oracle SQL).
    */
  protected val WinnowMaxDf = 16L
  protected val WinnowMinShared = 8L

  /** Per-language token budget for the q92 data-mixing sample (shared
    * between the Spark query and its generated oracle SQL).
    */
  protected val TokenBudgetPerLang = 2500L

  /** Training-sequence length for q128's packing layout (shared with its
    * oracle SQL).
    */
  protected val PackSeqLen = 512L

  /** BPE merge steps for q127 (each step is one generated oracle CTE
    * round, so the SQL unrolls this many times).
    */
  protected val BpeSteps = 3

  /** Candidate training-sequence lengths for the q189 packing-efficiency
    * sweep (shared with its oracle SQL). PackSeqLen is one of them so the
    * sweep's 512 row reconciles with q128's layout.
    */
  protected val PackSweepLens = Seq(128L, 256L, 512L, 1024L)

  /** Coarse histogram width over the q184 rarity score for the q187
    * retention curve (shared with its oracle SQL): buckets the per-doc
    * score so the curve has one row per (source, score tier), never one
    * per doc.
    */
  protected val RetentionBucketW = 500L

  /** Neighbors kept per node in the q186 kNN-graph build (shared with
    * its oracle SQL).
    */
  protected val KnnGraphK = 3L

  /** q186-family NN-Descent configuration: the internal neighbor-list
    * width the refinement rounds rank against (cut to KnnGraphK only at
    * the end — NN-Descent needs a denser working graph than the output
    * graph to propagate: at k = 3 the recurrence stalls at recall ~0.06,
    * at 20 it converges past 0.9 at sample scale). Per-round work is
    * <= N*cap^2 scored pairs — linear in N; BOTH the width and the
    * round count needed grow ~log N on structure-less data, so the
    * PRODUCTION config is DERIVED from the corpus size (NnDescent.autoK
    * / autoIters / autoCap — the registry builds pass k = 0 / iters = 0
    * / cap = 0 and the generated oracles unroll the same formulas from
    * nndOracleN; round-14 verdict item 1 + the round-15 calibration:
    * the previously FIXED k = 20 x 3 rounds measured recall@3 0.246 vs
    * exact at 50k near-uniform vectors — and no round count fixes a
    * fixed width: k = 20 plateaus at ~0.60 by round 8 while the derived
    * k = 40 x 5 rounds reads 0.950). NndK/NndIters are the AUDIT config
    * only: q196 certifies the recurrence per-round on a size-capped
    * sample, where the fixed (20, 3) is the audited regime (round-12
    * audit: 0.9987 at round 3, hit count identical to round 4).
    */
  protected val NndK = 20
  protected val NndIters = 3

  /** Corpus vector count the GENERATED NND oracle SQL is sized from:
    * the oracle unrolls exactly autoIters(N) recurrence rounds — the
    * same count the Spark builds derive at runtime from their own
    * materialized count — so both engines walk the same recurrence at
    * every scale instead of a fixed unroll that silently diverges from
    * the auto-sized build. Verify primes it from the run's sfDir before
    * queries run; accessing an NND oracle unprimed FAILS LOUDLY rather
    * than defaulting (a silent fallback to a fixed count is exactly the
    * bug class this replaces).
    */
  @volatile private var oracleNndNVar: Long = -1L
  protected def nndOracleN: Long = {
    val n = oracleNndNVar
    require(n > 0,
      "NND oracle SQL needs the corpus scale: call primeOracleScale(spark, sfDir) first")
    n
  }
  def primeOracleScale(s: SparkSession, dir: String): Unit = {
    oracleNndNVar = rd(s, dir, "embeddings").count()
  }

  /** Dong et al.'s reverse-neighbor ρ-sampling: per-round undirected
    * adjacency cap (cap = ρ·2k; ρ = 1 is the uncapped-in-expectation
    * 2k). Per-round candidate volume is <= N*cap^2, so ρ cuts the
    * round's dominant join QUADRATICALLY while convergence degrades
    * only gradually — the audit-measured trade at the shipped ρ is in
    * q196's nnd_iter_* rows (recall per round vs candidate volume:
    * 0.988 at ρ = 0.7 vs 0.987 at ρ = 1 by round 3; ρ = 0.5 has not
    * converged by round 3 and was rejected), and the h10 graph-build
    * wall-clock is in SCALE.md. NndCap derives from ρ so retuning NndK
    * preserves the audited trade; it is shared with the oracle SQL's
    * rk cut so both engines walk the same recurrence.
    */
  protected val NndRho = 0.7
  protected val NndCap: Int = math.max(1, math.round(NndRho * 2 * NndK).toInt)

  // Incremental rounds per graph upsert (q203/q204) are DERIVED from the
  // merged corpus size exactly like the build's (upsertGraph rounds = 0
  // → autoIters; the oracle unrolls the same count from nndOracleN):
  // round-14's h10 probe measured the fixed 2 rounds at new-node recall
  // 0.073 vs exact while 4 rounds reached the 4-round rebuild's quality
  // at a quarter of its wall — fixed counts underscale the upsert the
  // same way they underscale the build.

  /** The id tail that plays the "arriving batch" role for the graph
    * upsert family: the top 1/IncrementalMod of the dense vec_id space
    * (ids are assigned at ingest, so arrivals ARE the id tail — and the
    * base prefix stays dense, which keeps the base build's init draw on
    * the same recurrence as the full build). Returns a 1-row
    * (n, nbase) frame to ride broadcast cross joins — the split never
    * touches the driver.
    */
  protected def graphUpsertSplit(e: DataFrame): DataFrame =
    e.agg(count(lit(1)).as("n"))
      .select(col("n"), (col("n") - expr(s"n div $IncrementalMod")).as("nbase"))

  /** The persisted BASE-corpus NN-Descent graph the upsert family
    * maintains (vec_id < nbase; the merged-corpus artifact is
    * "nndGraph"). Same build, same layout — one graph build for both
    * upsert gates.
    */
  protected def nndGraphBase(s: SparkSession, dir: String): DataFrame =
    trainedArtifact(s, dir, "nndGraphBase", layout = _.repartition(col("src"))) {
      val e = rd(s, dir, "embeddings")
      val base = e.crossJoin(broadcast(graphUpsertSplit(e)))
        .filter(col("vec_id") < col("nbase"))
        .select("vec_id", "embedding")
      NnDescent.knnGraph(base, "vec_id", "embedding",
        k = 0, iters = 0, cap = 0)
    }

  /** q203/q204's shared upsert step: insert `arrivals` (vec_id,
    * embedding, ...) into the persisted base graph and cut the merged
    * edge list at the serving width. The caller materializes
    * nndGraphBase BEFORE any stream starts (the StreamBatch0 rule).
    */
  protected def upsertIntoBaseGraph(
      s: SparkSession, dir: String, arrivals: DataFrame): DataFrame = {
    val e = rd(s, dir, "embeddings")
    val base = e.crossJoin(broadcast(graphUpsertSplit(e)))
      .filter(col("vec_id") < col("nbase"))
      .select("vec_id", "embedding")
    val merged = base.unionByName(arrivals.select("vec_id", "embedding"))
    NnDescent.upsertGraph(nndGraphBase(s, dir), merged,
        arrivals.select("vec_id", "embedding"), "vec_id", "embedding",
        k = 0, rounds = 0, cap = 0)
      .filter(col("rank") <= KnnGraphK)
  }

  /** q195 contrastive export: negatives kept per (anchor, positive) pair
    * and the (slack-padded) deterministic draw count they are selected
    * from — draws lost to the anchor/positive/neighborhood exclusions
    * are skipped, so M > k makes under-returning vanishingly rare while
    * both engines stay deterministic either way.
    */
  protected val NumNegatives = 4L
  protected val NegDrawsM = 8L

  /** q197 hard negatives kept per anchor: the band-collision candidates
    * ranked just below the top-K cut (ranks K+1..K+HardNegM) — "near
    * misses", the standard hard-negative mining band. Anchors whose
    * candidate list is exhausted under-return (deterministically, on
    * both engines).
    */
  protected val HardNegM = 2L

  /** q196's audited SRP band layouts: (config label, bands, key bits).
    * Band b of config (nb, w) keys on planes [b*w, (b+1)*w) of
    * SrpPlanes64 — the first 16 planes are the legacy 16-bit signature,
    * so the 1x16/2x8/4x4 rows reproduce the pre-round-12 audit keys
    * bit-for-bit; 8x8 (64 planes) is the widened-signature config the
    * round-11 verdict asked to evaluate. The audit ranks all of them
    * against the NN-Descent rounds that replaced banding as the shipped
    * q186-family generator. Single source of truth for Spark + SQL.
    */
  protected lazy val SrpBandConfigs: Seq[(String, Int, Int)] = Seq(
    ("srp_1x16", 1, 16), ("srp_2x8", 2, 8), ("srp_4x4", 4, 4), ("srp_8x8", 8, 8))

  /** SemDeDup within-cluster cosine threshold (q117; same value as the
    * q46 near-dup cutoff so the two embedding-dedup surfaces agree).
    */
  protected val SemDedupTau = 0.3

  /** Incoming-batch selector for the q118 incremental dedup: docs with
    * doc_id % this == this-1 play the "new crawl snapshot" role.
    */
  protected val IncrementalMod = 5L

  /** Benchmark-slice selector for the contamination queries (q113/q119):
    * docs with doc_id % this == 0 play the held-out benchmark role.
    */
  protected val ContamBenchMod = 50L

  /** q149's ordered-funnel oracle — shared verbatim with the streaming
    * q155 gate (the per-batch digest merge provably equals the batch
    * funnel for any micro-batch split, so both run against the same SQL).
    */
  protected lazy val funnelOracle: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
      |       WHERE event_type = 'view' AND ts > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1::BIGINT AS stage, 'signup' AS event_type,
      |         (SELECT count(*) FROM s1)::BIGINT AS n_users
      |  UNION ALL SELECT 2::BIGINT, 'view', (SELECT count(*) FROM s2)::BIGINT
      |  UNION ALL SELECT 3::BIGINT, 'purchase', (SELECT count(*) FROM s3)::BIGINT)
      |ORDER BY stage""".stripMargin

  /** q169's incremental image-screen oracle (incoming x corpus all-pairs
    * exact hamming over the 24-bit pseudo-dhash) — shared verbatim with
    * the streaming q171 gate: per-doc answers depend only on the doc and
    * the static corpus, so the foreachBatch bridge cannot change them.
    */
  protected lazy val imageScreenOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT AS dh FROM documents),
       |inc AS (SELECT * FROM d WHERE doc_id % $IncrementalMod = ${IncrementalMod - 1}),
       |corp AS (SELECT * FROM d WHERE doc_id % $IncrementalMod <> ${IncrementalMod - 1}),
       |hits AS (
       |  SELECT i.doc_id, count(*)::BIGINT AS n_dup
       |  FROM inc i JOIN corp c ON bit_count(xor(i.dh, c.dh)) <= 3
       |  GROUP BY i.doc_id)
       |SELECT i.doc_id, coalesce(h.n_dup, 0)::BIGINT AS n_dup,
       |       coalesce(h.n_dup, 0) = 0 AS kept
       |FROM inc i LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Shared oracle for the incremental containment screen (q175) and its
    * streaming gate (q176): incoming x corpus all-pairs exact shingle
    * containment — the set the one-sided prefix filter provably equals.
    * The threshold compare is the same IEEE division both engines run
    * (never ceil(t*n): 0.7*20 rounds ABOVE 14 in binary, and an integer
    * ceil would disagree with inter/nsh >= t exactly at the boundary).
    */
  protected lazy val containScreenOracle: String =
    s"""WITH d AS (SELECT doc_id, ${docShinglesSql(6)} AS sh FROM documents),
       |inc AS (SELECT doc_id, sh FROM d WHERE doc_id % $IncrementalMod = ${IncrementalMod - 1}),
       |cor AS (SELECT doc_id, sh FROM d
       |        WHERE doc_id % $IncrementalMod <> ${IncrementalMod - 1} AND len(sh) > 0),
       |hits AS (
       |  SELECT i.doc_id, count(*)::BIGINT AS n
       |  FROM inc i JOIN cor b
       |    ON len(i.sh) > 0
       |   AND len(list_intersect(i.sh, b.sh))::DOUBLE / len(i.sh) >= 0.7
       |  GROUP BY i.doc_id)
       |SELECT i.doc_id, coalesce(h.n, 0)::BIGINT AS n_containers,
       |       coalesce(h.n, 0) = 0 AS kept
       |FROM inc i LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Conversion window for the windowed funnel (q157/q158): 1 day in
    * nanos. The sf events span ~30 days with a median signup->view lag
    * of ~1.8 days, so the window genuinely bins out ~half the stage-2
    * conversions (a window wider than the span would make the windowed
    * funnel indistinguishable from q149).
    */
  protected val FunnelWindowNanos = 86400000000000L

  /** q163's allowed lateness W (1 day, in nanos): state candidates older
    * than (running max ts - W) are pruned each micro-batch. Any W >= the
    * actual cross-batch lateness gives the exact funnel; the staged
    * time-range replay has lateness 0, so W here only sets how much
    * state the bound retains (the corpus spans ~30 days — a 1-day
    * horizon prunes hard).
    */
  protected val FunnelLatenessNanos = 86400000000000L

  /** q181/q182's bin-quantile sketch configuration: $10 bins over event
    * value cents (values <= ~$500 → ~50 bins per event type, so the
    * whole sketch is a few hundred rows at ANY corpus size) and the
    * audited percentiles.
    */
  protected val QSketchWidthCents = 1000L
  protected val QSketchPcts = Seq(50L, 90L, 99L)

  /** q183's bottom-k containment-screen audit: sample sizes swept and
    * the screen's pass fraction (deliberately below q173's 0.7 exact
    * threshold — the recall/precision trade the audit row measures).
    */
  protected val ContainSketchKs = Seq(8, 16, 32, 64)
  protected val ContainScreenFrac = 0.5

  /** q183's audit-scale bound (the q196 convention, commit d33e09f):
    * the audit — including its exact containmentPairs truth pass — runs
    * on a 1-in-m doc_id spread with m = max(1, N div this), so the
    * exact join's cost is capped at ~this² pair-candidates regardless
    * of corpus size. m = 1 at the oracle scales (sf <= 0.01).
    */
  protected val ContainAuditSampleTarget = 1000L

  /** q190's serving bottom-k screen: sample size (q183's audited best
    * recall/precision point) and the shingle-df stop cut above which a
    * sampled hash stops probing the posting list (it still counts as
    * candidate evidence). Join cost per incoming doc <= k·cap rows.
    */
  protected val ContainScreenK = 32
  protected val ContainDfCap = 128L

  /** Shared oracle for the bin-quantile sketch (batch q181 and the
    * streaming q182 gate, whose sum-merged sketch is provably identical
    * to the batch sketch): estimate read-off per (event_type, pct) plus
    * the exact-quantile audit, everything BIGINT until the final output.
    */
  protected lazy val binQuantOracle: String = {
    val wd = QSketchWidthCents
    s"""WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
       |b AS (SELECT event_type, cents // $wd AS bin, count(*) AS cnt FROM e GROUP BY 1, 2),
       |cb AS (SELECT event_type, bin,
       |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum FROM b),
       |nn AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1),
       |t AS (SELECT event_type, n, pct, $QuantTargetSql AS target
       |      FROM (SELECT unnest([${QSketchPcts.mkString(", ")}]::BIGINT[]) AS pct), nn),
       |est AS (SELECT t.event_type, t.pct, t.target, min(cb.bin) AS bin
       |        FROM t JOIN cb ON cb.event_type = t.event_type AND cb.cum >= t.target
       |        GROUP BY 1, 2, 3),
       |vh AS (SELECT event_type, cents, count(*) AS cnt FROM e GROUP BY 1, 2),
       |cv AS (SELECT event_type, cents,
       |         sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum FROM vh),
       |ex AS (SELECT t.event_type, t.pct, min(cv.cents) AS exact_cents
       |       FROM t JOIN cv ON cv.event_type = t.event_type AND cv.cum >= t.target
       |       GROUP BY 1, 2)
       |SELECT est.event_type, est.pct, est.target,
       |       est.bin * $wd AS est_lo_cents, est.bin * $wd + ${wd - 1} AS est_hi_cents,
       |       ex.exact_cents, ex.exact_cents - est.bin * $wd AS err_cents
       |FROM est JOIN ex ON ex.event_type = est.event_type AND ex.pct = est.pct
       |ORDER BY est.event_type, est.pct""".stripMargin
  }

  /** Shared oracle for the bottom-k df-capped containment screen (batch
    * q190 and the streaming q191 gate — per-doc answers depend only on
    * the doc and the static corpus, so the foreachBatch bridge provably
    * cannot change them): q183's md5 bottom-k sample + the df stop cut,
    * serving form.
    */
  protected lazy val bottomKScreenOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |         list_sort(list_distinct(list_transform(${docShinglesSql(6)},
       |           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS hs
       |       FROM documents),
       |di AS (SELECT doc_id, hs FROM d WHERE doc_id % $IncrementalMod = ${IncrementalMod - 1}),
       |post AS (SELECT doc_id AS c_id, unnest(hs) AS h FROM d
       |         WHERE doc_id % $IncrementalMod <> ${IncrementalMod - 1} AND len(hs) > 0),
       |freq AS (SELECT h, count(*) AS df FROM post GROUP BY h),
       |sp AS (SELECT doc_id, least($ContainScreenK, len(hs))::BIGINT AS ka,
       |              unnest(hs[1:least($ContainScreenK, len(hs))::INT]) AS h
       |       FROM di WHERE len(hs) > 0),
       |sd AS (SELECT sp.doc_id, sp.ka, sp.h, coalesce(freq.df, 0) AS df
       |       FROM sp LEFT JOIN freq USING (h)),
       |ncap AS (SELECT doc_id, ka,
       |           sum(CASE WHEN df > $ContainDfCap THEN 1 ELSE 0 END)::BIGINT AS n_cap
       |         FROM sd GROUP BY 1, 2),
       |mr AS (SELECT sd.doc_id, p.c_id, count(*) AS m_rare
       |       FROM sd JOIN (SELECT post.c_id, post.h FROM post JOIN freq USING (h)
       |                     WHERE freq.df <= $ContainDfCap) p
       |         ON sd.h = p.h AND sd.doc_id <> p.c_id
       |       WHERE sd.df <= $ContainDfCap
       |       GROUP BY 1, 2),
       |hits AS (SELECT mr.doc_id, count(*)::BIGINT AS n_containers
       |         FROM mr JOIN ncap ON ncap.doc_id = mr.doc_id
       |         WHERE mr.m_rare + ncap.n_cap >= ceil($ContainScreenFrac * ncap.ka)
       |         GROUP BY 1)
       |SELECT di.doc_id, coalesce(hits.n_containers, 0)::BIGINT AS n_containers,
       |       coalesce(hits.n_containers, 0) = 0 AS kept
       |FROM di LEFT JOIN hits USING (doc_id) ORDER BY di.doc_id""".stripMargin

  /** Shared oracle for the count-min heavy hitters (batch q129 and the
    * streaming q188 gate, whose sum-merged sketch is provably identical
    * to the batch sketch: bucket sums are linear in the term counts, and
    * micro-batches partition the corpus rows).
    */
  protected lazy val cmsOracle: String =
    s"""WITH terms AS (
       |  SELECT word AS term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest($tokensLowerSql) AS word FROM documents)
       |  GROUP BY word),
       |rows_ AS (
       |  SELECT j.range AS j,
       |         ('0x' || substr(md5(j.range || ':' || term), 1, 15))::BIGINT % 256 AS bkt,
       |         cnt
       |  FROM terms, range(0, 4) j),
       |sketch AS (SELECT j, bkt, CAST(sum(cnt) AS BIGINT) AS c FROM rows_ GROUP BY j, bkt),
       |est AS (
       |  SELECT t.term, t.cnt, CAST(min(s.c) AS BIGINT) AS est
       |  FROM (SELECT j.range AS j,
       |               ('0x' || substr(md5(j.range || ':' || term), 1, 15))::BIGINT % 256 AS bkt,
       |               term, cnt
       |        FROM terms, range(0, 4) j) t
       |  JOIN sketch s ON s.j = t.j AND s.bkt = t.bkt
       |  GROUP BY t.term, t.cnt)
       |SELECT term, cnt, est, est - cnt AS "over"
       |FROM est ORDER BY est DESC, term ASC LIMIT 20""".stripMargin

  /** The q149 funnel oracle with a conversion window: stage n counts
    * only within INTERVAL 1 DAY of stage n-1 — shared by the batch q157
    * and the streaming q158 gate (same digests as q149/q155; windowing
    * is a pure post-map over exact stage times).
    */
  protected lazy val funnelWindowOracle: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
      |       WHERE event_type = 'view' AND ts > t1
      |         AND ts <= t1 + INTERVAL 1 DAY GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts > t2
      |         AND ts <= t2 + INTERVAL 1 DAY GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1::BIGINT AS stage, 'signup' AS event_type,
      |         (SELECT count(*) FROM s1)::BIGINT AS n_users
      |  UNION ALL SELECT 2::BIGINT, 'view', (SELECT count(*) FROM s2)::BIGINT
      |  UNION ALL SELECT 3::BIGINT, 'purchase', (SELECT count(*) FROM s3)::BIGINT)
      |ORDER BY stage""".stripMargin

  /** q150's cohort-retention oracle — shared verbatim with the streaming
    * q156 gate (per-user week-set digests union-merge exactly, so both
    * run against the same SQL). Week index = floor-seconds // 604800
    * (date_trunc('second') makes epoch() integral, q133's trick); Spark's
    * nanos div 604800e9 floors to the same index.
    */
  protected lazy val cohortOracle: String =
    """WITH w AS (SELECT DISTINCT user_id,
      |             (epoch(date_trunc('second', ts))::BIGINT // 604800) AS wk
      |           FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY 1)
      |SELECT f.cohort_week, (w.wk - f.cohort_week)::BIGINT AS week_offset,
      |       count(*)::BIGINT AS n_active
      |FROM w JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q119's graded-contamination oracle — shared verbatim with the
    * streaming q140 gate (the foreachBatch bridge provably doesn't
    * change per-doc scores, so both run against the same SQL).
    */
  protected lazy val contaminationOracle =
    s"""WITH sh AS (SELECT doc_id,
       |  unnest(list_distinct(list_transform(${docShinglesSql(DecontamSpanN)},
       |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS h
       |  FROM documents),
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % $ContamBenchMod = 0),
       |scored AS (
       |  SELECT s.doc_id, count(*) AS n_spans,
       |         sum(CASE WHEN b.h IS NULL THEN 0 ELSE 1 END) AS n_hit
       |  FROM sh s LEFT JOIN bench b ON b.h = s.h
       |  WHERE s.doc_id % $ContamBenchMod <> 0
       |  GROUP BY s.doc_id)
       |SELECT doc_id, n_spans::BIGINT AS n_spans, n_hit::BIGINT AS n_hit,
       |       n_hit::DOUBLE / n_spans AS overlap_ratio
       |FROM scored ORDER BY doc_id""".stripMargin

  /** q141/q143's shared document clustering: tokens feature-hash into 16
    * integer dims (md5-derived), dense zero-filled via one
    * map_from_entries lookup, the q123 sample-bounded Lloyd's trainer
    * fits k = 8 centroids, and every document is assigned by the
    * aggregate argmin. Returns (doc_id, cluster_id, dist), lazily
    * checkpointed (it feeds both a size join and the balanced sampler).
    */
  protected def docClusterAsg(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(s, rd(s, dir, "documents"))
    val ft = docs.select(col("doc_id"),
        explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("term"))
      .select(col("doc_id"),
        (org.apache.spark.sql.graft.Md5Long60.column(col("term")) % 16).as("dim"))
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("v"))
    val vecs = ft
      .groupBy("doc_id")
      .agg(map_from_entries(sort_array(collect_list(struct(col("dim"), col("v"))))).as("m"))
      .select(col("doc_id").as("id"),
        transform(sequence(lit(0L), lit(15L)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("qv"))
      .withColumn("grp", lit(0L))
      .localCheckpoint(false) // feeds the trainer sample AND the full assignment
    val sample = graft.operators.Sampling.oneInM(vecs, "id", 320L)
    val init = sample.filter(col("id") < lit(8L) * col("m"))
      .select(col("grp"), col("id").as("centroid_id"), col("qv").as("cv"))
    val cents = Similarity.lloydIterate(sample.select("grp", "id", "qv"), init, KmeansIters)
    vecs.join(broadcast(cents), Seq("grp"))
      .withColumn("d", Similarity.sqDistQ(col("qv"), col("cv")))
      .groupBy("id")
      .agg(min(struct(col("d"), col("centroid_id"))).as("best"))
      .select(col("id").as("doc_id"),
        col("best.centroid_id").as("cluster_id"), col("best.d").as("dist"))
      .localCheckpoint(false) // feeds per-cluster aggregates AND row-level joins
  }

  /** Shared oracle CTE chain for q141/q143: the feature-hashed document
    * vectors, sample-bounded Lloyd training (lloydCtesSql), and the full
    * corpus assignment `asg (vec_id, centroid_id, d)`.
    */
  protected lazy val docClusterCtes =
    s"""tk AS (SELECT doc_id, unnest($tokensLowerSql) AS term FROM documents),
       |ft AS (SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT % 16 AS dim,
       |         count(*) AS cnt
       |       FROM tk GROUP BY 1, 2),
       |dims AS (SELECT doc_id, unnest(range(0, 16)) AS dim
       |         FROM (SELECT DISTINCT doc_id FROM ft)),
       |dense AS (SELECT d.doc_id, d.dim, coalesce(f.cnt, 0)::BIGINT AS cnt
       |          FROM dims d LEFT JOIN ft f ON f.doc_id = d.doc_id AND f.dim = d.dim),
       |v AS (SELECT doc_id AS vec_id, list(cnt ORDER BY dim) AS qv FROM dense GROUP BY doc_id),
       |kp AS (SELECT greatest(1, count(*) // 320) AS m FROM v),
       |tv AS (SELECT v.* FROM v, kp WHERE vec_id % kp.m = 0),
       |kinit AS (SELECT vec_id AS centroid_id, qv AS cv FROM tv, kp WHERE vec_id < 8 * kp.m),
       |${lloydCtesSql("tv", "kinit", 16, KmeansIters, Seq.empty, "c")},
       |fd AS (SELECT v.vec_id, c.centroid_id,
       |         CAST(list_sum(list_transform(range(1, 17),
       |           i -> (v.qv[i::INT] - c.cv[i::INT]) * (v.qv[i::INT] - c.cv[i::INT]))) AS BIGINT) AS d
       |       FROM v JOIN c ON TRUE),
       |asg AS (SELECT vec_id, centroid_id, d FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY d ASC, centroid_id ASC) AS rk FROM fd)
       |        WHERE rk = 1)""".stripMargin

  /** q133's HLL oracle — shared VERBATIM by the q148 streaming gate
    * (micro-batch register tables max-merge into the identical
    * sketch, so the bridge must not change any output row).
    */
  protected lazy val hllOracle: String =
    s"""WITH ud AS (
         |  SELECT event_type,
         |         user_id || ':' || (epoch(date_trunc('day', ts))::BIGINT // 86400)::VARCHAR AS user_day
         |  FROM events),
         |h AS (
         |  SELECT event_type,
         |         ('0x' || substr(md5('hll:' || user_day), 1, 15))::BIGINT AS hv
         |  FROM ud),
         |reg AS (
         |  SELECT event_type, hv % ${Sketches.HllM} AS j,
         |         max(CASE WHEN (hv // ${Sketches.HllM}) % ${1L << Sketches.HllWindowBits} = 0
         |                  THEN ${Sketches.HllWindowBits + 1}
         |                  ELSE ${Sketches.HllWindowBits + 1} - length(bin((hv // ${Sketches.HllM}) % ${1L << Sketches.HllWindowBits}))
         |             END) AS mj
         |  FROM h GROUP BY event_type, hv % ${Sketches.HllM}),
         |agg AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_present,
         |         CAST(sum(1::BIGINT << (${Sketches.HllWindowBits + 1} - mj)) AS BIGINT) AS s_present
         |  FROM reg GROUP BY event_type),
         |ex AS (SELECT event_type, CAST(count(DISTINCT user_day) AS BIGINT) AS n_exact
         |       FROM ud GROUP BY event_type),
         |est AS (
         |  SELECT a.event_type, CAST(${Sketches.HllM} - n_present AS BIGINT) AS n_zero_regs,
         |         ${Sketches.HllNumerator} / (s_present + (${Sketches.HllM} - n_present) * ${1L << (Sketches.HllWindowBits + 1)})::DOUBLE AS hll_est,
         |         n_exact
         |  FROM agg a JOIN ex ON ex.event_type = a.event_type)
         |SELECT event_type, n_zero_regs, hll_est, n_exact,
         |       (hll_est - n_exact) / n_exact AS rel_err
         |FROM est ORDER BY event_type""".stripMargin

  /** Shared oracle CTE chain for q116/q146: winnowing fingerprints per
    * doc, the df cap, and the thresholded near-dup pair set `wpairs
    * (id_a, id_b, n_shared)`.
    */
  protected lazy val winnowPairsCtes =
    s"""d AS (SELECT doc_id, lower(text) AS t FROM documents),
       |h AS (SELECT doc_id,
       |  list_transform(range(1, greatest(strlen(t) - 6, 1)), i ->
       |    list_reduce(list_transform(range(i, i + 8), j -> unicode(substr(t, j::INT, 1))::BIGINT),
       |      (a, b) -> (a * 131 + b) % 1000000007)) AS hs
       |  FROM d),
       |f AS (SELECT doc_id,
       |        CASE WHEN len(hs) = 0 THEN []::BIGINT[]
       |             WHEN len(hs) < 8 THEN [list_min(hs)]
       |             ELSE list_distinct(list_transform(range(1, len(hs) - 6),
       |                    i -> list_min(hs[i::INT:(i::INT)+7]))) END AS fps
       |      FROM h),
       |fp AS (SELECT doc_id, unnest(fps) AS fp FROM f),
       |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= $WinnowMaxDf),
       |k AS (SELECT doc_id, fp FROM fp JOIN rare USING (fp)),
       |wpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
       |  FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)""".stripMargin

  /** q147's audit-sample size target: the WHOLE audit (truth verify
    * and per-config candidate counts) runs over ~this many sampled docs
    * (1-in-m, m = max(1, N div target) — identity at oracle scales),
    * because dense-corpus band buckets make every config's corpus-wide
    * pair volume quadratic. Shared with the oracle SQL.
    */
  protected val LshAuditSampleTarget = 1000L

  /** Bucket count for the persisted full-corpus signature table that
    * q126's pair generation self-joins (fullSigBands). Sized to local
    * parallelism (local[32]): the bucketed self-join runs one task per
    * bucket with zero exchange, so fewer buckets than cores caps the
    * join at buckets/cores of the machine — the measured 8-bucket
    * layout served q126 22% slower (SCALE.md round-10 A/B). On a real
    * cluster this is the ingest-time layout choice: size to the
    * serving cluster's total cores.
    */
  protected val SigTableBuckets = 32

  /** q144's quantized chi-square drift component — SAME expression text
    * on both engines: the BIGINT products obs*tot and tt*st are exact in
    * int64 up to multi-billion-token corpora, every int64->double
    * conversion is IEEE round-to-nearest (identical in both engines even
    * past 2^53), and the square / multiply / divide are each one
    * correctly-rounded double op in a fixed order. The denominator
    * multiplies tt*st and tot as DOUBLES so no three-way BIGINT product
    * can overflow at bench scales.
    */
  protected val ChiSqSql =
    "floor(1000000.0 * ((CAST(obs * tot - tt * st AS DOUBLE) * " +
      "CAST(obs * tot - tt * st AS DOUBLE)) / " +
      "(CAST(tt * st AS DOUBLE) * CAST(tot AS DOUBLE))))"

  /** q145's target rank for percentile `pct` over `n` rows — exact
    * BIGINT product, one double division, shared expression text.
    */
  protected val QuantTargetSql =
    "CAST(greatest(1, ceil(pct * n / 100.0)) AS BIGINT)"

  /** q153's profiled columns (every orders column; shared with the
    * generated oracle SQL).
    */
  protected val ProfileColumns = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** q142's literal search patterns (all lowercase, >= 3 chars so each
    * has a non-empty trigram set; one common phrase, one rarer
    * multi-word phrase, one guaranteed miss). Shared with the oracle.
    */
  protected val TrigramPatterns =
    Seq("merge batch", "customer stream window", "no such phrase anywhere")

  /** q160 proximity search: all of a pattern's distinct terms must
    * co-occur within this many token positions (any order). 8 ~ a
    * clause; the exact-phrase q152 is the K = pattern-length special
    * case of the same posting machinery.
    */
  protected val ProximityWindowK = 8

  /** q161 shuffle-shard count (the training-shard fan-out; a real run
    * sizes this to files-per-epoch — the assignment logic is identical).
    */
  protected val ShardCount = 16L

  /** Query-document selector for q137's BM25 retrieval: docs with
    * doc_id % this == 0 play the probe-query role; everything else is
    * the searched corpus. Top-k depth shared with the oracle SQL.
    */
  protected val Bm25QueryMod = 100L
  protected val Bm25TopK = 10L

  /** q137's per-term BM25 contribution, quantized to integer
    * micro-points — the SAME expression text is compiled by Spark
    * (expr) and DuckDB, so every intermediate IEEE op is identical and
    * the integer sum is order-independent. k1 = 1.2, b = 0.75 (so
    * 1 - b = 0.25 and k1 + 1 = 2.2 are folded), idf is the
    * Robertson-Sparck-Jones ratio without the log (rank-equivalent per
    * term and exactly representable).
    */
  protected val Bm25ContribSql =
    "floor(1000000.0 * ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
      "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * " +
      "(0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"

  /** q159's selective-term gate: a query term joins the postings only if
    * its document frequency is under 1/Bm25DfStopMult of the corpus (a
    * stop term's postings list is the corpus — joining it is the
    * candidate-volume bomb at 100 TB) OR it is one of the query's
    * Bm25KeepRarest most selective terms (ties by term text), which
    * keeps results meaningful even when every term is frequent (the
    * sf0.01 synthetic vocabulary is the degenerate case: 31 terms, df
    * 75-80% — all stop terms under any absolute cut).
    */
  protected val Bm25DfStopMult = 5L
  protected val Bm25KeepRarest = 4L

  /** q139 PMI collocations: minimum bigram count, result depth, and the
    * oracle-shared integer-micro-point PMI ratio (exact BIGINT products,
    * one double division).
    */
  protected val PmiMinCount = 5L
  protected val PmiTopK = 40
  protected val PmiScoreSql =
    "floor(1000000.0 * (CAST(c_xy * n_tok AS DOUBLE) / CAST(cx * cy AS DOUBLE)))"

  /** Exact-Jaccard floor for the q120 estimator-vs-exact pairs — lower
    * than q31's 0.4 so the gate also covers pairs where the 8-slot
    * estimate is most biased (band-collision survivors near the floor).
    */
  protected val EstPairThreshold = 0.3

  /** Source dir whose bucketed q77 staging tables are currently live in
    * this JVM's catalog (null until first write).
    */
  protected val bucketedStagedFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Catalog table name scoped to a source dir: `prefix` plus 8 hex
    * chars of md5(dir). Each dir stages into its OWN table, so the
    * staging check is a plain idempotent tableExists — no global name,
    * no check-then-act DROP/rebuild race if registry queries over
    * different dirs ever run concurrently (the q126/q132 staging
    * convention; a dir's table is built once per JVM and reused).
    */
  protected def dirScopedTable(prefix: String, dir: String): String =
    prefix + "_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Trained-artifact registry: a coarse quantizer / PQ codebook is a
    * CORPUS-level artifact — trained once per ingest, then read by every
    * serving query — not something an ANN deployment retrains per query.
    * First use per (corpus dir, artifact kind) runs the (deterministic,
    * integer-Lloyd's) training job and persists the result as a parquet
    * artifact in staging; later queries read the artifact back. Results
    * are bit-identical to inline training, so every oracle is unchanged;
    * only the redundant retraining work disappears. Quantizer/codebook
    * artifacts are tiny (k x dims longs) and default to a single file
    * (broadcast-sized read-back); CORPUS-sized artifacts (the IVF
    * inverted lists, the NND edge list) pass a `layout` that keeps the
    * write parallel and partition-aligned — funneling N rows through
    * coalesce(1)'s single writer task would serialize the whole build
    * on one core at scale. q123 (the training surface itself)
    * deliberately bypasses this and measures a full training run.
    *
    * The train thunk runs inside computeIfAbsent's mapping function, so
    * it must NOT call trainedArtifact again (ConcurrentHashMap forbids
    * recursive updates) — compose artifacts by hoisting the dependency
    * OUTSIDE the thunk (see ivfSqrtIndex).
    */
  protected val modelPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  protected def trainedArtifact(s: SparkSession, dir: String, kind: String,
      layout: DataFrame => DataFrame = _.coalesce(1))(
      train: => DataFrame): DataFrame = {
    val path = modelPaths.computeIfAbsent(s"$dir#$kind", _ => {
      val p = s"${Staging.dir("model-")}/$kind"
      layout(train).write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** Signed-random-projection hyperplanes: 64 planes x 64 dims of
    * Rademacher +-1 entries derived from md5 parity, so the Spark query
    * and the generated oracle SQL share one deterministic source of truth
    * (the same generate-from-constants pattern as MinhashParams). The
    * first 16 ARE the legacy 16-plane signature (`SrpPlanes`) q72/q107
    * key on; the tail exists for q196's widened-signature configs.
    */
  protected lazy val SrpPlanes64: Seq[Seq[Int]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    (0 until 64).map { p =>
      (0 until 64).map { d =>
        val h = mdig.digest(s"srp-$p-$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
    }
  }
  protected lazy val SrpPlanes: Seq[Seq[Int]] = SrpPlanes64.take(16)

  /** Sessionization gap (microseconds) — 4 hours (the testdata's events
    * average ~100 min between a user's events, so a web-style 30-min gap
    * would make nearly every event its own session).
    */
  protected val SessionGapMicros: Long = 14400000000L

  /** Quality-filter thresholds (shared between the Spark query and the
    * generated oracle SQL).
    */
  protected val QfMinTokens = 5L
  protected val QfMinMeanTokLen = 3.0
  protected val QfMaxMeanTokLen = 12.0
  protected val QfMaxPunctRatio = 0.2
  protected val QfMinStopwordRatio = 0.05

  /** Shared CTE chain for the MinHash-LSH near-dup pairs (q31 + q52),
    * ending in `nd_pairs(id_a, id_b, jacc)`. Signature SQL is generated
    * from the SAME constants Spark uses (TextFunctions.MinhashParams/
    * MinhashP) so the two sides cannot drift.
    */
  /** Shared CTE prefix for every MinHash oracle: per-doc shingle hashes
    * (`ok(doc_id, hb)`), signature columns (`sig(doc_id, m0..m7)`), and
    * the exploded band table (`band(doc_id, band, key)`).
    */
  protected lazy val lshBandCtes: String = {
    val p = TextFunctions.MinhashP
    val sigCols = TextFunctions.MinhashParams.zipWithIndex
      .map { case ((a, b), i) =>
        s"list_min(list_transform(hb, h -> (h * $a + $b) % $p)) AS m$i"
      }
      .mkString(",\n  ")
    val rowsPerBand = 4
    val bandSelects = (0 until TextFunctions.MinhashParams.length / rowsPerBand)
      .map { bd =>
        val key = (0 until rowsPerBand)
          .map(r => s"m${bd * rowsPerBand + r}::VARCHAR")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $bd AS band, $key AS key FROM sig"
      }
      .mkString("\n  UNION ALL ")
    s"""d AS (SELECT doc_id,
       |  list_distinct(list_transform(
       |    list_transform(range(1, greatest(strlen(lower(text)) - 2, 1)), i -> substr(lower(text), i::INT, 4)),
       |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % $p)) AS hb
       |  FROM documents),
       |ok AS (SELECT * FROM d WHERE len(hb) > 0),
       |sig AS (SELECT doc_id,
       |  $sigCols
       |  FROM ok),
       |band AS (
       |  $bandSelects)""".stripMargin
  }

  /** Generated CTE chain for `iters` Lloyd k-means steps — the oracle
    * twin of Similarity.lloydIterate, emitted once per trained-centroid
    * oracle so the SQL trains the SAME centroids the Spark side does.
    * `vCte` must expose (grpCols..., vec_id, qv: BIGINT[]); `initCte`
    * (grpCols..., centroid_id, cv). Ends in `outCte` =
    * (grpCols..., centroid_id, cv). Assignment: integer squared-L2
    * argmin, ties -> lowest centroid_id; update: per-dimension
    * floor(mean) (exact long sum, one IEEE divide) — empty clusters
    * drop out. Every operation is exact or identically-rounded on both
    * engines, so the chain is hash-stable.
    */
  protected def lloydCtesSql(
      vCte: String, initCte: String, dims: Int, iters: Int,
      grpCols: Seq[String], outCte: String, prefix: String = "k"): String = {
    val grp = grpCols.mkString(", ")
    val grpSel = if (grpCols.isEmpty) "" else grp + ", "
    val grpSelV = if (grpCols.isEmpty) "" else grpCols.map("v." + _).mkString(", ") + ", "
    val grpSelA = if (grpCols.isEmpty) "" else grpCols.map("a." + _).mkString(", ") + ", "
    val joinCents = if (grpCols.isEmpty) "ON TRUE" else s"USING ($grp)"
    val joinBack = "a.vec_id = v.vec_id" +
      grpCols.map(g => s" AND a.$g = v.$g").mkString
    val steps = (1 to iters).map { t =>
      val prev = if (t == 1) initCte else s"${prefix}c${t - 1}"
      s"""${prefix}d$t AS (
         |  SELECT ${grpSelV}v.vec_id, c.centroid_id,
         |         CAST(list_sum(list_transform(range(1, ${dims + 1}),
         |           i -> (v.qv[i::INT] - c.cv[i::INT]) * (v.qv[i::INT] - c.cv[i::INT]))) AS BIGINT) AS d
         |  FROM $vCte v JOIN $prev c $joinCents),
         |${prefix}a$t AS (
         |  SELECT ${grpSel}vec_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY ${grpSel}vec_id ORDER BY d ASC, centroid_id ASC) AS rk
         |    FROM ${prefix}d$t)
         |  WHERE rk = 1),
         |${prefix}m$t AS (
         |  SELECT ${grpSel}centroid_id, pos,
         |         CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cval
         |  FROM (SELECT ${grpSelA}a.centroid_id, unnest(v.qv) AS val, unnest(range(0, $dims)) AS pos
         |        FROM ${prefix}a$t a JOIN $vCte v ON $joinBack)
         |  GROUP BY ALL),
         |${prefix}c$t AS (SELECT ${grpSel}centroid_id, list(cval ORDER BY pos) AS cv FROM ${prefix}m$t GROUP BY ALL)""".stripMargin
    }
    steps.mkString(",\n") + s",\n$outCte AS (SELECT * FROM ${prefix}c$iters)"
  }

  /** Generated CTE chain for q127's BPE merge steps — the oracle twin of
    * TextAnalysis.bpeTopMerges. bs0 must exist (word, freq, seq); emits
    * bp{t}/bb{t}/bs{t} per step; bb{t} holds step t's winning merge.
    */
  protected def bpeCtesSql(steps: Int): String =
    (1 to steps).map { t =>
      s"""bp$t AS (
         |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS pair_count
         |  FROM (
         |    SELECT freq,
         |           unnest(string_split(seq, ' ')[1:len(string_split(seq, ' ')) - 1]) AS a,
         |           unnest(string_split(seq, ' ')[2:len(string_split(seq, ' '))]) AS b
         |    FROM bs${t - 1})
         |  GROUP BY a, b),
         |bb$t AS (SELECT a, b, pair_count FROM bp$t ORDER BY pair_count DESC, a, b LIMIT 1),
         |bs$t AS (
         |  SELECT word, freq,
         |         replace(seq, x.a || ' ' || x.b,
         |                 substr(x.a, 1, length(x.a) - 1) || substr(x.b, 2)) AS seq
         |  FROM bs${t - 1}, bb$t x)""".stripMargin
    }.mkString(",\n")

  /** Shared CTE chain for the corpus-scaled-k (sqrt N) quantizer:
    * Lloyd-trained centroids `c`, full-corpus `assign(vec_id,
    * centroid_id)`, per-vector `score(id, centroid_id, sc)`, and
    * normalized vectors `n`. The oracle twin of sqrtCentroids +
    * ivfSqrtBuckets; shared by the q46/q117 clustering oracles and the
    * q43/q131/q194 IVF serving oracles.
    */
  protected val embAssignCtes: String =
    s"""v AS (SELECT vec_id,
      |             list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv,
      |             list_transform(embedding, x -> x::DOUBLE) AS dv
      |           FROM embeddings),
      |kp AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k,
      |              greatest(1, count(*) // (40 * CAST(ceil(sqrt(count(*))) AS BIGINT))) AS m
      |       FROM embeddings),
      |tv AS (SELECT v.vec_id, v.qv FROM v, kp WHERE v.vec_id % kp.m = 0),
      |kinit AS (SELECT vec_id AS centroid_id, qv AS cv FROM tv, kp WHERE vec_id < kp.k * kp.m),
      |${lloydCtesSql("tv", "kinit", 64, KmeansIters, Seq.empty, "c")},
      |score AS (
      |  SELECT v.vec_id AS id, c.centroid_id,
      |         CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i::INT] * c.cv[i::INT])) AS BIGINT) AS sc
      |  FROM v CROSS JOIN c),
      |assign AS (
      |  SELECT id AS vec_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk FROM score)
      |  WHERE rk = 1),
      |n AS (SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm FROM v)""".stripMargin

  /** Shared CTE chain for the corpus-scaled-k embedding clustering +
    * within-cluster cosine pairs (q46 + q117), ending in
    * `assign(vec_id, centroid_id)` and `pairs(id_a, id_b, cos_sim)`
    * (pairs unfiltered — callers apply their own threshold).
    */
  protected val embCosPairsCtes: String =
    s"""$embAssignCtes,
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         list_sum(list_transform(range(1, 65), i -> na.dv[i::INT] * nb.dv[i::INT])) / (na.nrm * nb.nrm) AS cos_sim
      |  FROM assign a JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id)""".stripMargin

  /** Shared oracle for the sqrt-N IVF probe-and-refine top-k (q43 batch,
    * q194 streaming gate), parameterized by the query-set predicate over
    * vec_id (as `id`). Probe depth = ceil(sqrt(k_centroids)) — the
    * ivfTopKOnIndex auto rule — computed from the same kp CTE.
    */
  protected def ivfSqrtTopkOracle(queryPred: String): String =
    s"""WITH $embAssignCtes,
      |npr AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS np FROM c),
      |probes AS (
      |  SELECT id AS q_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk
      |    FROM score WHERE $queryPred), npr
      |  WHERE rk <= npr.np),
      |cand AS (SELECT q_id, vec_id AS r_id FROM probes JOIN assign USING (centroid_id)
      |         WHERE q_id <> vec_id),
      |ref AS (
      |  SELECT cand.q_id, cand.r_id,
      |         list_sum(list_transform(range(1, 65), i -> qn.dv[i::INT] * rn.dv[i::INT])) / (qn.nrm * rn.nrm) AS cos_sim
      |  FROM cand JOIN n qn ON qn.vec_id = cand.q_id JOIN n rn ON rn.vec_id = cand.r_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS rank FROM ref)
      |SELECT q_id, r_id, cos_sim, rank FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Exact-Jaccard expression between the `ok` rows aliased da/db. */
  protected val lshJaccSql =
    """len(list_intersect(da.hb, db.hb))::DOUBLE
      |           / (len(da.hb) + len(db.hb) - len(list_intersect(da.hb, db.hb)))""".stripMargin

  /** Full incremental-dedup oracle (q118's body), shared VERBATIM by
    * q121 (the foreachBatch bridge) and q132 (the persisted-signature-
    * table round trip): neither the streaming bridge nor the bucketed
    * storage layout may change the operator's answers.
    */
  protected lazy val incrementalDedupOracle: String =
    s"""WITH $lshBandCtes,
       |inc AS (SELECT * FROM band WHERE doc_id % $IncrementalMod = ${IncrementalMod - 1}),
       |corp AS (SELECT * FROM band WHERE doc_id % $IncrementalMod <> ${IncrementalMod - 1}),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS in_id, c.doc_id AS corp_id
       |  FROM inc i JOIN corp c ON i.band = c.band AND i.key = c.key),
       |ver AS (
       |  SELECT c.in_id, c.corp_id
       |  FROM cand c JOIN ok da ON da.doc_id = c.in_id JOIN ok db ON db.doc_id = c.corp_id
       |  WHERE $lshJaccSql >= 0.4),
       |cnt AS (SELECT in_id, count(*) AS n_dups FROM ver GROUP BY in_id)
       |SELECT d.doc_id, coalesce(c.n_dups, 0)::BIGINT AS n_dups,
       |       (CASE WHEN coalesce(c.n_dups, 0) = 0 THEN 1 ELSE 0 END)::BIGINT AS kept
       |FROM documents d LEFT JOIN cnt c ON c.in_id = d.doc_id
       |WHERE d.doc_id % $IncrementalMod = ${IncrementalMod - 1}
       |ORDER BY d.doc_id""".stripMargin

  protected lazy val lshPairsCtes: String =
    s"""$lshBandCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM band x JOIN band y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT c.id_a, c.id_b,
       |         $lshJaccSql AS jacc
       |  FROM cand c JOIN ok da ON da.doc_id = c.id_a JOIN ok db ON db.doc_id = c.id_b),
       |nd_pairs AS (SELECT id_a, id_b, jacc FROM verified WHERE jacc >= 0.4)""".stripMargin

  /** DuckDB CTE chain scoring Fuzz.partialRatioCutoff(aCol, bCol, cutoff)
    * for every row of `src` — the same published bit-parallel Allison–Dix
    * LCS the Spark scorer uses (functions/Fuzz.scala:41-68), evaluated
    * over every RapidFuzz partial_ratio window through SQL lambdas. Ends
    * in CTE `scored` = src.* + `score` BIGINT. Cross-validated against a
    * port of the Spark scorer on 600+ random and edge-case pairs
    * (tools/proto_partial_ratio.py). The needle must fit the chosen bit
    * vector: < 63 chars with BIGINT (the default; testdata names max at
    * 40), < 127 with HUGEINT (the long-needle gate q105 uses — it pins
    * the Spark scorer's >64-char DP path, which BIGINT cannot reach).
    */
  protected def scorerCtes(
      src: String, aCol: String, bCol: String, cutoff: Int,
      intType: String = "BIGINT"): String =
    s"""pr1 AS (SELECT *,
       |  CASE WHEN strlen($aCol) <= strlen($bCol) THEN lower($aCol) ELSE lower($bCol) END AS pr_s,
       |  CASE WHEN strlen($aCol) <= strlen($bCol) THEN lower($bCol) ELSE lower($aCol) END AS pr_l
       |  FROM $src),
       |pr2 AS (SELECT *, strlen(pr_s) AS pr_m, strlen(pr_l) AS pr_n FROM pr1),
       |pr3 AS (SELECT *,
       |  CASE WHEN pr_m = 0 THEN 0::$intType ELSE (1::$intType << pr_m) - 1::$intType END AS pr_full,
       |  list_transform(string_split(pr_l, ''), ch ->
       |    list_sum(list_transform(range(1, pr_m + 1),
       |      i -> CASE WHEN substr(pr_s, i::INT, 1) = ch THEN (1::$intType << (i::INT - 1)) ELSE 0::$intType END))::$intType) AS pr_ml
       |  FROM pr2),
       |pr4 AS (SELECT *,
       |  list_concat(list_concat(
       |    list_transform(range(1, pr_m), j -> {'wa': 1::INT, 'wb': j::INT}),
       |    list_transform(range(1, pr_n - pr_m + 2), i -> {'wa': i::INT, 'wb': (i + pr_m - 1)::INT})),
       |    list_transform(range(1, pr_m), j -> {'wa': (pr_n - j + 1)::INT, 'wb': pr_n::INT})) AS pr_wins
       |  FROM pr3),
       |pr5 AS (SELECT *,
       |  CASE WHEN pr_m = 0 THEN (CASE WHEN pr_n = 0 THEN 100.0 ELSE 0.0 END)
       |       ELSE list_max(list_transform(pr_wins, w ->
       |         200.0 * (pr_m - bit_count(list_reduce(list_prepend(pr_full, list_slice(pr_ml, w.wa, w.wb)),
       |                    (v, mk) -> ((v + (v & mk)) | (v & ~mk)) & pr_full)))
       |           / (pr_m + (w.wb - w.wa + 1)))) END AS pr_best
       |  FROM pr4),
       |scored AS (SELECT *, CASE WHEN pr_best >= $cutoff THEN round(pr_best)::BIGINT ELSE 0::BIGINT END AS score FROM pr5)""".stripMargin

  /** DuckDB CTE chain reproducing HeurFuzz.matchTable over arbitrary
    * query/ref relations (each `SELECT ... id, ... term`): bigram
    * coverage pairs -> per-query top-K -> partial_ratio verify -> argmax
    * with the reference tie-breaks -> NA coalesce. Ends in CTE
    * `mt(q_id, query, match)`.
    */
  protected def matchPipelineCtes(qSql: String, rSql: String, topK: Int, cutoff: Int): String =
    s"""mq AS ($qSql),
       |mr AS ($rSql),
       |qq AS (SELECT id AS q_id, term AS q_term, strlen(term) AS q_len,
       |         list_transform(range(1, strlen(term)), i -> substr(term, i::INT, 2)) AS qb FROM mq),
       |rr AS (SELECT id AS r_id, term AS r_term, strlen(term) AS r_len,
       |         list_transform(range(1, strlen(term)), i -> substr(term, i::INT, 2)) AS rb FROM mr),
       |prs AS (SELECT q_id, q_term, r_id, r_term,
       |         CASE WHEN len(qb) = 0 THEN 0.0
       |              ELSE len(list_filter(qb, g -> list_contains(rb, g)))::DOUBLE / len(qb) END AS coverage,
       |         abs(q_len - r_len)::DOUBLE AS len_diff
       |       FROM qq CROSS JOIN rr),
       |topk AS (SELECT * EXCLUDE (rk) FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY coverage DESC, len_diff DESC, r_id DESC) AS rk FROM prs)
       |  WHERE rk <= $topK),
       |${scorerCtes("topk", "r_term", "q_term", cutoff)},
       |kept AS (SELECT * FROM scored WHERE score > 0),
       |best AS (SELECT q_id, r_term AS match FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, len_diff ASC, r_id DESC) AS brk FROM kept)
       |  WHERE brk = 1),
       |mt AS (SELECT mq.id AS q_id, mq.term AS query, coalesce(b.match, 'NA') AS match
       |       FROM mq LEFT JOIN best b ON b.q_id = mq.id)""".stripMargin

}

/** Test hook for the foreachBatch gates' replay contract, package-private
  * like `Narrow.withBudget`: inside [[withFailure]], one batch of one gate
  * fails once, after its sink write and before its offset commit, and
  * `RegistryBase.foreachBatchGate` restarts the stream from the same
  * checkpoint, as a restarted driver would.
  */
private[graft] object GateReplay {
  private var armed: Option[(String, Long)] = None
  private var injected = 0
  private var restarts = 0

  /** Runs `body` with batch `batchId` of gate `gate` failing once; fails
    * if that batch never ran, since the replay would then go unexercised.
    */
  def withFailure[T](gate: String, batchId: Long)(body: => T): T = {
    synchronized { armed = Some((gate, batchId)); injected = 0; restarts = 0 }
    try {
      val out = body
      require(synchronized(restarts == 1),
        s"$gate batch $batchId never ran: no failure was injected")
      out
    } finally synchronized { armed = None }
  }

  private[graft] def afterSink(gate: String, id: Long): Unit = synchronized {
    if (armed.contains((gate, id))) {
      armed = None
      injected += 1
      throw new IllegalStateException(s"injected failure: $gate batch $id after its sink write")
    }
  }

  /** True once per injected failure: the harness restarts the stream. */
  private[graft] def restart(): Boolean = synchronized {
    val due = restarts < injected
    if (due) restarts += 1
    due
  }
}
