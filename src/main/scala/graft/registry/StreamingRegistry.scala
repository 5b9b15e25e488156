package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, Quota, Similarity, Sketches, TextAnalysis}
import graft.streaming.EventStream

/** Registry pillar: Structured Streaming gates, each checked against a batch oracle. Split from SparkEntry.scala
  * (round 8); query semantics and oracle SQL unchanged.
  */
trait StreamingRegistry extends RegistryBase {
  protected def streamingQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // streaming: the SAME hourly aggregate as q40 but through the real
    // Structured Streaming path — file source, watermarked tumbling
    // window, memory sink, AvailableNow trigger run to completion. The
    // q40-equivalent oracle makes the streaming engine itself (not a
    // batch re-derivation) pass the correctness gate.
    "q53_events_hourly_stream" -> ((s, dir) =>
      runStreamGate(s, dir, "q53_events_hourly_stream_sink", "complete") { stage =>
        EventStream.hourlyStream(s, stage)
      }.orderBy("hour_epoch", "event_type")),

    // streaming: exact dedup through the real streaming engine —
    // dropDuplicatesWithinWatermark over the file-source stream, memory
    // sink, gated against a batch DISTINCT oracle (the projection to key
    // columns makes "keeps ONE arbitrary row per key" deterministic)
    "q71_stream_dedup" -> ((s, dir) =>
      // the gate compares against a batch DISTINCT oracle, so the
      // watermark horizon is deliberately LONGER than any replayed
      // history ("3650 days"): the stream then drops every recurrence
      // regardless of how the file source splits micro-batches. A finite
      // horizon (the production setting) is only batching-independent
      // when no key recurs beyond it.
      runStreamGate(s, dir, "q71_stream_dedup_sink", "append") { stage =>
        EventStream
          .dedupStream(
            EventStream.readEventStream(s, stage),
            Seq("user_id", "event_type"), "3650 days")
          .select("user_id", "event_type")
      }.orderBy("user_id", "event_type")),

    // streaming: native session_window sessions through the real
    // streaming engine (complete mode, AvailableNow), gated against a
    // batch lag/flag/running-sum sessionization oracle — same 4h gap as
    // q54; window.start = first event, window.end = last event + gap
    "q84_stream_sessions" -> ((s, dir) =>
      runStreamGate(s, dir, "q84_stream_sessions_sink", "complete") { stage =>
        EventStream.sessionAggregate(
          EventStream.readEventStream(s, stage),
          gap = "4 hours", watermark = Some("8 hours"))
      }.orderBy("user_id", "session_start")),

    // streaming: stream-static join — event stream enriched with the
    // broadcast customer dim (stateless join), then the watermarked
    // hourly aggregate keyed by market segment; memory-sink result
    // hash-matched against the batch join+agg oracle
    "q90_stream_static_join" -> ((s, dir) => {
      val dim = rd(s, dir, "customer")
      runStreamGate(s, dir, "q90_stream_static_join_sink", "complete") { stage =>
        EventStream
          .enrichedHourlyStream(s, stage, dim, "c_custkey", "c_mktsegment")
      }.orderBy("hour_epoch", "c_mktsegment")
    }),

    // streaming: the ARBITRARY-STATE surface (mapGroupsWithState) —
    // running per-user totals carried across micro-batches; the final
    // state must equal the batch per-user counts. Totals are monotone,
    // so max() over the update-mode sink is the final value regardless
    // of how the source split into batches.
    "q94_stream_user_totals" -> ((s, dir) =>
      runStreamGate(s, dir, "q94_stream_user_totals_sink", "update") { stage =>
        EventStream
          .runningUserCounts(s, EventStream.readEventStream(s, stage))
          .toDF()
      }
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"))
        .orderBy("user_id")),

    // streaming: stream-STREAM join — clicks joined to the same user's
    // trailing-hour views with watermarks on both sides bounding join
    // state; raw pairs land in an append-mode sink and aggregate to
    // per-click prior-view counts, hash-matched against the q49 batch
    // range-join oracle
    "q95_stream_stream_join" -> ((s, dir) =>
      runStreamGate(s, dir, "q95_stream_stream_join_sink", "append") { stage =>
        EventStream.clickPriorViewsStream(s, stage)
      }
        .groupBy(col("event_id"), col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_prior_views"))
        .orderBy("event_id")),

    // streaming bridge gate: foreachBatch runs the BATCH keep-latest
    // operator over every micro-batch (two batches forced via a doubled
    // staged file + maxFilesPerTrigger=1) and writes each batch's winners
    // to its batchId-keyed sink; a final batch keep-latest over all
    // batches yields the same snapshot for ANY micro-batch split
    // (keep-latest is an idempotent per-key reduction, and the duplicate
    // rows from the doubled file collapse to identical winners) —
    // hash-matched against the q81-shape batch oracle. This is the
    // surface that lets every batch operator in the engine run over a
    // stream without a streaming rewrite.
    "q104_stream_foreach_dedup" -> ((s, dir) => {
      def keepLatest(df: DataFrame): DataFrame = {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("tsn").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      }
      foreachBatchGate(s, "q104") { stage =>
        BatchGate(
          EventStream.readEventStream(s, linkInput(stage, dir, "events", copies = 2),
            maxFilesPerTrigger = Some(1)),
          (batch, _) => keepLatest(batch.select(
            col("event_id"), col("user_id"), col("event_type"),
            expr("ts div 1000").as("tsn"), col("value"))),
          winners => keepLatest(winners).orderBy("user_id", "event_type"))
      }
    }),

    // pillar events + streaming (11th gate): HLL SKETCH MAINTENANCE ON A
    // STREAM — each micro-batch emits its own per-(group, register) max
    // table; the tables max-merge after the stream drains and the
    // estimate reads off the merged registers. Because max is
    // associative and commutative, batch boundaries provably cannot
    // change a register — same oracle as the batch q133. This is the
    // production sketch shape: per-partition/day/batch register tables
    // stored small, merged on demand, raw data never re-read.
    "q148_stream_hll_distinct" -> ((s, dir) =>
      foreachBatchGate(s, "q148") { stage =>
        def userDay(df: DataFrame) = df.select(col("event_type"),
          concat(col("user_id").cast("string"), lit(":"),
            expr("ts div 86400000000000").cast("string")).as("user_day"))
        BatchGate(
          // readEventStream owns the events read schema + the micros->nanos
          // rescale (rd's output schema no longer matches the raw file)
          EventStream.readEventStream(s, linkInput(stage, dir, "events")),
          (batch, _) =>
            Sketches.hllRegisters(userDay(spreadBatch(s, batch)), "event_type", "user_day"),
          registers => {
            val merged = registers.groupBy("event_type", "j").agg(max(col("mj")).as("mj"))
            val exact = userDay(spread(s, rd(s, dir, "events")))
              .groupBy("event_type").agg(countDistinct(col("user_day")).as("n_exact"))
            Sketches.hllEstimate(merged, "event_type")
              .join(exact, Seq("event_type"))
              .select(col("event_type"), col("n_zero_regs"), col("hll_est"),
                col("n_exact"),
                ((col("hll_est") - col("n_exact")) / col("n_exact")).as("rel_err"))
              .orderBy("event_type")
          })
      }),

    // pillar sketches + streaming (18th gate): BIN-QUANTILE SKETCH
    // MAINTENANCE ON A STREAM — each micro-batch emits its own
    // (event_type, bin, cnt) table; the tables SUM-merge after the stream
    // drains and the q181 estimator reads off the merged sketch. Because
    // micro-batches partition the input rows and bin counts are additive,
    // the merged sketch is provably IDENTICAL to the batch sketch — same
    // oracle as q181, exact audit included. This is the production
    // percentile pipeline: per-batch/day sketches stored tiny, merged on
    // demand, raw data never re-read.
    "q182_stream_quantile_sketch" -> ((s, dir) =>
      foreachBatchGate(s, "q182") { stage =>
        BatchGate(
          eventsSplitStream(s, dir, stage),
          (batch, _) => Sketches.binCounts(
            spreadBatch(s, batch)
              .select(col("event_type"), round(col("value") * 100).cast("long").as("cents")),
            "event_type", "cents", QSketchWidthCents),
          bins => {
            val merged = bins.groupBy("event_type", "bin").agg(sum(col("cnt")).as("cnt"))
            val est = Sketches.quantileFromBins(merged, "event_type", QSketchWidthCents, QSketchPcts)
            // exact audit side from the static table (identical to q181's)
            val exact = Sketches.quantileFromBins(
                Sketches.binCounts(
                  rd(s, dir, "events")
                    .select(col("event_type"), round(col("value") * 100).cast("long").as("cents")),
                  "event_type", "cents", 1L),
                "event_type", 1L, QSketchPcts)
              .select(col("event_type"), col("pct"), col("est_lo").as("exact_cents"))
            est.join(exact, Seq("event_type", "pct"))
              .select(col("event_type"), col("pct"), col("target"),
                col("est_lo").as("est_lo_cents"), col("est_hi").as("est_hi_cents"),
                col("exact_cents"),
                (col("exact_cents") - col("est_lo")).as("err_cents"))
              .orderBy("event_type", "pct")
          })
      }),

    // pillar sketches + streaming (19th gate): COUNT-MIN SKETCH
    // MAINTENANCE ON A STREAM — each micro-batch counts its own terms and
    // emits its own d x w CMS table; the tables SUM-merge after the
    // stream drains and the q129 heavy-hitter probe reads off the merged
    // sketch. Bucket sums are LINEAR in term counts and micro-batches
    // partition the corpus rows, so the merged sketch is provably
    // IDENTICAL to the batch sketch — same oracle as q129. The production
    // frequency pipeline: per-batch sketches stored tiny (d*w rows),
    // merged on demand, raw text never re-read.
    "q188_stream_cms_topk" -> ((s, dir) =>
      foreachBatchGate(s, "q188") { stage =>
        val in = stage.resolve("in").toString
        // genuine 4-file split → 4 micro-batches (the q155 convention)
        rd(s, dir, "documents").repartition(4).write.mode("overwrite").parquet(in)
        def termCounts(df: DataFrame) = df
          .select(explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("cnt"))
        BatchGate(
          s.readStream.schema(rd(s, dir, "documents").schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          (batch, _) => Sketches.cmsRows(termCounts(spreadBatch(s, batch)), "term", "cnt"),
          sketches => {
            val merged = sketches.groupBy("j", "bkt").agg(sum(col("c")).as("c"))
            // probe side from the static table (exactly q129's term counts)
            Sketches.cmsEstimate(termCounts(spread(s, rd(s, dir, "documents"))),
                merged, "term", "cnt")
              .withColumn("over", col("est") - col("cnt"))
              .orderBy(col("est").desc, col("term").asc)
              .limit(20)
              .select("term", "cnt", "est", "over")
          })
      }),

    // pillar dedup + streaming: incremental dedup ON ARRIVAL — the q118
    // operator driven from the foreachBatch bridge: the incoming batch
    // arrives as a file stream, each micro-batch runs
    // incrementalNearDupFilterOnBands against the static (persisted)
    // corpus and writes its verdicts. THE production ingest-dedup
    // shape: batch operators reused verbatim on streams, corpus state
    // external to the stream (same oracle as q118 — the bridge must not
    // change answers).
    "q121_stream_incremental_dedup" -> ((s, dir) =>
      foreachBatchGate(s, "q121") { stage =>
        val in = stageIncomingDocs(s, dir, stage)
        // spread both sides: the staged snapshot is ONE parquet file, so
        // without it the per-doc md5 signature hashing (the dominant
        // cost) runs single-core on both the corpus and each micro-batch
        val corpus = spread(s, rd(s, dir, "documents"))
          .filter(col("doc_id") % IncrementalMod =!= IncrementalMod - 1)
        // the corpus-side LSH BAND TABLE is built ONCE, eagerly, before
        // the stream starts (round 18, the q191/q132 persisted-signature
        // shape): every micro-batch otherwise re-shingled and re-minhashed
        // the whole static corpus inside its own addBatch — per-batch
        // corpus-sized work on the streaming session (where AQE is
        // force-disabled), which is exactly the per-batch corpus scan the
        // r17 verdict's item 3 flags. At 100 TB this table is the
        // persisted signature index ingest maintains; batches join into
        // it, the corpus never re-hashes. q118 probes the same
        // signatureBands(corpus) table built inline, so answers are
        // unchanged (same oracle as q118).
        val corpBands = Dedup.signatureBands(corpus, "doc_id", "text",
            shingleN = 4, numHashes = 8, rowsPerBand = 4)
          .localCheckpoint(true)
        BatchGate(
          // no maxFilesPerTrigger: the staged slice arrives as ONE batch
          // (the q104/q121 bridge gate semantics are per-doc, so batching
          // is free to differ; one batch keeps commit overhead minimal)
          s.readStream.schema(rd(s, dir, "documents").schema).parquet(in),
          (batch, _) => Dedup.incrementalNearDupFilterOnBands(spreadBatch(s, batch), corpBands,
            "doc_id", "text", shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4),
          _.orderBy("doc_id"))
      }),

    // pillar pipeline + streaming (10th gate): CONTAMINATION SCORING ON
    // ARRIVAL — q119's graded-overlap operator driven from the
    // foreachBatch bridge: each incoming micro-batch is span-hashed and
    // scored against the STATIC benchmark span set (checkpointed once,
    // broadcast into every batch — the shape of a crawl pipeline that
    // grades contamination as documents land, not in a nightly sweep).
    // Per-doc scores only depend on the doc itself + the static set, so
    // batch boundaries provably don't change answers: same oracle as
    // q119.
    "q140_stream_contamination" -> ((s, dir) =>
      foreachBatchGate(s, "q140") { stage =>
        def spansOf(df: DataFrame) = df.select(col("doc_id"),
          explode(Dedup.hashedShingles(col("text"), DecontamSpanN)).as("h"))
        val bench = spansOf(spread(s, rd(s, dir, "documents"))
            .filter(col("doc_id") % ContamBenchMod === 0))
          .select(col("h").as("bh")).distinct()
          .localCheckpoint(true) // static benchmark set, reused by every micro-batch
        BatchGate(
          s.readStream.schema(rd(s, dir, "documents").schema)
            .parquet(linkInput(stage, dir, "documents"))
            .filter(col("doc_id") % ContamBenchMod =!= 0),
          (batch, _) => spansOf(spreadBatch(s, batch))
            .join(broadcast(bench), col("h") === col("bh"), "left")
            .groupBy("doc_id")
            .agg(
              count(lit(1)).as("n_spans"),
              sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_hit"))
            .withColumn("overlap_ratio", col("n_hit").cast("double") / col("n_spans")),
          _.orderBy("doc_id"))
      }),

    // pillar similarity + streaming: STREAMING QUANTIZER UPDATE — one
    // Lloyd step per arriving micro-batch through the foreachBatch
    // bridge (mini-batch k-means, the shape that keeps an ANN/SemDeDup
    // quantizer current as a corpus streams in). The staged snapshot
    // arrives as ONE file -> ONE batch, so the result provably equals
    // the batch operator at iters = 1 (the q104/q121 bridge gate: same
    // oracle, the streaming plumbing must not change answers).
    "q130_stream_kmeans_update" -> ((s, dir) =>
      foreachBatchGate(s, "q130") { stage =>
        BatchGate(
          s.readStream.schema(rd(s, dir, "embeddings").schema)
            .parquet(linkInput(stage, dir, "embeddings")),
          (batch, _) => Similarity.trainCentroids(spreadBatch(s, batch), "vec_id", "embedding",
              batch.filter(col("vec_id") < 8).select("vec_id"), iters = 1)
            .select(col("centroid_id"), posexplode(col("cv")).as(Seq("dim", "cval")))
            .select(col("centroid_id"), col("dim").cast("long").as("dim"), col("cval")),
          _.orderBy("centroid_id", "dim"))
      }),

    // pillar events + streaming (12th gate): ORDERED FUNNEL ON A STREAM —
    // q149's signup -> view -> purchase conversion maintained across
    // micro-batches. The funnel is NOT decomposable into per-batch
    // (t1,t2,t3) triples (a later batch's earlier signup can resurrect a
    // view an eager state discarded), so each micro-batch emits the
    // provably-mergeable PRUNED CANDIDATE digest
    // (EventStream.funnelBatchSummary) and the digests merge after the
    // drain — same oracle as q149 for ANY batch split. Unlike the q104
    // doubled-symlink trick, the staged snapshot is genuinely SPLIT into
    // 4 files (maxFilesPerTrigger=1 -> 4 partial batches whose per-user
    // event sets interleave), so the merge proof is what the gate tests.
    "q155_stream_funnel" -> ((s, dir) =>
      foreachBatchGate(s, "q155") { stage =>
        BatchGate(
          eventsSplitStream(s, dir, stage),
          (batch, _) => EventStream.funnelBatchSummary(batch),
          digests => EventStream.funnelStageCounts(
              EventStream.funnelUserStages(digests)
                .localCheckpoint(false)) // three stage counts read one frame
            .orderBy("stage"))
      }),

    // pillar events + streaming (13th gate): COHORT RETENTION ON A
    // STREAM — q150's retention matrix maintained across micro-batches.
    // The digest is each user's distinct week-index SET (bounded by
    // weeks-in-horizon, not event volume); set union is associative,
    // commutative and IDEMPOTENT, so digests merge exactly for any batch
    // split. Staged as a genuine 4-file split (the q155 convention); same
    // oracle as q150.
    "q156_stream_cohort" -> ((s, dir) =>
      foreachBatchGate(s, "q156") { stage =>
        BatchGate(
          eventsSplitStream(s, dir, stage),
          (batch, _) => EventStream.cohortBatchSummary(batch),
          digests => EventStream.cohortRetention(digests).orderBy("cohort_week", "week_offset"))
      }),

    // pillar events + streaming (14th gate): WINDOWED FUNNEL ON A STREAM
    // — q157's 1-day-conversion-window funnel over the q155 digests:
    // windowing is a pure post-map over exact unwindowed stage times
    // (EventStream.funnelWindowed), so the SAME per-batch digests and
    // the same pruning proof serve both gates; only the final merge
    // differs. Staged as the genuine 4-file split; q157's oracle.
    "q158_stream_funnel_window" -> ((s, dir) =>
      foreachBatchGate(s, "q158") { stage =>
        BatchGate(
          eventsSplitStream(s, dir, stage),
          (batch, _) => EventStream.funnelBatchSummary(batch),
          digests => EventStream.funnelStageCounts(
              EventStream.funnelWindowed(
                EventStream.funnelUserStages(digests).localCheckpoint(false),
                FunnelWindowNanos))
            .orderBy("stage"))
      }),

    // pillar events + streaming (15th gate): WATERMARK-BOUNDED FUNNEL —
    // q155's pruned-candidate digest is exact under arbitrary lateness
    // but event-volume-bounded for signup-less users; this gate runs the
    // PRODUCTION state shape instead: per micro-batch, merge the new
    // digest into the running state and prune candidates older than
    // (running max ts - W) that provably cannot matter under the
    // watermark contract (EventStream.funnelStatePruned — the pruning
    // must see the RUNNING t1/horizon; batch-local pruning is unsound,
    // see its scaladoc). The input is staged as 4 TIME-RANGE files with
    // strictly increasing mtimes, so the stream replays history in
    // order (cross-batch lateness 0 <= W) and merge+prune provably
    // equals the exact batch funnel — same oracle as q149/q155. State
    // after every batch is horizon-bounded (EventStreamSpec). Each batch
    // writes the RUNNING state, so the last batch's output is the answer.
    "q163_stream_funnel_watermarked" -> ((s, dir) =>
      foreachBatchGate(s, "q163") { stage =>
        val in = stage.resolve("in")
        s.read.schema(EventStream.eventsSchemaDdl)
          .parquet(s"$dir/events.parquet")
          .repartitionByRange(4, col("ts"))
          .write.mode("overwrite").parquet(in.toString)
        // range partition i lands in part-0000i; pin mtimes 1 s apart in
        // that order so the file source's oldest-first scheduling replays
        // time order deterministically (mtime ties would leave it to
        // listing luck)
        val parts = in.toFile.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val t0 = parts.head.lastModified()
        parts.zipWithIndex.foreach { case (p, i) => p.setLastModified(t0 + i * 1000L) }
        val sink = gateSink(stage)
        val meta = stage.resolve("meta").toString
        BatchGate(
          EventStream.readEventStream(s, in.toString, maxFilesPerTrigger = Some(1)),
          (batch, batchId) => {
            val digest = EventStream.funnelBatchSummary(batch)
            // prev state: stable under an at-least-once retry of THIS batch
            val prev =
              if (batchId == 0) digest.filter(lit(false))
              else s.read.parquet(s"$sink/batch=${batchId - 1}")
            val prevMax =
              if (batchId == 0) batch.select(col("ts")).filter(lit(false))
              else s.read.parquet(s"$meta/batch=${batchId - 1}")
            // running horizon = max ts seen over ALL batches so far - W,
            // as a broadcast 1-row frame (no driver-side collect)
            val seenMax = batch.select(col("ts")).unionByName(prevMax)
              .agg(max(col("ts")).as("ts"))
            seenMax.write.mode("overwrite").parquet(s"$meta/batch=$batchId")
            val horizon1 = s.read.parquet(s"$meta/batch=$batchId")
              .select((col("ts") - FunnelLatenessNanos).as("horizon"))
            EventStream.funnelStatePruned(prev, digest, horizon1)
          },
          _ => {
            val last = new java.io.File(sink).list()
              .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).max
            EventStream.funnelStageCounts(
                EventStream.funnelUserStages(s.read.parquet(s"$sink/batch=$last"))
                  .localCheckpoint(false))
              .orderBy("stage")
          })
      }),

    // 17th streaming gate: CONTAINMENT screen on arrival — each incoming
    // micro-batch asks q175's question (am I an excerpt of a corpus doc)
    // via the stateless foreachBatch bridge over the same static corpus
    // posting list. Per-doc answers depend only on the doc + the static
    // corpus, so the gate shares q175's oracle verbatim.
    "q176_stream_containment_screen" -> ((s, dir) =>
      foreachBatchGate(s, "q176") { stage =>
        val in = stageIncomingDocs(s, dir, stage)
        val corpus = spread(s, rd(s, dir, "documents"))
          .filter(col("doc_id") % IncrementalMod =!= IncrementalMod - 1)
        // the corpus-side screen INDEX (hashed corpus, shingle dictionary,
        // rare-first postings) is built ONCE, eagerly, before the stream
        // starts (round 18 — the q191/q132 persisted-index shape): each
        // micro-batch previously re-shingled and re-indexed the whole
        // static corpus inside its own addBatch, on the streaming session
        // where AQE is force-disabled (r17 verdict item 3's per-batch
        // corpus scan). The index's own hashed-corpus checkpoint is the
        // pre-start barrier (round-12 verdict: the build must not land in
        // batch 0's addBatch), so the old intermediate eager checkpoint
        // of the corpus TEXT is gone — one fewer corpus-sized
        // materialization. Same expressions, same oracle as q175. While
        // the corpus postings fit the Narrow.Postings budget (sf0.01 and
        // sf0.1 do, at any driver heap from 2 GB), the index is a
        // broadcast and each micro-batch is
        // one narrow pass that reads no corpus frame; `eager` then has
        // nothing to pin.
        val index = Dedup.containmentScreenIndex(corpus, "doc_id", "text",
          shingleN = 6, eager = true)
        BatchGate(
          s.readStream.schema(rd(s, dir, "documents").schema).parquet(in),
          (batch, _) => Dedup.incrementalContainmentScreenOnIndex(spreadBatch(s, batch), index,
            "doc_id", "text", shingleN = 6, threshold = 0.7),
          _.orderBy("doc_id"))
      }),

    // pillar dedup + streaming (20th gate): the q190 BOTTOM-K df-capped
    // screen ON ARRIVAL — q176's bridge with the serving-path screen:
    // each micro-batch's docs probe only their k smallest shingle hashes
    // against the static corpus with the df stop cut, so per-batch cost
    // is batch-size-bounded (<= k*dfCap posting rows per doc) instead of
    // prefix-length x head-df. Per-doc answers depend only on the doc
    // and the static corpus, so the bridge provably cannot change them —
    // same oracle as q190.
    "q191_stream_bottomk_screen" -> ((s, dir) =>
      foreachBatchGate(s, "q191") { stage =>
        // genuine 4-file split → 4 micro-batches (the q155 convention);
        // per-doc screen answers are independent of batching, so the
        // split only makes the gate stricter
        val in = stageIncomingDocs(s, dir, stage)
        // the corpus text barriers BEFORE the postings build: without it,
        // creating the postings checkpoint pays seconds of driver-side
        // AQE/codegen work on the exchange-bearing plan (measured 4-7 s
        // at sf0.1 vs 0.1 s barriered)
        val corpus = spread(s, rd(s, dir, "documents"))
          .filter(col("doc_id") % IncrementalMod =!= IncrementalMod - 1)
          .localCheckpoint(true)
        // the corpus-side TERM INDEX is built ONCE before the stream
        // starts — the persisted-index shape: each micro-batch pays only
        // its own bottom-k probes, never the corpus re-shingle (4 genuine
        // batches would otherwise md5-shingle the static corpus 4x).
        // Since round 18 the index is the GROUPED (h, df, posting-list)
        // frame, so a batch touches the corpus side in ONE pass instead
        // of scanning the dictionary and the postings separately (guide
        // §2.4; the two scans were the two heaviest stages of every
        // micro-batch). Checkpoints are EAGER: with lazy ones the entire
        // index build physically ran inside batch 0's addBatch (round-12
        // verdict: 55 s summed addBatch), making the "built once before
        // the stream starts" comment true in count but false in timing.
        // StreamBatch0Spec pins this.
        val index = Dedup.containmentIndex(
            Dedup.containmentPostings(corpus, "doc_id", "text", shingleN = 6))
          .localCheckpoint(true)
        BatchGate(
          s.readStream.schema(rd(s, dir, "documents").schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          (batch, _) => Dedup.bottomKContainmentScreenOnIndex(spreadBatch(s, batch), index,
            "doc_id", "text", shingleN = 6, k = ContainScreenK,
            screenFrac = ContainScreenFrac, dfCap = ContainDfCap),
          _.orderBy("doc_id"))
      }),

    // pillar similarity + streaming (21st gate): IVF ANN SERVING — the
    // online-retrieval shape every production vector store runs: the IVF
    // index (Similarity.ivfIndex, via ivfSqrtIndex) is built ONCE and
    // checkpointed; query vectors arrive in micro-batches and each batch
    // pays only its own ivfTopKOnIndex probe + refine, bounded by
    // probed-bucket sizes — never a corpus-side rebuild. Per-query
    // answers depend only on the query vector and the static corpus +
    // trained centroids, so the bridge provably cannot change them;
    // oracle is q43's chain with the arrival subset as the query
    // predicate.
    "q194_stream_ann_topk" -> ((s, dir) =>
      foreachBatchGate(s, "q194") { stage =>
        val e = rd(s, dir, "embeddings")
        // round 12: the corpus-scaled sqrt-N quantizer + the PERSISTED
        // self-contained index (vectors stored INSIDE the inverted
        // lists — trainedArtifact parquet, the real vector-store shape:
        // the index outlives the serving process; q43/q131/q179 share
        // it, and a micro-batch touches only its probed buckets' rows,
        // never a corpus-side join)
        // eager: both frames only re-read the persisted trainedArtifact
        // parquet, but the checkpoint must still land BEFORE the stream
        // starts so batch 0 pays probes, not the artifact scan
        val cents = sqrtCentroids(s, dir)
          .localCheckpoint(true) // probed every micro-batch
        val index = ivfSqrtIndex(s, dir)
          .localCheckpoint(true) // the IVF index: built once, probed per batch
        val in = stage.resolve("in").toString
        // genuine 4-file split → 4 micro-batches (the q155 convention)
        e.filter(col("vec_id") % 25 === 5)
          .repartition(4).write.mode("overwrite").parquet(in)
        BatchGate(
          s.readStream.schema(e.schema).option("maxFilesPerTrigger", 1).parquet(in),
          (batch, _) => Similarity.ivfTopKOnIndex(spreadBatch(s, batch), index,
            cents, "vec_id", "embedding", k = 3),
          _.orderBy("q_id", "rank"))
      }),

    // pillar multimodal + streaming (16th gate): IMAGE NEAR-DUP SCREEN
    // ON ARRIVAL — q169's hamming band screen driven from the
    // foreachBatch bridge (the q121 shape): each incoming micro-batch's
    // perceptual hashes are screened against the STATIC corpus hash set
    // — the crawl-ingest "is this image already in the training set"
    // check as content lands. Per-doc answers depend only on the doc +
    // the static corpus, so the gate shares q169's oracle verbatim.
    "q171_stream_image_screen" -> ((s, dir) =>
      foreachBatchGate(s, "q171") { stage =>
        val corpus = Multimodal.withContent(
            spread(s, rd(s, dir, "documents"))
              .filter(col("doc_id") % IncrementalMod =!= IncrementalMod - 1), "text")
          .select(col("doc_id"), Multimodal.pseudoDHash(col("content")).as("dhash"))
        // hashed and banded once BEFORE the stream starts, probed by every batch
        val corpusBands = Dedup.hammingBands(corpus, "doc_id", "dhash", bits = 24, numBands = 4)
          .localCheckpoint(true)
        BatchGate(
          s.readStream.schema(rd(s, dir, "documents").schema)
            .parquet(linkInput(stage, dir, "documents"))
            .filter(col("doc_id") % IncrementalMod === IncrementalMod - 1),
          (batch, _) => {
            val inc = Multimodal.withContent(spreadBatch(s, batch), "text")
              .select(col("doc_id"), Multimodal.pseudoDHash(col("content")).as("dhash"))
            Dedup.incrementalHammingScreenOnBands(inc, corpusBands, "doc_id", "dhash",
              bits = 24, maxHamming = 3)
          },
          _.orderBy("doc_id"))
      }),

    // pillar similarity + streaming (22nd gate): INCREMENTAL kNN-GRAPH
    // MAINTENANCE ON ARRIVAL — q203's upsert driven from the foreachBatch
    // bridge: the persisted base graph is materialized ONCE before the
    // stream starts; an arriving vector batch is seeded and folded in with
    // incremental local-join rounds. A graph upsert is a STATEFUL FOLD
    // over the graph (unlike the per-row screens q121/q171/q191, batch
    // boundaries would change which pairs mix), so the arrivals are
    // staged as ONE file -> ONE micro-batch — the q130/q104 bridge
    // convention: single-trigger staging is what makes streaming == batch
    // provable, and the gate shares q203's oracle VERBATIM. A multi-batch
    // ingest is just this gate fired per arrival wave, each wave's output
    // graph persisted as the next wave's base.
    "q204_stream_knn_upsert" -> ((s, dir) =>
      foreachBatchGate(s, "q204") { stage =>
        val in = stage.resolve("in").toString
        val e = rd(s, dir, "embeddings")
        e.crossJoin(broadcast(graphUpsertSplit(e)))
          .filter(col("vec_id") >= col("nbase"))
          .select("vec_id", "embedding")
          .coalesce(1).write.mode("overwrite").parquet(in)
        // the base graph artifact (an O(N·cap²)-per-round build) lands on
        // disk HERE, before the stream starts — batch 0 pays only the
        // upsert (O(batch·cap²)), never the base build (the StreamBatch0
        // rule)
        nndGraphBase(s, dir)
        BatchGate(
          s.readStream.schema(e.select("vec_id", "embedding").schema).parquet(in),
          (batch, _) => upsertIntoBaseGraph(s, dir, spreadBatch(s, batch)),
          _.orderBy("src", "rank"))
      })
  )

  /** Stages the raw events file as a genuine 4-file split under
    * `<stage>/in` and streams it one file per micro-batch (4 partial
    * batches whose per-user event sets interleave). Written in the RAW
    * driver format (physical micros int64, no rescale) so
    * readEventStream's boundary rescale applies once.
    */
  private def eventsSplitStream(s: SparkSession, dir: String, stage: java.nio.file.Path): DataFrame = {
    val in = stage.resolve("in").toString
    s.read.schema(EventStream.eventsSchemaDdl)
      .parquet(s"$dir/events.parquet")
      .repartition(4).write.mode("overwrite").parquet(in)
    EventStream.readEventStream(s, in, maxFilesPerTrigger = Some(1))
  }

  /** Stages the INCOMING documents slice under `<stage>/in` as a small
    * 4-file input and returns that directory (round 18): a symlink of the
    * whole documents.parquet made every micro-batch read the FULL corpus
    * file through ONE task and filter 90% of it away inside the stream —
    * a serialized corpus-sized scan per batch (guide §2.5 input skew).
    * Staging writes the 10% incoming slice once, outside the stream, with
    * AQE on; the source then reads only incoming rows, in parallel.
    */
  private def stageIncomingDocs(s: SparkSession, dir: String, stage: java.nio.file.Path): String = {
    val in = stage.resolve("in").toString
    rd(s, dir, "documents")
      .filter(col("doc_id") % IncrementalMod === IncrementalMod - 1)
      .repartition(4).write.mode("overwrite").parquet(in)
    in
  }

  protected def streamingOracle: Map[String, String] = Map(
    // identical aggregate to q40 — the Spark side differs (streaming engine)
    "q53_events_hourly_stream" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin,

    // 10th streaming gate: same answer as the batch q119 operator — the
    // foreachBatch bridge must not change contamination scores
    "q140_stream_contamination" -> contaminationOracle,

    // the foreachBatch bridge must not change answers: q121 shares q118's
    // oracle verbatim (incremental dedup through the stream == batch)
    "q121_stream_incremental_dedup" -> incrementalDedupOracle,

    // 11th streaming gate: micro-batch register tables max-merge into
    // the identical sketch (max is associative) — same oracle as q133
    "q148_stream_hll_distinct" -> hllOracle,

    // 12th streaming gate: pruned-candidate digests merge to the exact
    // batch funnel for any micro-batch split — same oracle as q149
    "q155_stream_funnel" -> funnelOracle,

    // 15th streaming gate: watermark-bounded incremental state merge ==
    // the exact batch funnel when cross-batch lateness <= W (the staged
    // time-range replay has lateness 0) — same oracle as q149/q155
    "q163_stream_funnel_watermarked" -> funnelOracle,

    // 16th streaming gate: the foreachBatch bridge must not change
    // answers — q171 shares q169's oracle verbatim (screen-on-arrival ==
    // batch screen)
    "q171_stream_image_screen" -> imageScreenOracle,

    // 17th streaming gate: screen-on-arrival == the batch q175 screen
    "q176_stream_containment_screen" -> containScreenOracle,
    // the sum-merged sketch is provably the batch sketch — q181's oracle
    "q182_stream_quantile_sketch" -> binQuantOracle,

    // shared with the batch q129 — the sum-merged micro-batch sketch is
    // provably the batch sketch (bucket sums linear in term counts)
    "q188_stream_cms_topk" -> cmsOracle,

    // shared with the batch q190 — per-doc screen answers depend only on
    // the doc and the static corpus, so the bridge cannot change them
    "q191_stream_bottomk_screen" -> bottomKScreenOracle,

    // q43's oracle chain with the arrival subset as the query predicate —
    // per-query answers depend only on the query vector and the static
    // corpus + centroids, so the bridge cannot change them
    "q194_stream_ann_topk" -> ivfSqrtTopkOracle("id % 25 = 5"),

    // 13th streaming gate: per-user week-set digests union-merge exactly
    // (idempotent, replay-safe) — same oracle as q150
    "q156_stream_cohort" -> cohortOracle,

    // 14th streaming gate: q155's digests + the 1-day-window post-map —
    // same oracle as the batch q157
    "q158_stream_funnel_window" -> funnelWindowOracle,

    "q130_stream_kmeans_update" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv FROM embeddings),
         |kinit AS (SELECT vec_id AS centroid_id, qv AS cv FROM v WHERE vec_id < 8),
         |${lloydCtesSql("v", "kinit", 64, 1, Seq.empty, "c")}
         |SELECT centroid_id, unnest(range(0, 64)) AS dim, unnest(cv) AS cval
         |FROM c ORDER BY centroid_id, dim""".stripMargin,

    "q71_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",

    // same semantics as q81: the foreachBatch bridge must reproduce the
    // batch keep-latest snapshot regardless of micro-batch splits
    "q104_stream_foreach_dedup" ->
      """SELECT event_id, user_id, event_type, tsn, value FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsn, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // same sessionization CTE as q54 but surfaced in session_window's
    // output convention: start = first event (whole seconds), end = last
    // event + gap
    "q84_stream_sessions" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsn, event_id FROM events),
         |l AS (SELECT *, lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM ev),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR tsn - prev > $SessionGapMicros THEN 1 ELSE 0 END AS new_sess FROM l),
         |c AS (SELECT *, (sum(new_sess) OVER (
         |    PARTITION BY user_id ORDER BY tsn, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sess_id FROM f)
         |SELECT user_id,
         |       min(tsn) // 1000000 AS session_start,
         |       (max(tsn) + $SessionGapMicros) // 1000000 AS session_end,
         |       count(*) AS n_events
         |FROM c GROUP BY user_id, sess_id ORDER BY user_id, session_start""".stripMargin,

    "q94_stream_user_totals" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same semantics as the q49 batch range join
    "q95_stream_stream_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS c_tsn FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, epoch_us(ts) AS v_tsn FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, count(*) AS n_prior_views
        |FROM clicks c JOIN views v
        |  ON c.user_id = v.user_id AND v.v_tsn >= c.c_tsn - 3600000000 AND v.v_tsn <= c.c_tsn
        |GROUP BY c.event_id, c.user_id ORDER BY c.event_id""".stripMargin,

    "q90_stream_static_join" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, c_mktsegment,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY hour_epoch, c_mktsegment""".stripMargin
  )
}
