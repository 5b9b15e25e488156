package graft

/** Physical-plan audit over EVERY registered query: the scale paths must
  * not contain a cartesian (CartesianProduct / BroadcastNestedLoopJoin).
  * Queries that are DOCUMENTED brute-force baselines or small-dimension
  * coarse phases are allowlisted explicitly — anything new that
  * introduces an all-pairs plan fails this spec.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries allowed to contain a nested-loop/cartesian join, and why:
    *   - q05/q07/q09: SURVEY §2 ops 4-6 ARE pair generation (30 queries
    *     broadcast against a 200-row ref slice) — the operator under test.
    *   - q34: the documented brute-force cosine top-k baseline the IVF
    *     path (q43) exists to beat.
    *   - q35/q43/q46: IVF coarse phase scores every vector against the
    *     (tiny, broadcast) centroid set by definition.
    *   - q74: joins the token-df table against a broadcast ONE-ROW corpus
    *     total (the distributed alternative to a driver-side count) —
    *     a 1-row nested-loop broadcast, not an all-pairs plan.
    *   - q97: same 1-row-broadcast-total shape as q74 (percent-of-total
    *     against the aggregated segment frame).
    *   - q58: same 1-row-broadcast-total shape (corpus size for the
    *     tf*N/df score, replacing a driver-side count()).
    *   - q105: deliberate pair generation (40 long needles x 9 docs)
    *     whose POINT is scoring every pair through the DP path — the
    *     operator under test, same class as q05/q09.
    * The matcher's queries (q10/q11/q50) are not listed: their refs fit
    * the narrow regime here, which plans no pair join
    * (HeurFuzz.matchTable); its cross join runs only past the budget.
    */
  private val allowlist = Set(
    "q05_pair_coverage", "q07_pair_topk", "q09_fuzzy_score",
    "q34_embed_cosine_topk", "q35_embed_ivf_assign", "q43_embed_ivf_topk",
    // q123/q124: k-means training + IVF-PQ scores every vector against
    // the broadcast centroid set per Lloyd/assign step — same class
    "q123_kmeans_train", "q124_ivfpq_residual_topk",
    // q131: IVF index vs exhaustive-truth audit — runs BOTH the q43 and
    // q34 scoring passes by definition
    "q131_ann_quality_report",
    // q205: the routing verdict aggregates the q131 serving-vs-truth
    // comparison, so it inherits the same two scoring passes
    "q205_ann_serving_route",
    // q125: the per-lang plan table joins the broadcast ONE-ROW
    // (n_tot, sum_w) aggregate — the q74/q97 1-row-broadcast-total
    // shape, not an all-pairs plan
    "q125_lang_upsample_epochs",
    // q128: same 1-row-broadcast shape (the bucket-width aggregate)
    "q128_sequence_packing",
    // q189: the L-sweep over q128's layout inherits the same 1-row
    // bucket-width broadcast stage
    "q189_packing_sweep",
    // q166: the one-plan composite inherits q128's 1-row bucket-width
    // broadcast stage
    "q166_tokenize_pack_shard",
    // q165/q167: the 1-row broadcast fallback-label aggregate (min
    // lang) — the q74/q97 1-row-broadcast-total shape
    "q165_langid_trigram", "q167_langid_confusion",
    // q137/q139: the 1-row corpus-stats aggregate (n_docs/avgdl, total
    // token count) joins as a broadcast nested loop by definition —
    // the q74/q97 1-row-broadcast-total shape, not an all-pairs plan
    "q137_bm25_topk", "q139_pmi_collocations", "q144_source_drift",
    // q177: the q137 candidate stage inside the rerank composite carries
    // the same 1-row corpus-stats broadcast
    "q177_retrieve_rerank",
    // q179: q43's class (every vector vs the broadcast centroid set)
    "q179_ivf_filtered_topk",
    // q180: inherits BOTH the q137 1-row corpus-stats broadcast and the
    // q43 broadcast-centroid scoring
    "q180_hybrid_rrf",
    // q145: the 3-row quantile-target frame nested-loops the TINY
    // distinct-value histogram (cum >= target) — bounded frames only
    "q145_exact_quantiles",
    // q147: each config row crossJoins the 1-row truth-total aggregate
    // (the q74/q97 1-row-broadcast-total shape)
    "q147_lsh_tuning_audit",
    // q183: q147's audit shape — the per-k rows crossJoin the 1-row
    // containment-truth total
    "q183_containment_screen_audit",
    // q195: the (anchor, positive) pairs crossJoin the 1-row corpus-size
    // aggregate for the mod-N draw (the q74/q97 1-row-broadcast-total
    // shape, not an all-pairs plan)
    "q195_contrastive_negatives",
    // q196: the band-audit's exact-truth pass is a brute-force cross
    // join BY DESIGN (the q147/q154/q170/q183 audit class — sample
    // scale), plus the 1-row corpus-size broadcast for the recall
    // denominator
    "q196_srp_band_audit",
    // q141/q143: q123's class — the 1-row sample-rate broadcast plus the
    // every-vector-vs-broadcast-centroid-set Lloyd/assign scoring
    "q141_doc_cluster_assign", "q143_cluster_balanced_sample",
    "q46_dedup_embed_cosine",
    "q60_embed_centroid_update", "q74_boilerplate_strip", "q97_revenue_share",
    "q58_tfidf_top_terms", "q105_scorer_long_needle",
    // q117: same corpus-scaled IVF coarse phase as q46 (every vector vs
    // the broadcast centroid set + the 1-row broadcast k total)
    "q117_semdedup",
    // q159: q137's 1-row corpus-stats broadcast, twice — the selective-
    // term gate ALSO crossJoins n_docs onto the tiny (query term, df)
    // frame before the postings join (the q74/q97 shape, not all-pairs)
    "q159_bm25_selective"
  )

  // q52 runs its propagation loop eagerly (actions inside the builder),
  // q53/q71 run streaming queries, and q77 writes bucketed tables — all
  // execute work inside the builder, too heavy for a plan string check
  // here; their plans are exercised by the correctness gate (and q77 by
  // BucketedJoinSpec).
  private val skipped = Set(
    "q52_dedup_groups", "q53_events_hourly_stream", "q71_stream_dedup",
    "q77_bucketed_join", "q84_stream_sessions", "q104_stream_foreach_dedup",
    // q121/q130 run streams, q122 runs the q52-style propagation loop —
    // all execute work inside the builder
    "q121_stream_incremental_dedup", "q122_semdedup_groups",
    // q132 writes the bucketed signature table inside the builder (q77's
    // staging pattern); BucketedJoinSpec pins its no-corpus-exchange plan
    "q130_stream_kmeans_update", "q132_persisted_sig_dedup",
    // q140 runs its stream inside the builder (q121's bridge pattern)
    "q140_stream_contamination",
    // q146 runs the q52-style propagation loop inside the builder
    "q146_winnowing_groups",
    // q148 runs its stream inside the builder (q121's bridge pattern)
    "q148_stream_hll_distinct",
    // q192 runs the q52-style propagation loop inside the builder
    "q192_mutual_knn_groups")

  private val dir = "/root/testdata/sf0.001"

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
       if !allowlist.contains(name) && !skipped.contains(name)) {
    test(s"$name: no cartesian in the physical plan") {
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(
        !plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"unexpected all-pairs join in $name:\n$plan"
      )
    }
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q89 SCD2: one key shuffle feeds both window passes (sort reused)") {
    // change detection (lag) and interval assembly (row_number/lead)
    // share partitioning and sort order — the build must plan exactly one
    // hash exchange; the only other exchange is the final orderBy's range
    // partitioning
    val p = plan("q89_scd2_history")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("q88 rolling window: one shuffle, RANGE frame (no self-join rewrite)") {
    val p = plan("q88_rolling_window")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("RangeFrame"), p)
    assert(!p.contains("Join"), s"time-window rolling agg degraded to a join:\n$p")
  }

  test("q87 repetition signals: top-bigram argmax uses WindowGroupLimit pushdown") {
    val p = plan("q87_repetition_signals")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q91 keep-best: narrow argmax is one broadcast join (no window)") {
    // q91's pair list fits the Narrow.Pairs budget: the argmax ran on
    // the driver and reaches the plan as one broadcast local relation
    val p = plan("q91_dedup_keep_best")
    assert(p.contains("BroadcastHashJoin") && p.contains("LocalTableScan"), p)
    assert(!p.contains("Window"), s"narrow keep-best planned a window:\n$p")
  }

  test("q91 keep-best: per-group argmax uses WindowGroupLimit pushdown") {
    // past the Narrow.Pairs budget the argmax is per group on the
    // executors; pinned on q91's inputs with the shuffle regime forced
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = graft.operators.Dedup.nearDuplicates(docs, "doc_id", "text",
      shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4)
    val shuffle = org.apache.spark.sql.graft.Narrow.withBudget(0)(
        graft.operators.Dedup.keepBest(docs, "doc_id", pairs, "n_chars"))
      .queryExecution.executedPlan.toString
    assert(shuffle.contains("WindowGroupLimit"), shuffle)
  }

  test("q109 PQ encode: argmin folds into the aggregate (no window), codebook broadcast") {
    val p = plan("q109_pq_encode")
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"PQ argmin degraded to a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"codebook join not broadcast:\n$p")
  }

  test("q110 PQ ADC: LUT joins broadcast; top-k uses WindowGroupLimit pushdown") {
    val p = plan("q110_pq_adc_topk")
    assert(p.contains("BroadcastHashJoin"), s"LUT join not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q136 bloom audit: bloom words and exact bench set both join broadcast") {
    // the 100 TB story: the 2048-word bloom (and the exact set it is
    // audited against) ship to every span partition as broadcasts — a
    // shuffle on the corpus-span side here would defeat the prefilter
    val p = plan("q136_bloom_decontaminate")
    assert(countOf(p, "BroadcastHashJoin") >= 2, s"bloom/bench join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus spans shuffled into a merge join:\n$p")
  }

  test("q137 BM25: query terms broadcast onto postings; top-k uses WindowGroupLimit") {
    val p = plan("q137_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), s"query-term join not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank<=k not pushed into WindowGroupLimit:\n$p")
  }

  test("q138 substring removal: no per-char explode — one span scan, per-doc fold") {
    // the removal must ride the q108 span shuffle + a per-doc aggregate()
    // fold; a per-char explode/join (the oracle's formulation) would be
    // |corpus| * |doc| rows on the Spark side
    val p = plan("q138_substring_removal")
    assert(countOf(p, "Generate") <= 1, s"more than the one span posexplode:\n$p")
  }

  test("q149/q150 events analytics: aggregates + key joins, no windows") {
    // funnel stages and the retention matrix must stay min-aggregate +
    // user_id equi-join shaped — a window formulation would drag every
    // user's events through per-user sort state
    for (name <- Seq("q149_event_funnel", "q150_cohort_retention")) {
      val p = plan(name)
      assert(!p.contains("WindowExec") && !p.contains("WindowGroupLimit"),
        s"events analytics degraded to a window in $name:\n$p")
    }
  }

  test("q144 source drift: per-source totals broadcast onto the obs join") {
    val p = plan("q144_source_drift")
    assert(p.contains("BroadcastHashJoin"), s"per-source join not broadcast:\n$p")
  }

  test("q112 source mix: the per-source quota table joins broadcast") {
    val p = plan("q112_source_mix_sample")
    assert(p.contains("BroadcastHashJoin"), s"quota join not broadcast:\n$p")
  }

  test("q112/q92: per-row window partitions on (group, bucket), never group alone") {
    // the Quota rewrite's point: the corpus-wide rank/running-sum window
    // must carry the order-preserving bucket in its partition spec —
    // partitionBy(source|lang) alone serializes each group through one
    // task. (The bucket-cutoff window partitions on the group alone by
    // design, but it runs over the tiny per-bucket aggregate, whose
    // input is an Aggregate node, not corpus rows.)
    for (name <- Seq("q112_source_mix_sample", "q92_token_budget")) {
      val p = plan(name)
      val winSpecs = """windowspecdefinition\(([^)]*?), [^,)]*? (?:ASC|DESC)""".r
        .findAllMatchIn(p).map(_.group(1)).toList
      assert(winSpecs.nonEmpty, s"no window found in $name:\n$p")
      val perRow = winSpecs.filter(s => s.contains("__bkt"))
      assert(perRow.nonEmpty,
        s"$name: no window partitioned on (group, __bkt) — per-row work is single-task-per-group:\n$p")
    }
  }

  test("q160 proximity: occurrence self-join carries the position band in its keys") {
    val p = plan("q160_proximity_search")
    // the anchor x occurrence pairing must equi-join on (phrase, doc,
    // __probe) — a bare (phrase, doc) key materializes n_occ^2 pairs per
    // document before the window filter, quadratic in per-doc term
    // occurrences on a head-term-dense long document
    val probeKeyed = """(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*__probe#""".r
    assert(probeKeyed.findFirstIn(p).nonEmpty,
      s"q160's occ self-join is not banded on pos div K:\n$p")
  }

  test("q100 edit-distance join: candidates keyed on segment CONTENT, not length alone") {
    val p = plan("q100_edit_distance_join")
    // the main candidate join must carry the segment text in its keys —
    // a join keyed on length alone keeps whole same-length classes as
    // candidates and goes quadratic at scale
    val segKeyed = """(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*seg#""".r
    assert(segKeyed.findFirstIn(p).nonEmpty,
      s"no equi-join keyed on segment content in q100:\n$p")
  }
}
