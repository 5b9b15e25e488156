package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, Quota, Similarity, Sketches, TextAnalysis}

/** Registry pillar: event analytics: sessionize, funnel, cohort, as-of/range joins,
  * deltas, rolling windows. Split from SparkEntry.scala
  * (round 8); query semantics and oracle SQL unchanged.
  */
trait EventsRegistry extends RegistryBase {
  protected def eventsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // events: tumbling-window aggregate (batch form of the streaming slice).
    // ts arrives as long nanoseconds (nanosAsLong); integer div keeps the
    // hour bucket exact (double division would lose precision at 1e18).
    "q40_events_hourly" -> ((s, dir) =>
      rd(s, dir, "events")
        .groupBy(
          (expr("ts div 3600000000000") * 3600).as("hour_epoch"),
          col("event_type")
        )
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value")
        )
        .orderBy("hour_epoch", "event_type")),

    // events: RATE-ANOMALY DETECTION — per (event_type, hour), a z-test
    // of the hourly count against the previous 24 CALENDAR hours
    // (RANGE frame over hour_epoch seconds; rows only emit when the
    // baseline is complete, n_base = 24, so a sparse series can't fake a
    // spike off a thin window). The z-test is EXACT integer arithmetic:
    // (x - μ) > z·σ with μ = s/n, σ² = (n·ss - s²)/n² cross-multiplies
    // to dev = n·x - s > 0 ∧ dev² > z²·(n·ss - s²) — all BIGINT, no
    // libm, oracle-exact. The window is per-key time-series work (one
    // hash shuffle on event_type, sorted once); at 100 TB the hourly
    // pre-aggregate is map-side combined so the window sees hours, not
    // events. This is the ops-monitoring twin of q144's source drift.
    "q185_rate_anomaly" -> ((s, dir) => {
      val hours = rd(s, dir, "events")
        .groupBy(col("event_type"),
          (expr("ts div 3600000000000") * 3600).as("hour_epoch"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("hour_epoch")
        .rangeBetween(-86400L, -3600L)
      hours
        .withColumn("n_base", count(lit(1)).over(w))
        .withColumn("base_sum", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .withColumn("base_sumsq",
          coalesce(sum(col("cnt") * col("cnt")).over(w), lit(0L)))
        .filter(col("n_base") === 24)
        .withColumn("dev", col("cnt") * 24 - col("base_sum"))
        .withColumn("is_anomaly",
          col("dev") > 0 &&
            col("dev") * col("dev") >
              lit(9L) * (col("base_sumsq") * 24 - col("base_sum") * col("base_sum")))
        .select("event_type", "hour_epoch", "cnt", "base_sum", "base_sumsq",
          "dev", "is_anomaly")
        .orderBy("event_type", "hour_epoch")
    }),

    // events: backward as-of join — each click matched to the user's most
    // recent view at or before it, through the custom whole-operator
    // surface (LogicalPlan + SparkStrategy + BinaryExecNode; oracle =
    // DuckDB's native ASOF JOIN)
    "q48_events_asof_join" -> ((s, dir) => {
      // micros, not raw nanos: DuckDB truncates TIMESTAMP(NANOS) parquet to
      // microsecond precision on read, so both engines must compare on the
      // same (microsecond) timeline
      val ev = rd(s, dir, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsn"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click").drop("event_type")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "tsn")
        .agg(max(col("event_id")).as("v_event_id"))
      graft.operators.AsofJoin.asofBackward(clicks, views, "user_id", "tsn", Seq("v_event_id"))
        .filter(col("v_event_id").isNotNull) // inner asof semantics
        .select(col("event_id"), col("user_id"), col("v_event_id"), col("asof_tsn").as("v_tsn"))
        .orderBy("event_id")
    }),

    // events: banded range join — views within the hour preceding each click
    "q49_events_range_join" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsn"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tsn").as("c_tsn"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tsn").as("v_tsn"))
      graft.operators.Joins.rangeJoinBackWindow(clicks, views, "user_id", "c_tsn", "v_tsn", 3600000000L)
        .groupBy("event_id", "user_id")
        .agg(count(lit(1)).as("n_prior_views"))
        .orderBy("event_id")
    }),

    // events: per-type distinct users
    "q42_events_user_stats" -> ((s, dir) =>
      rd(s, dir, "events")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")
        )
        .orderBy("event_type")),

    // events: sessionization — gap > 30 min starts a new session. Every
    // window is partitioned by user_id (no global window); the classic
    // lag -> flag -> running-sum plan, one shuffle on the key.
    "q54_events_sessionize" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tsn"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("tsn").asc, col("event_id").asc)
      ev
        .withColumn("prev", lag(col("tsn"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("tsn") - col("prev") > SessionGapMicros, 1L).otherwise(0L))
        .withColumn("sess_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_id")
        .agg(
          min(col("tsn")).as("session_start"),
          max(col("tsn")).as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "sess_id")
    }),

    // events: per-session ordered event-type paths (behavioral sequences
    // — the feature shape session-based models train on). Reuses the q54
    // session assignment; the path is an order-pinned collect.
    "q67_session_paths" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tsn"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("tsn").asc, col("event_id").asc)
      ev
        .withColumn("prev", lag(col("tsn"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("tsn") - col("prev") > SessionGapMicros, 1L).otherwise(0L))
        .withColumn("sess_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_id")
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("tsn"), col("event_id"), col("event_type")))),
              x => x("event_type")),
            ">").as("path"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "sess_id")
    }),

    // events: lag/lead inter-arrival deltas per user — the
    // feature-engineering window shape (both directions in ONE window
    // spec = one shuffle on user_id, one sort)
    "q79_event_deltas" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsn"))
      val w = Window.partitionBy("user_id").orderBy(col("tsn").asc, col("event_id").asc)
      ev
        .withColumn("gap_before", col("tsn") - lag(col("tsn"), 1).over(w))
        .withColumn("gap_after", lead(col("tsn"), 1).over(w) - col("tsn"))
        .orderBy("event_id")
    }),

    // relational: event-time rolling window — per-user trailing-1h count
    // and exact decimal sum via RANGE frame on the microsecond timestamp
    // (the time-based sliding aggregate a rate-limiter/feature pipeline
    // needs; ROWS frames can't express "last hour")
    "q88_rolling_window" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsn"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("tsn"))
        .rangeBetween(-3600000000L, Window.currentRow)
      ev
        .withColumn("roll_n", count(lit(1)).over(w))
        .withColumn("roll_sum", sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
        .select("event_id", "user_id", "tsn", "roll_n", "roll_sum")
        .orderBy("event_id")
    }),

    // pillar events: FUNNEL ANALYSIS — ordered-stage conversion
    // (signup -> first view AFTER signup -> first purchase AFTER that
    // view), the product-analytics staple. Each stage is one filtered
    // min-aggregate equi-joined on user_id to the previous stage's
    // timestamps — no window, no per-user event collection; three
    // map-side-combined shuffles on a key that only grows with users.
    "q149_event_funnel" -> ((s, dir) => {
      val ev = spread(s, rd(s, dir, "events"))
        .select(col("user_id"), col("event_type"), col("ts"))
        .localCheckpoint(false) // feeds all three stage aggregates
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "view").join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_users"))
        .select(lit(1L).as("stage"), lit("signup").as("event_type"), col("n_users"))
        .unionAll(s2.agg(count(lit(1)).as("n_users"))
          .select(lit(2L).as("stage"), lit("view").as("event_type"), col("n_users")))
        .unionAll(s3.agg(count(lit(1)).as("n_users"))
          .select(lit(3L).as("stage"), lit("purchase").as("event_type"), col("n_users")))
        .orderBy("stage")
    }),

    // pillar events: WINDOWED FUNNEL — q149's conversion funnel with a
    // 1-day conversion window per stage (the product-analytics default:
    // a purchase three weeks after the first view is not "conversion").
    // Runs the q155 digest operators on the whole frame: windowing is a
    // pure post-map over exact unwindowed stage times (see
    // EventStream.funnelWindowed), so batch and streaming share one
    // implementation AND one proof.
    "q157_funnel_window" -> ((s, dir) =>
      graft.streaming.EventStream.funnelStageCounts(
        graft.streaming.EventStream.funnelWindowed(
          graft.streaming.EventStream.funnelUserStages(
            graft.streaming.EventStream.funnelBatchSummary(
              spread(s, rd(s, dir, "events"))))
            .localCheckpoint(false), // three stage counts read one frame
          FunnelWindowNanos))
        .orderBy("stage")),

    // pillar events: COHORT RETENTION — users grouped by first-seen
    // week, activity counted per (cohort, week-offset): the retention
    // matrix every growth dashboard draws. Distinct (user, week) rows
    // join the tiny per-user cohort frame; week indices derive from the
    // SAME integer epoch-floor on both engines (q133's day-index trick).
    "q150_cohort_retention" -> ((s, dir) => {
      val ev = spread(s, rd(s, dir, "events"))
        .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
        .localCheckpoint(false) // feeds the cohort min AND the activity matrix
      val uw = ev.distinct()
      val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      uw.join(first, Seq("user_id"))
        .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort_week", "week_offset")
    }),

    // pillar events: MARKOV NEXT-EVENT TRANSITIONS — the first-order
    // behavioral model behind next-action prediction and session
    // simulation: P(to_type | from_type) over consecutive within-session
    // event pairs. Session membership needs NO second shuffle: a pair is
    // within-session iff its gap <= the q54 session gap, so lead() over
    // the SAME (user_id) window that sessionize uses decides it — one
    // shuffle on user_id, then the transition matrix is a map-side-
    // combined aggregate on a (|types| x |types|)-sized key space and
    // the row-normalizer is a window over that tiny frame. Probabilities
    // divide two exact BIGINTs (deterministic IEEE on both engines).
    "q193_markov_transitions" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tsn"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("tsn").asc, col("event_id").asc)
      val wf = Window.partitionBy("from_type")
      ev
        .withColumn("next_tsn", lead(col("tsn"), 1).over(w))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_tsn").isNotNull &&
          col("next_tsn") - col("tsn") <= SessionGapMicros)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_trans"))
        .withColumn("n_from", sum(col("n_trans")).over(wf))
        .withColumn("p_trans", col("n_trans").cast("double") / col("n_from").cast("double"))
        .orderBy("from_type", "to_type")
    })
  )

  protected def eventsOracle: Map[String, String] = Map(
    "q40_events_hourly" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin,

    "q42_events_user_stats" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q49_events_range_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS c_tsn FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, epoch_us(ts) AS v_tsn FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, count(*) AS n_prior_views
        |FROM clicks c JOIN views v
        |  ON c.user_id = v.user_id AND v.v_tsn >= c.c_tsn - 3600000000 AND v.v_tsn <= c.c_tsn
        |GROUP BY c.event_id, c.user_id ORDER BY c.event_id""".stripMargin,

    "q48_events_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsn FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, epoch_us(ts) AS tsn, max(event_id) AS v_event_id
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts))
        |SELECT c.event_id, c.user_id, v.v_event_id, v.tsn AS v_tsn
        |FROM clicks c ASOF JOIN views v ON c.user_id = v.user_id AND c.tsn >= v.tsn
        |ORDER BY c.event_id""".stripMargin,

    "q54_events_sessionize" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsn, event_id FROM events),
         |l AS (SELECT *, lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM ev),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR tsn - prev > $SessionGapMicros THEN 1 ELSE 0 END AS new_sess FROM l),
         |c AS (SELECT *, (sum(new_sess) OVER (
         |    PARTITION BY user_id ORDER BY tsn, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sess_id FROM f)
         |SELECT user_id, sess_id, min(tsn) AS session_start, max(tsn) AS session_end, count(*) AS n_events
         |FROM c GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,

    "q67_session_paths" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsn, event_id, event_type FROM events),
         |l AS (SELECT *, lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM ev),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR tsn - prev > $SessionGapMicros THEN 1 ELSE 0 END AS new_sess FROM l),
         |c AS (SELECT *, (sum(new_sess) OVER (
         |    PARTITION BY user_id ORDER BY tsn, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sess_id FROM f)
         |SELECT user_id, sess_id,
         |       string_agg(event_type, '>' ORDER BY tsn, event_id) AS path,
         |       count(*) AS n_events
         |FROM c GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,

    // same RANGE frame over hour_epoch seconds; DuckDB sum() over BIGINT
    // widens to HUGEINT, so every windowed sum is cast back before the
    // integer z-test algebra
    "q185_rate_anomaly" ->
      """WITH h AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
        |                  count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, hour_epoch, cnt,
        |        count(*) OVER w AS n_base,
        |        coalesce(sum(cnt) OVER w, 0)::BIGINT AS base_sum,
        |        coalesce(sum(cnt * cnt) OVER w, 0)::BIGINT AS base_sumsq
        |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch
        |                          RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))
        |SELECT event_type, hour_epoch, cnt, base_sum, base_sumsq,
        |       24 * cnt - base_sum AS dev,
        |       (24 * cnt - base_sum > 0 AND
        |        (24 * cnt - base_sum) * (24 * cnt - base_sum) >
        |          9 * (24 * base_sumsq - base_sum * base_sum)) AS is_anomaly
        |FROM b WHERE n_base = 24 ORDER BY event_type, hour_epoch""".stripMargin,

    // shared with the streaming q155 gate — see RegistryBase.funnelOracle
    "q149_event_funnel" -> funnelOracle,

    // shared with the streaming q158 gate — see RegistryBase.funnelWindowOracle
    "q157_funnel_window" -> funnelWindowOracle,

    // shared with the streaming q156 gate — see RegistryBase.cohortOracle
    "q150_cohort_retention" -> cohortOracle,

    "q79_event_deltas" ->
      """SELECT event_id, user_id, epoch_us(ts) AS tsn,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_before,
        |       lead(epoch_us(ts), 1) OVER w - epoch_us(ts) AS gap_after
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
        |ORDER BY event_id""".stripMargin,

    "q88_rolling_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS tsn,
        |       (count(*) OVER w)::BIGINT AS roll_n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS roll_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // within-session iff gap <= the q54 session gap; probabilities are
    // exact-BIGINT ratios (deterministic IEEE division on both engines)
    "q193_markov_transitions" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsn, event_id, event_type FROM events),
         |l AS (SELECT *,
         |        lead(tsn) OVER w AS next_tsn,
         |        lead(event_type) OVER w AS to_type
         |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsn ASC, event_id ASC)),
         |t AS (SELECT event_type AS from_type, to_type, count(*) AS n_trans
         |      FROM l WHERE next_tsn IS NOT NULL AND next_tsn - tsn <= $SessionGapMicros
         |      GROUP BY 1, 2)
         |SELECT from_type, to_type, n_trans,
         |       (sum(n_trans) OVER (PARTITION BY from_type))::BIGINT AS n_from,
         |       n_trans::DOUBLE / (sum(n_trans) OVER (PARTITION BY from_type))::DOUBLE AS p_trans
         |FROM t ORDER BY from_type, to_type""".stripMargin
  )
}
