package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOf, RangeJoin, Sequences, Sessions}
import graft.plans.AsOfExec

import Fixtures._
import Oracle._

/** Event-time analytics: as-of, range and interval joins, sequences,
  * funnels, cohorts, sessions, churn, Markov chains, survival and
  * time-series anomalies. */
object TemporalQueries {
  val defs: Seq[QueryDef] = Seq(
    // ---- sequence-dataset construction: per-user "history → next
    //      event" training examples (bounded ROWS frame, one key
    //      shuffle — the sequential-recommender dataset builder) ----
    QueryDef("event_sequences", (s, dir) => {
      // driver-surface discipline: the operator returns a real
      // ARRAY<STRING> context for engine callers, but the harness's
      // pandas canonicalizer can't sort raw arrays — serialize it
      // deterministically at the query surface (VERDICT r8 #1)
      Sequences.nextEventExamples(eventsWithTsUtc(s, dir), "user_id",
          "ts_utc", "event_id", "event_type", contextLen = 3)
        .select(col("user_id"), col("target_id"),
          array_join(col("context"), "|").as("context"),
          col("n_context"), col("target"))
        .orderBy("user_id", "target_id")
    },
    // bounded-frame window replay; list() keeps frame order in DuckDB;
    // context serialized ('|'-joined) so the harness canonicalizer can
    // sort/hash it — the raw-array form broke pandas in r8
    Sql(
      """SELECT user_id, event_id AS target_id,
        |  array_to_string(context, '|') AS context,
        |  len(context) AS n_context, event_type AS target
        |FROM (
        |  SELECT user_id, event_id, event_type,
        |    list(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS context
        |  FROM events)
        |WHERE len(context) >= 1
        |ORDER BY user_id, target_id""".stripMargin)),

    // ---- the bucketed hot-key form of event_sequences — output-
    //      identical (same oracle SQL), but every window over the
    //      EVENT relation partitions by (user, day-bucket), so a
    //      dominant key can't serialize its timeline through one sort
    //      task; cross-bucket context rides the bounded per-bucket
    //      summary relation (Sequences.nextEventExamplesBucketed) ----
    QueryDef("event_sequences_bucketed", (s, dir) => {
      Sequences.nextEventExamplesBucketed(eventsWithTsUtc(s, dir),
          "user_id", "ts_utc", "event_id", "event_type",
          contextLen = 3, bucketSeconds = 86400L)
        .select(col("user_id"), col("target_id"),
          array_join(col("context"), "|").as("context"),
          col("n_context"), col("target"))
        .orderBy("user_id", "target_id")
    },
    // the bucketed hot-key form is output-identical to its key-window twin
    SameAs("event_sequences")),

    // ---- as-of join (click→purchase attribution): every purchase
    //      attaches the user's most recent at-or-before click, via the
    //      union-window form (ONE key shuffle, no inequality-join pair
    //      explosion — AsOf.scala); the oracle is DuckDB's REAL
    //      ASOF LEFT JOIN, so the window formulation is checked
    //      against a native as-of implementation ----
    QueryDef("asof_join", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      // the as-of contract: right side unique per (key, ts)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_utc")
        .agg(max("event_id").as("click_id"))
        .select(col("user_id"), col("ts_utc").as("click_ts"),
          col("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_utc")
      AsOf.joinAsOf(purchases, clicks, Seq("user_id"), "ts_utc",
          "click_ts", Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          col("asof_click_id").as("click_id"),
          (unix_micros(col("ts_utc")) -
            unix_micros(col("asof_click_ts"))).as("lag_us"))
        .orderBy("event_id")
    },
    // DuckDB's native ASOF LEFT JOIN is the oracle for the union-window
    // as-of formulation; right side pre-deduped to unique (key, ts)
    Sql(
      """WITH clk AS (
        |  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |pur AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, c.click_id,
        |  epoch_us(p.ts) - epoch_us(c.click_ts) AS lag_us
        |FROM pur p ASOF LEFT JOIN clk c
        |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
        |ORDER BY p.event_id""".stripMargin)),

    // ---- FORWARD as-of (next purchase at or after each click) —
    //      backward-as-of delegated on negated micros; oracle is
    //      DuckDB's native ASOF with the <= inequality ----
    QueryDef("asof_join_forward", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts_utc")
        .agg(max("event_id").as("purchase_id"))
        .select(col("user_id"),
          unix_micros(col("ts_utc")).as("p_ts_us"), col("purchase_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("ts_us"))
      AsOf.joinAsOfForward(clicks, purchases, Seq("user_id"),
          "ts_us", "p_ts_us", Seq("purchase_id", "p_ts_us"))
        .select(col("event_id"), col("user_id"),
          col("asof_purchase_id").as("purchase_id"),
          (col("asof_p_ts_us") - col("ts_us")).as("lead_us"))
        .orderBy("event_id")
    },
    // forward direction: DuckDB ASOF with <= (first at-or-after)
    Sql(
      """WITH pur AS (
        |  SELECT user_id, ts AS p_ts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |clk AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, p.purchase_id,
        |  epoch_us(p.p_ts) - epoch_us(c.ts) AS lead_us
        |FROM clk c ASOF LEFT JOIN pur p
        |  ON c.user_id = p.user_id AND c.ts <= p.p_ts
        |ORDER BY c.event_id""".stripMargin)),

    // ---- the forward as-of through the SAME custom node (negated-
    //      tick rewrite below the node, original ticks re-emitted
    //      above it) — output-identical to asof_join_forward, same
    //      native DuckDB ASOF oracle ----
    QueryDef("asof_join_forward_exec", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts_utc")
        .agg(max("event_id").as("purchase_id"))
        .select(col("user_id"),
          unix_micros(col("ts_utc")).as("ts_us"), col("purchase_id"),
          unix_micros(col("ts_utc")).as("p_ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("ts_us"))
      AsOfExec.joinAsOfForwardExec(clicks, purchases, "user_id",
          "ts_us", Seq("purchase_id", "p_ts_us"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          (col("p_ts_us") - col("ts_us")).as("lead_us"))
        .orderBy("event_id")
    },
    // the custom physical node must equal the plain forward as-of
    SameAs("asof_join_forward")),

    // ---- the SAME as-of contract through the CUSTOM physical node
    //      (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec): declared
    //      ClusteredDistribution + (key, ts) child ordering, one
    //      co-partitioning exchange per side, per-partition sorted
    //      merge with O(1) state — no union, no window machinery ----
    QueryDef("asof_join_exec", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_utc")
        .agg(max("event_id").as("click_id"))
        .select(col("user_id"),
          unix_micros(col("ts_utc")).as("ts_us"),
          col("click_id"),
          unix_micros(col("ts_utc")).as("click_ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("ts_us"))
      AsOfExec.joinAsOfExec(purchases, clicks, "user_id", "ts_us",
          Seq("click_id", "click_ts_us"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          (col("ts_us") - col("click_ts_us")).as("lag_us"))
        .orderBy("event_id")
    },
    // the custom physical node must equal the plain as-of contract
    SameAs("asof_join")),

    // ---- the SAME attribution through the time-BUCKETED as-of form
    //      (hot-key posture: row-level work partitions by (key,
    //      1h-bucket), cross-bucket state carried on a bucket-bounded
    //      relation — AsOf.joinAsOfBucketed). Output-identical to
    //      asof_join by construction; same native ASOF oracle. ----
    QueryDef("asof_join_bucketed", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_utc")
        .agg(max("event_id").as("click_id"))
        .select(col("user_id"), col("ts_utc").as("click_ts"),
          col("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_utc")
      AsOf.joinAsOfBucketed(purchases, clicks, Seq("user_id"), "ts_utc",
          "click_ts", Seq("click_id"), bucketWidth = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"),
          col("asof_click_id").as("click_id"),
          (unix_micros(col("ts_utc")) -
            unix_micros(col("asof_click_ts"))).as("lag_us"))
        .orderBy("event_id")
    },
    // bucketed as-of must equal the plain as-of
    SameAs("asof_join")),

    // ---- bucketed range join (outage attribution): each view event
    //      matched to the 10-minute windows opened by the user's error
    //      events, via timeline-bucketed equi-join (RangeJoin.scala —
    //      candidates bounded by interval density per bucket, never by
    //      key popularity); oracle = the plain inequality join ----
    QueryDef("range_join_bucketed", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("ts_us"))
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("start_us"),
          (unix_micros(col("ts_utc")) + lit(600L * 1000000L)).as("end_us"))
      RangeJoin.pointInInterval(views, windows, Seq("user_id"),
          "ts_us", "start_us", "end_us", bucketWidth = 600L * 1000000L)
        .groupBy("event_id", "user_id")
        .agg(count(lit(1)).as("n_windows"), min("error_id").as("first_error_id"))
        .orderBy("event_id")
    },
    // the bucketed equi-join must equal the plain inequality join
    Sql(
      """WITH v AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'view'),
        |w AS (
        |  SELECT event_id AS error_id, user_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + 600000000 AS e_us
        |  FROM events WHERE event_type = 'error')
        |SELECT v.event_id, v.user_id, count(*) AS n_windows,
        |  min(w.error_id) AS first_error_id
        |FROM v JOIN w ON v.user_id = w.user_id
        |  AND v.ts_us >= w.s_us AND v.ts_us < w.e_us
        |GROUP BY 1, 2 ORDER BY v.event_id""".stripMargin)),

    // ---- interval OVERLAP join (error windows × view windows per
    //      user): bucketed timeline candidates with the OWNER-BUCKET
    //      rule — each overlapping pair emits from exactly one bucket
    //      (the first common one), so no distinct/dedup shuffle ----
    QueryDef("interval_overlap", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("e_start"),
          (unix_micros(col("ts_utc")) + lit(600L * 1000000L)).as("e_end"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("v_start"),
          (unix_micros(col("ts_utc")) + lit(300L * 1000000L)).as("v_end"))
      RangeJoin.intervalOverlap(errors, views, Seq("user_id"),
          "e_start", "e_end", "v_start", "v_end",
          bucketWidth = 600L * 1000000L)
        .select(col("user_id"), col("error_id"), col("view_id"),
          (least(col("e_end"), col("v_end")) -
            greatest(col("e_start"), col("v_start"))).as("overlap_us"))
        .orderBy("user_id", "error_id", "view_id")
    },
    // half-open overlap predicate; the bucketed owner rule must equal
    // the plain inequality join exactly
    Sql(
      """WITH er AS (
        |  SELECT event_id AS error_id, user_id, epoch_us(ts) AS e_s,
        |    epoch_us(ts) + 600000000 AS e_e
        |  FROM events WHERE event_type = 'error'),
        |vw AS (
        |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_s,
        |    epoch_us(ts) + 300000000 AS v_e
        |  FROM events WHERE event_type = 'view')
        |SELECT e.user_id, e.error_id, v.view_id,
        |  least(e.e_e, v.v_e) - greatest(e.e_s, v.v_s) AS overlap_us
        |FROM er e JOIN vw v ON e.user_id = v.user_id
        |  AND e.e_s < v.v_e AND v.v_s < e.e_e
        |ORDER BY e.user_id, error_id, view_id""".stripMargin)),

    // ---- per-day funnel conversion (click → purchase within 1 h,
    //      same user): clicks become [ts, ts+1h) intervals, purchases
    //      points, matched by the BUCKETED range join (time-local
    //      shuffle key — no per-user pair explosion), converted
    //      clicks collapse through a distinct + semi-join ----
    QueryDef("funnel_conversion", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_timestamp(col("ts_utc")).as("c_start"),
          (unix_timestamp(col("ts_utc")) + 3600L).as("c_end"),
          date_trunc("day", col("ts_utc")).as("day"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts_utc")).as("p_ts"))
      val converted = RangeJoin.pointInInterval(purchases, clicks,
          Seq("user_id"), "p_ts", "c_start", "c_end", bucketWidth = 3600L)
        .select("click_id").distinct()
      val conv = clicks.join(converted, Seq("click_id"), "left_semi")
        .groupBy("day").agg(count(lit(1)).as("n_converted"))
      clicks.groupBy("day").agg(count(lit(1)).as("n_clicks"))
        .join(conv, Seq("day"), "left")
        .na.fill(0L, Seq("n_converted"))
        .withColumn("rate", round(
          col("n_converted").cast("double") / col("n_clicks"), 6))
        .select("day", "n_clicks", "n_converted", "rate")
        .orderBy("day")
    },
    // inclusive-start exclusive-end attribution window, seconds ticks
    Sql(
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch(ts)::BIGINT AS c_start,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, epoch(ts)::BIGINT AS p_ts FROM events
        |  WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT DISTINCT c.click_id, c.day
        |  FROM clicks c JOIN purch p ON p.user_id = c.user_id
        |    AND p.p_ts >= c.c_start AND p.p_ts < c.c_start + 3600),
        |tot AS (SELECT day, count(*) AS n_clicks FROM clicks GROUP BY 1),
        |cv AS (SELECT day, count(*) AS n_converted FROM conv GROUP BY 1)
        |SELECT tot.day, tot.n_clicks,
        |  coalesce(cv.n_converted, 0) AS n_converted,
        |  round(CAST(coalesce(cv.n_converted, 0) AS DOUBLE) /
        |    tot.n_clicks, 6) AS rate
        |FROM tot LEFT JOIN cv USING (day)
        |ORDER BY day""".stripMargin)),

    // ---- event-time tumbling window aggregation (streaming-capable
    //      shape). ts arrives either as TIMESTAMP(NANOS) — which
    //      Tables.load surfaces as a nanos-since-epoch long — or as a
    //      plain parquet TIMESTAMP (the r6 testdata regeneration);
    //      handle both. ----
    QueryDef("q11_window_agg", (s, dir) => {
      eventsWithTsUtc(s, dir)
        .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }, Sql(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),

    // ---- gap-based batch sessionization with the two-level bucketed
    //      prefix (per-(key, day-bucket) windows + a bounded summary
    //      carry) — no window ever partitions the EVENT relation by
    //      key alone, so a hot key spreads across its buckets ----
    QueryDef("sessionize_batch", (s, dir) =>
      Sessions.sessionize(eventsWithTsUtc(s, dir), "user_id", "ts_utc",
          "event_id", gapSeconds = 14400L, bucketSeconds = 86400L)
        .orderBy("user_id", "session_id"),
    // reference definition: whole-key lag + running boundary sum (the
    // window form the bucketed operator refuses to run at scale)
    Sql(
      """WITH f AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 14400000000
        |      THEN 1 ELSE 0 END AS flag
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY 1, 2
        |ORDER BY user_id, session_id""".stripMargin)),

    QueryDef("q13_cohort", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val firsts = ev.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts_utc"))).as("cohort_week"))
      val sizes = firsts.groupBy("cohort_week")
        .agg(count(lit(1)).as("cohort_n"))
      val active = ev.select(col("user_id"),
          date_trunc("week", col("ts_utc")).as("week")).distinct()
      active.join(firsts, "user_id")
        .withColumn("week_offset",
          (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .join(sizes, "cohort_week")
        .withColumn("retention", round(
          col("n_users").cast("double") / col("cohort_n"), 6))
        .select("cohort_week", "week_offset", "n_users", "cohort_n",
          "retention")
        .orderBy("cohort_week", "week_offset")
    }, Sql(
      """WITH firsts AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        |  FROM events GROUP BY 1),
        |sizes AS (
        |  SELECT cohort_week, count(*) AS cohort_n FROM firsts GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        |  FROM events),
        |ret AS (
        |  SELECT f.cohort_week,
        |    CAST(datediff('day', f.cohort_week, a.week) / 7 AS INT)
        |      AS week_offset,
        |    count(DISTINCT a.user_id) AS n_users
        |  FROM active a JOIN firsts f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT r.cohort_week, r.week_offset, r.n_users, s.cohort_n,
        |  round(CAST(r.n_users AS DOUBLE) / s.cohort_n, 6) AS retention
        |FROM ret r JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    // ---- churn labeling — ML target construction from the event
    //      log: a churn gap is >14 days between a user's consecutive
    //      events; the final event is right-censored against the
    //      corpus max timestamp. Per-user windows over bounded
    //      timelines (the Sequences posture) ----
    QueryDef("churn_labels", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val horizonS = 14L * 86400L
      val w = Window.partitionBy("user_id").orderBy("ts_utc", "event_id")
      val maxTs = broadcast(ev.agg(max("ts_utc").as("corpus_max")))
      ev.withColumn("next_ts", lead(col("ts_utc"), 1).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(unix_timestamp(col("next_ts")) -
            unix_timestamp(col("ts_utc")) > horizonS, 1L)
            .otherwise(0L)).as("n_churn_gaps"),
          max("ts_utc").as("last_ts"))
        .crossJoin(maxTs)
        .withColumn("final_churned",
          unix_timestamp(col("corpus_max")) -
            unix_timestamp(col("last_ts")) > horizonS)
        .select("user_id", "n_events", "n_churn_gaps", "last_ts",
          "final_churned")
        .orderBy("user_id")
    },
    // lead-per-user gaps; final event right-censored vs corpus max
    Sql(
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_ts
        |  FROM events),
        |m AS (SELECT max(ts) AS corpus_max FROM events)
    |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN (epoch_us(next_ts) // 1000000)
        |    - (epoch_us(ts) // 1000000) > 1209600 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churn_gaps,
        |  max(ts) AS last_ts,
        |  (epoch_us((SELECT corpus_max FROM m)) // 1000000)
        |    - (epoch_us(max(ts)) // 1000000) > 1209600
        |    AS final_churned
        |FROM g GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // ---- churn_labels with the bucketed next-event posture — output-
    //      identical (same oracle SQL); the per-user lead(1) rides
    //      (user, day-bucket) windows plus the bounded bucket-summary
    //      carry (Sequences.nextEventBucketed) ----
    QueryDef("churn_labels_bucketed", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val horizonS = 14L * 86400L
      val maxTs = broadcast(ev.agg(max("ts_utc").as("corpus_max")))
      Sequences.nextEventBucketed(ev, "user_id", "ts_utc", "event_id",
          Seq("ts_utc"), bucketSeconds = 86400L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(unix_timestamp(col("next_ts_utc")) -
            unix_timestamp(col("ts_utc")) > horizonS, 1L)
            .otherwise(0L)).as("n_churn_gaps"),
          max("ts_utc").as("last_ts"))
        .crossJoin(maxTs)
        .withColumn("final_churned",
          unix_timestamp(col("corpus_max")) -
            unix_timestamp(col("last_ts")) > horizonS)
        .select("user_id", "n_events", "n_churn_gaps", "last_ts",
          "final_churned")
        .orderBy("user_id")
    },
    // the bucketed hot-key form is output-identical to its key-window twin
    SameAs("churn_labels")),

    // ---- first-touch vs last-touch attribution over a 24 h lookback
    //      (the marketing dual of funnel_conversion): clicks land in
    //      per-purchase lookback intervals via the bucketed range
    //      join; per purchase, min/max click ts decide whether the
    //      two attribution models disagree ----
    QueryDef("attribution_compare", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"),
          unix_timestamp(col("ts_utc")).as("cts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (unix_timestamp(col("ts_utc")) - 86400L).as("p_start"),
          (unix_timestamp(col("ts_utc")) + 1L).as("p_end"),
          date_trunc("day", col("ts_utc")).as("day"))
      val touched = RangeJoin.pointInInterval(clicks, purchases,
          Seq("user_id"), "cts", "p_start", "p_end",
          bucketWidth = 86400L)
        .groupBy("purchase_id", "day")
        .agg(count(lit(1)).as("n_touches"),
          min("cts").as("first_touch"), max("cts").as("last_touch"))
      touched.groupBy("day")
        .agg(count(lit(1)).as("n_attributed"),
          sum(when(col("first_touch") =!= col("last_touch"), 1L)
            .otherwise(0L)).as("n_model_disagree"),
          sum(when(col("n_touches") > 1L, 1L).otherwise(0L))
            .as("n_multi_touch"))
        .withColumn("pct_disagree", round(
          col("n_model_disagree").cast("double") / col("n_attributed"),
          6))
        .orderBy("day")
    },
    // plain inequality join stands in for the bucketed range join;
    // second-resolution ticks as in the Spark plan
    Sql(
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS cts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    (epoch_us(ts) // 1000000) - 86400 AS p_start,
        |    (epoch_us(ts) // 1000000) + 1 AS p_end,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events WHERE event_type = 'purchase'),
        |touched AS (
        |  SELECT p.purchase_id, p.day, count(*) AS n_touches,
        |    min(c.cts) AS first_touch, max(c.cts) AS last_touch
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.cts >= p.p_start AND c.cts < p.p_end
        |  GROUP BY 1, 2)
        |SELECT day, count(*) AS n_attributed,
        |  CAST(sum(CASE WHEN first_touch <> last_touch THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_model_disagree,
        |  CAST(sum(CASE WHEN n_touches > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_multi_touch,
        |  round(CAST(sum(CASE WHEN first_touch <> last_touch THEN 1
        |    ELSE 0 END) AS DOUBLE) / count(*), 6) AS pct_disagree
        |FROM touched GROUP BY day
        |ORDER BY day""".stripMargin)),

    // ---- first-order Markov transition matrix over per-user event
    //      sequences: P(next | current) from one lag window per user
    //      (the Sequences posture: per-user timelines are bounded) and
    //      a row-normalized count relation — the behavioral statistic
    //      a sequential recommender sanity-checks against ----
    QueryDef("event_transitions", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val w = Window.partitionBy("user_id").orderBy("ts_utc", "event_id")
      val pairs = ev
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur"),
          col("next_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
      val rowTotals = pairs.groupBy("cur").agg(sum("n").as("row_n"))
      pairs.join(rowTotals, "cur")
        .select(col("cur"), col("nxt"), col("n"),
          round(col("n").cast("double") / col("row_n"), 6).as("p"))
        .orderBy("cur", "nxt")
    },
    // same lead-per-user stream; marginals derive from the bounded
    // pair-count relation
    Sql(
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pairs AS (
        |  SELECT cur, nxt, count(*) AS n FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT cur, CAST(sum(n) AS BIGINT) AS row_n
        |  FROM pairs GROUP BY 1)
        |SELECT p.cur, p.nxt, p.n,
        |  round(CAST(p.n AS DOUBLE) / t.row_n, 6) AS p
        |FROM pairs p JOIN tot t USING (cur)
        |ORDER BY cur, nxt""".stripMargin)),

    // ---- event_transitions with the bucketed next-event posture —
    //      output-identical (same oracle SQL) ----
    QueryDef("event_transitions_bucketed", (s, dir) => {
      val pairs = Sequences.nextEventBucketed(eventsWithTsUtc(s, dir),
          "user_id", "ts_utc", "event_id", Seq("event_type"),
          bucketSeconds = 86400L)
        .filter(col("next_event_type").isNotNull)
        .groupBy(col("event_type").as("cur"),
          col("next_event_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
      val rowTotals = pairs.groupBy("cur").agg(sum("n").as("row_n"))
      pairs.join(rowTotals, "cur")
        .select(col("cur"), col("nxt"), col("n"),
          round(col("n").cast("double") / col("row_n"), 6).as("p"))
        .orderBy("cur", "nxt")
    },
    // the bucketed hot-key form is output-identical to its key-window twin
    SameAs("event_transitions")),

    // ---- 3-step strict-order funnel (view → click → purchase, each
    //      step within 24 h): the bucketed as-of operator composed
    //      TWICE — nearest prior view per click, nearest qualified
    //      click per purchase; "nearest within window" ≡ "any within
    //      window" because as-of returns the max prior ts ----
    QueryDef("funnel_steps", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_utc").as("vts"))
        .agg(max("event_id").as("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_utc").as("cts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_utc").as("pts"))
      val dayUs = 86400L * 1000000L
      val qc = AsOf.joinAsOfBucketed(clicks, views, Seq("user_id"),
          "cts", "vts", Seq("view_id"), dayUs)
        .filter(col("asof_vts").isNotNull &&
          unix_micros(col("cts")) - unix_micros(col("asof_vts"))
            <= dayUs)
        .groupBy(col("user_id"), col("cts"))
        .agg(max("click_id").as("click_id"))
      AsOf.joinAsOfBucketed(purchases, qc, Seq("user_id"),
          "pts", "cts", Seq("click_id"), dayUs)
        .filter(col("asof_cts").isNotNull &&
          unix_micros(col("pts")) - unix_micros(col("asof_cts"))
            <= dayUs)
        .groupBy(date_trunc("day", col("pts")).as("day"))
        .agg(count(lit(1)).as("n_funnels"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("day")
    },
    // DuckDB's native ASOF twice, with the same within-window filter
    // and the same unique-right pre-aggregations
    Sql(
      """WITH v AS (
        |  SELECT user_id, ts AS vts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |qc AS (
        |  SELECT c.user_id, c.cts, max(c.click_id) AS click_id
        |  FROM c ASOF LEFT JOIN v
        |    ON c.user_id = v.user_id AND c.cts >= v.vts
        |  WHERE v.vts IS NOT NULL
        |    AND epoch_us(c.cts) - epoch_us(v.vts) <= 86400000000
        |  GROUP BY 1, 2),
        |fp AS (
        |  SELECT p.purchase_id, p.user_id, p.pts
        |  FROM p ASOF LEFT JOIN qc
        |    ON p.user_id = qc.user_id AND p.pts >= qc.cts
        |  WHERE qc.cts IS NOT NULL
        |    AND epoch_us(p.pts) - epoch_us(qc.cts) <= 86400000000)
        |SELECT CAST(date_trunc('day', pts) AS TIMESTAMP) AS day,
        |  count(*) AS n_funnels,
        |  count(DISTINCT user_id) AS n_users
        |FROM fp GROUP BY 1
        |ORDER BY day""".stripMargin)),

    // ---- daily event-count anomalies: trailing-7-day z-score per
    //      event type. The window runs over the BOUNDED (type × day)
    //      daily-count relation, never raw events; variance derives
    //      from integer window sums (s1, s2) so both engines compute
    //      the identical double expression ----
    QueryDef("events_anomaly", (s, dir) => {
      val daily = eventsWithTsUtc(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts_utc")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      daily
        .withColumn("n7", count(col("c")).over(w))
        .withColumn("s1", sum(col("c")).over(w))
        .withColumn("s2", sum(col("c") * col("c")).over(w))
        .filter(col("n7") === 7)
        .withColumn("mean", col("s1").cast("double") / 7.0)
        .withColumn("sd", sqrt(
          (col("s2").cast("double") - col("s1").cast("double") *
            col("s1") / 7.0) / 6.0))
        .withColumn("z", when(col("sd") > 0.0,
          round((col("c").cast("double") - col("mean")) / col("sd"), 6)))
        .select(col("event_type"), col("day"), col("c"),
          round(col("mean"), 6).as("mean7"), col("z"),
          coalesce(abs(col("z")) > 2.0, lit(false)).as("is_anomaly"))
        .orderBy("event_type", "day")
    }, Sql(
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, day, c,
        |    count(c) OVER w AS n7,
        |    CAST(sum(c) OVER w AS BIGINT) AS s1,
        |    CAST(sum(c * c) OVER w AS BIGINT) AS s2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |sc AS (
        |  SELECT event_type, day, c,
        |    CAST(s1 AS DOUBLE) / 7.0 AS mean,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / 7.0)
        |      / 6.0) AS sd
        |  FROM win WHERE n7 = 7)
        |SELECT event_type, day, c, round(mean, 6) AS mean7,
        |  CASE WHEN sd > 0.0
        |    THEN round((CAST(c AS DOUBLE) - mean) / sd, 6) END AS z,
        |  coalesce(abs(CASE WHEN sd > 0.0
        |    THEN round((CAST(c AS DOUBLE) - mean) / sd, 6) END) > 2.0,
        |    false) AS is_anomaly
        |FROM sc
        |ORDER BY event_type, day""".stripMargin)),

    // ---- day-of-week SEASONAL anomaly baseline: the trailing-window
    //      z-score (events_anomaly) misfires on weekly rhythm — here
    //      each (type, day) scores against its own (type, DOW) cohort
    //      (mean/σ from integer sums over the bounded daily relation),
    //      the standard seasonal-naive residual ----
    QueryDef("events_anomaly_dow", (s, dir) => {
      val daily = eventsWithTsUtc(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts_utc")).as("day"))
        .agg(count(lit(1)).as("c"))
        // 0=Sunday..6=Saturday on both engines
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      val stats = daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum("c").as("s1"),
          sum(col("c") * col("c")).as("s2"))
        .filter(col("n") >= 3)
      daily.join(stats, Seq("event_type", "dow"))
        .withColumn("mean_dow",
          col("s1").cast("double") / col("n"))
        .withColumn("sd", sqrt(greatest(lit(0.0),
          (col("s2").cast("double") - col("s1").cast("double") *
            col("s1") / col("n")) / (col("n") - 1))))
        .withColumn("z", when(col("sd") > 0.0,
          round((col("c").cast("double") - col("mean_dow")) /
            col("sd"), 6)))
        .select(col("event_type"), col("day"), col("dow"), col("c"),
          round(col("mean_dow"), 6).as("mean_dow"), col("z"),
          coalesce(abs(col("z")) > 2.0, lit(false)).as("is_anomaly"))
        .orderBy("event_type", "day")
    },
    // trailing-7-row integer sums (s1, s2) -> identical double math
    // same integer-sum variance discipline as events_anomaly, cohorts
    // keyed by (type, dow); date_part('dow') is 0=Sunday, matching
    // Spark's dayofweek - 1
    Sql(
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |dd AS (
        |  SELECT event_type, day, c,
        |    CAST(date_part('dow', day) AS BIGINT) AS dow
        |  FROM daily),
        |stats AS (
        |  SELECT event_type, dow, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1,
        |    CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM dd GROUP BY 1, 2 HAVING count(*) >= 3),
        |sc AS (
        |  SELECT d.event_type, d.day, d.dow, d.c,
        |    CAST(s1 AS DOUBLE) / n AS mean_dow,
        |    sqrt(greatest(0.0, (CAST(s2 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))) AS sd
        |  FROM dd d JOIN stats s USING (event_type, dow))
        |SELECT event_type, day, dow, c,
        |  round(mean_dow, 6) AS mean_dow,
        |  CASE WHEN sd > 0.0 THEN round((CAST(c AS DOUBLE) - mean_dow)
        |    / sd, 6) END AS z,
        |  coalesce(abs(CASE WHEN sd > 0.0 THEN
        |    round((CAST(c AS DOUBLE) - mean_dow) / sd, 6) END) > 2.0,
        |    false) AS is_anomaly
        |FROM sc
        |ORDER BY event_type, day""".stripMargin)),

    // ---- stationary distribution of the event-transition Markov
    //      chain (the long-run behavioral mix event_transitions
    //      implies): 8 power-iteration steps from uniform over the
    //      |types|²-BOUNDED transition relation — a bounded collect +
    //      driver fold (the histogram_equidepth precedent), with the
    //      oracle replaying all 8 steps in chained CTEs ----
    QueryDef("markov_stationary", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy("ts_utc", "event_id")
      val pairs = eventsWithTsUtc(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur"),
          col("next_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
      val rows = pairs.collect() // bounded: |types|² rows
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val states = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
      val totals = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum)
      val p = rows.map { case (a, b, n) =>
        (a, b) -> n.toDouble / totals(a) }.toMap
      var x: Seq[Double] = states.toSeq.map(_ => 1.0 / states.length)
      for (_ <- 1 to 8) {
        x = states.toSeq.map { j =>
          // fold in sorted state order — deterministic double sums
          states.zip(x).map { case (i, xi) =>
            xi * p.getOrElse((i, j), 0.0) }.sum
        }
      }
      states.zip(x).map { case (st, pi) =>
        (st, BigDecimal(pi).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.toDF("state", "pi").orderBy("state")
    },
    // 8 power-iteration steps replayed in chained MATERIALIZED CTEs
    // (the TextRank discipline); sums span <= |types| products, far
    // below the 6-dp rounding
    Sql {
      val steps = (1 to 8).map { i =>
        s"""s$i AS MATERIALIZED (
           |  SELECT s.st, coalesce(sum(x0.x * p.p), 0.0) AS x
           |  FROM states s
           |  LEFT JOIN p ON p.nxt = s.st
           |  LEFT JOIN s${i - 1} x0 ON x0.st = p.cur
           |  GROUP BY s.st)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS (
         |  SELECT event_type AS cur,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS nxt
         |  FROM events),
         |pairs AS (
         |  SELECT cur, nxt, count(*) AS n FROM seq
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |tot AS (
         |  SELECT cur, CAST(sum(n) AS BIGINT) AS rn
         |  FROM pairs GROUP BY 1),
         |p AS MATERIALIZED (
         |  SELECT pairs.cur, pairs.nxt, CAST(n AS DOUBLE) / rn AS p
         |  FROM pairs JOIN tot USING (cur)),
         |states AS MATERIALIZED (
         |  SELECT cur AS st FROM pairs
         |  UNION SELECT nxt FROM pairs),
         |s0 AS MATERIALIZED (
         |  SELECT st, 1.0 / (SELECT count(*) FROM states) AS x
         |  FROM states),
         |$steps
         |SELECT st AS state, round(x, 6) AS pi FROM s8
         |ORDER BY state""".stripMargin
    }),

    // ---- Kaplan–Meier survival over user lifetimes (Kaplan & Meier
    //      1958) — churn_labels' censoring rule turned into the full
    //      survival curve: lifetime = HOURS between a user's first and
    //      last event; users quiet for >6 h at corpus end are observed
    //      churn EVENTS, the rest are right-CENSORED (they may still
    //      be active). S(t) = Π (1 − d_u/n_u) over event hours u ≤ t,
    //      computed as exp(Σ ln) through an ordered cumulative window
    //      over the BOUNDED per-hour relation (hours, never users) ----
    QueryDef("survival_km", (s, dir) => {
      val ev = eventsWithTsUtc(s, dir)
      val horizonS = 6L * 3600L
      val maxTs = broadcast(ev.agg(max("ts_utc").as("corpus_max")))
      val users = ev.groupBy("user_id")
        .agg(min("ts_utc").as("first_ts"), max("ts_utc").as("last_ts"))
        .crossJoin(maxTs)
        .select(col("user_id"),
          ((unix_timestamp(col("last_ts")) -
            unix_timestamp(col("first_ts"))) / 3600L).cast("long")
            .as("t"),
          (unix_timestamp(col("corpus_max")) -
            unix_timestamp(col("last_ts")) > horizonS).as("churned"))
      val byDay = users.groupBy("t")
        .agg(count(lit(1)).as("n_end"),
          sum(col("churned").cast("long")).as("d"))
      val totals = broadcast(users.agg(count(lit(1)).as("n_total")))
      val w = Window.orderBy("t")
      byDay.crossJoin(totals)
        .withColumn("ended_before", coalesce(sum("n_end")
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_at_risk", col("n_total") - col("ended_before"))
        .withColumn("lnterm", when(col("d") > 0L,
          log(lit(1.0) - col("d").cast("double") / col("n_at_risk")))
          .otherwise(lit(0.0)))
        .withColumn("survival", exp(sum("lnterm")
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow))))
        .filter(col("d") > 0L)
        .select(col("t").as("t_hour"), col("n_at_risk"),
          col("d").as("n_events"), round(col("survival"), 6)
            .as("survival"))
        .orderBy("t_hour")
    },
    // same censoring rule as churn_labels; the cumulative exp(Σ ln)
    // fold runs in t order over the bounded per-day relation on both
    // engines
    Sql(
      """WITH m AS (SELECT max(ts) AS corpus_max FROM events),
        |users AS (
        |  SELECT user_id,
        |    ((epoch_us(max(ts)) // 1000000) -
        |     (epoch_us(min(ts)) // 1000000)) // 3600 AS t,
        |    (epoch_us((SELECT corpus_max FROM m)) // 1000000) -
        |      (epoch_us(max(ts)) // 1000000) > 21600 AS churned
        |  FROM events GROUP BY user_id),
        |byday AS (
        |  SELECT t, count(*) AS n_end,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d
        |  FROM users GROUP BY t),
    |tot AS (SELECT count(*) AS n_total FROM users),
        |ar AS (
        |  SELECT t, d,
        |    n_total - coalesce(sum(n_end) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_at_risk
        |  FROM byday, tot),
        |km AS (
        |  SELECT t, d, n_at_risk,
        |    sum(CASE WHEN d > 0 THEN ln(1.0 - CAST(d AS DOUBLE) /
        |      n_at_risk) ELSE 0.0 END) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS lnsum
        |  FROM ar)
        |SELECT t AS t_hour, CAST(n_at_risk AS BIGINT) AS n_at_risk,
        |  d AS n_events, round(exp(lnsum), 6) AS survival
        |FROM km WHERE d > 0
        |ORDER BY t_hour""".stripMargin)),

    // ---- per-type volume TREND: closed-form OLS slope of daily
    //      counts vs epoch day over the bounded (type, day) relation —
    //      the "is this source growing or dying" curation monitor.
    //      Every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT, so
    //      slope/intercept/r² are identical doubles in both engines ----
    QueryDef("event_trend", (s, dir) => {
      val daily = eventsWithTsUtc(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts_utc")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("x", (unix_timestamp(col("day")) / 86400L)
          .cast("long"))
      val agg = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("c").as("sy"),
        sum(col("x") * col("c")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("c") * col("c")).as("sy2"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val den = (col("n") * col("sx2") - col("sx") * col("sx"))
        .cast("double")
      val deny = (col("n") * col("sy2") - col("sy") * col("sy"))
        .cast("double")
      val slope = num / den
      agg.select(col("event_type"), col("n").as("n_days"),
          when(col("n") > 1L && den > 0.0, round(slope, 6))
            .as("slope_per_day"),
          when(col("n") > 1L && den > 0.0, round(
            (col("sy").cast("double") - slope * col("sx")) /
              col("n"), 6)).as("intercept"),
          when(col("n") > 1L && den > 0.0 && deny > 0.0,
            round(num * num / (den * deny), 6)).as("r2"))
        .orderBy("event_type")
    },
    // every OLS moment is an exact BIGINT; the final projections are
    // identical double expressions on both engines
    Sql(
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |dx AS (
        |  SELECT event_type, epoch_us(day) // 86400000000 AS x, c
        |  FROM daily),
        |a AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum(x * c) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sx2,
        |    CAST(sum(c * c) AS BIGINT) AS sy2
        |  FROM dx GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  CASE WHEN n > 1 AND CAST(n * sx2 - sx * sx AS DOUBLE) > 0
        |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      CAST(n * sx2 - sx * sx AS DOUBLE), 6) END AS slope_per_day,
        |  CASE WHEN n > 1 AND CAST(n * sx2 - sx * sx AS DOUBLE) > 0
        |    THEN round((CAST(sy AS DOUBLE) -
        |      (CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sx2 - sx * sx AS DOUBLE)) * sx) / n, 6)
        |    END AS intercept,
        |  CASE WHEN n > 1 AND CAST(n * sx2 - sx * sx AS DOUBLE) > 0
        |      AND CAST(n * sy2 - sy * sy AS DOUBLE) > 0
        |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE) *
        |      CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (CAST(n * sx2 - sx * sx AS DOUBLE) *
        |       CAST(n * sy2 - sy * sy AS DOUBLE)), 6) END AS r2
        |FROM a ORDER BY event_type""".stripMargin))
  )
}
