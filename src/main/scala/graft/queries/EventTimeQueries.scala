package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup, Relational, Windowing}

/** Event-time windowing coverage over the `events` table (SURVEY §2.10):
  * tumbling/sliding/session/calendar windows, event-time dedup, latest,
  * and time-series gap filling. The same `window()`/`session_window()`
  * expressions run unchanged on a streaming DataFrame (tested in
  * StreamingSpec); the batch form here is what the DuckDB oracle can
  * verify.
  *
  * Oracle convention: window bounds are emitted as epoch seconds
  * (BIGINT) so cross-engine timestamp precision/timezone differences
  * can't perturb the hash.
  */
object EventTimeQueries {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)

  def queries: Seq[Q] = Seq(

    // ===== Step-funnel conversion — the product-analytics funnel
    // (first view → first click within 72 h of it → first purchase
    // within 72 h of that), with per-step conversion rates. Scale
    // shape: ONE fact scan and ONE shuffle — the three step times are
    // chained window-mins over the SAME user partition (each step's
    // predicate references the previous step's time, so the windows
    // stack on one Exchange + sort), then a global partial-aggregated
    // 1-row rollup. The textbook form self-joins the fact once per
    // step — O(steps) scans this plan never pays. All times compare
    // in epoch MICROSECONDS (BIGINT) and rates emit in integer basis
    // points via `div`, so nothing floats across engines.
    Q("agg_funnel_steps",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        val h72 = 259200000000L // 72 h in µs
        ev(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_type"))
          .withColumn("t1",
            min(when(col("event_type") === "view", col("tus"))).over(w))
          .withColumn("t2",
            min(when(col("event_type") === "click" &&
              col("tus") >= col("t1") && col("tus") <= col("t1") + h72,
              col("tus"))).over(w))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" &&
              col("tus") >= col("t2") && col("tus") <= col("t2") + h72,
              col("tus"))).over(w))
          .agg(
            countDistinct(col("user_id")).as("n_users"),
            countDistinct(when(col("t1").isNotNull, col("user_id")))
              .as("n_view"),
            countDistinct(when(col("t2").isNotNull, col("user_id")))
              .as("n_click"),
            countDistinct(when(col("t3").isNotNull, col("user_id")))
              .as("n_purchase"))
          .select(col("n_users"), col("n_view"), col("n_click"),
            col("n_purchase"),
            // the global agg emits its one row even over EMPTY input
            // (unlike grouped bp queries, whose groups imply rows), so
            // each rate guards its denominator — ANSI div throws on 0
            expr("CASE WHEN n_users > 0 THEN n_view * 10000 div n_users END")
              .as("view_bp"),
            expr("CASE WHEN n_view > 0 THEN n_click * 10000 div n_view END")
              .as("click_of_view_bp"),
            expr("CASE WHEN n_click > 0 " +
              "THEN n_purchase * 10000 div n_click END")
              .as("purchase_of_click_bp"))
      },
      Some("""WITH b AS (SELECT user_id, epoch_us(ts) AS tus, event_type
          FROM events),
        s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tus END)
            OVER (PARTITION BY user_id) AS t1 FROM b),
        s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND tus >= t1
              AND tus <= t1 + 259200000000 THEN tus END)
            OVER (PARTITION BY user_id) AS t2 FROM s1),
        s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND tus >= t2
              AND tus <= t2 + 259200000000 THEN tus END)
            OVER (PARTITION BY user_id) AS t3 FROM s2),
        agg AS (SELECT
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
            CAST(count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)
              AS BIGINT) AS n_view,
            CAST(count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)
              AS BIGINT) AS n_click,
            CAST(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)
              AS BIGINT) AS n_purchase
          FROM s3)
        SELECT n_users, n_view, n_click, n_purchase,
          CAST(CASE WHEN n_users > 0
            THEN n_view * 10000 // n_users END AS BIGINT) AS view_bp,
          CAST(CASE WHEN n_view > 0
            THEN n_click * 10000 // n_view END AS BIGINT)
            AS click_of_view_bp,
          CAST(CASE WHEN n_click > 0
            THEN n_purchase * 10000 // n_click END AS BIGINT)
            AS purchase_of_click_bp
        FROM agg""")),

    // Beam FixedWindows (windowing/FixedWindows.java:38)
    Q("win_tumbling",
      (s, d) => Windowing.tumbling(ev(s, d), "ts", "1 hour", col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(Windowing.windowStartSec(col("window")).as("win_start"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
        event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2""")),

    // Beam FixedWindows.withOffset (windowing/FixedWindows.java:60):
    // hourly windows anchored at :15 past the hour. Oracle shifts the
    // epoch by the offset before flooring, then shifts back.
    Q("win_tumbling_offset",
      (s, d) => Windowing.tumblingOffset(ev(s, d), "ts", "1 hour",
          "15 minutes", col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(Windowing.windowStartSec(col("window")).as("win_start"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""SELECT CAST(floor((epoch(ts) - 900) / 3600) * 3600 + 900 AS BIGINT) AS win_start,
        event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2""")),

    // Beam SlidingWindows (windowing/SlidingWindows.java:42): each event
    // belongs to size/slide = 2 windows.
    Q("win_sliding",
      (s, d) => Windowing.sliding(ev(s, d), "ts", "10 minutes", "5 minutes")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .select(Windowing.windowStartSec(col("window")).as("win_start"),
          col("n"), col("n_users")),
      Some("""SELECT (CAST(floor(epoch(ts) / 300) AS BIGINT) - o.i) * 300 AS win_start,
        count(*) AS n, count(DISTINCT user_id) AS n_users
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) o
        GROUP BY 1""")),

    // Beam Sessions (windowing/Sessions.java:42): gap-merged per-key
    // windows; window = [min_ts, max_ts + gap). Oracle reconstructs the
    // merge with a lag/cumsum session-id assignment.
    Q("win_session",
      (s, d) => Windowing.sessions(ev(s, d), "ts", "30 minutes", col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(col("user_id"),
          Windowing.windowStartSec(col("session_window")).as("sess_start"),
          Windowing.windowEndSec(col("session_window")).as("sess_end"),
          col("n"), col("sum_value")),
      Some("""WITH g AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), se AS (
          SELECT user_id, ts, value,
            sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
        SELECT user_id,
          CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
          CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS sess_end,
          count(*) AS n, round(sum(value), 4) AS sum_value
        FROM se GROUP BY user_id, sid""")),

    // Beam Sessions.withGapAttribute — DYNAMIC per-row gap (the data
    // decides how long a session stays open: clicks hold it 30 min,
    // everything else 10). session_window takes the gap as an
    // EXPRESSION; the oracle rebuilds the merge with a running max of
    // per-row window ends (a session break happens when a row starts
    // at-or-after every previous row's reach).
    Q("win_session_dynamic_gap",
      (s, d) => {
        val gap = when(col("event_type") === "click", "30 minutes")
          .otherwise("10 minutes")
        ev(s, d).groupBy(session_window(col("ts"), gap), col("user_id"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
          .select(col("user_id"),
            unix_timestamp(col("session_window.start")).as("sess_start"),
            col("n"), col("sum_value"))
      },
      Some("""WITH g AS (
          SELECT user_id, ts, value,
            epoch(ts) + CASE WHEN event_type = 'click'
                             THEN 1800 ELSE 600 END AS reach,
            CASE WHEN max(epoch(ts) + CASE WHEN event_type = 'click'
                        THEN 1800 ELSE 600 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
                 OR epoch(ts) >= max(epoch(ts) + CASE WHEN event_type = 'click'
                        THEN 1800 ELSE 600 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 THEN 1 ELSE 0 END AS brk
          FROM events
        ), se AS (
          SELECT user_id, ts, value,
            sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
        SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
          count(*) AS n, round(sum(value), 4) AS sum_value
        FROM se GROUP BY user_id, sid""")),

    // Beam CalendarWindows.months (variable-length units — the case
    // window() cannot express at all).
    Q("win_calendar_month",
      (s, d) => Windowing.calendar(ev(s, d), "ts", "month")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(unix_timestamp(col("window_start")).as("month_start"),
          col("n"), col("sum_value")),
      Some("""SELECT CAST(floor(epoch(date_trunc('month', ts))) AS BIGINT)
          AS month_start,
        count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1"""), timed = false),

    // Beam CalendarWindows (windowing/CalendarWindows.java:47) — window()
    // can't express variable-length calendar units; date_trunc keys can.
    Q("win_calendar_day",
      (s, d) => Windowing.calendar(ev(s, d), "ts", "day")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .select(unix_timestamp(col("window_start")).as("day_start"),
          col("n"), col("n_users")),
      Some("""SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_start,
        count(*) AS n, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1"""), timed = false),

    // CalendarWindows.weeks / .years (windowing/CalendarWindows.java:47
    // exposes days/weeks/months/years as first-class factories):
    // date_trunc handles the variable-length units; both engines use
    // Monday-start ISO weeks.
    Q("win_calendar_week",
      (s, d) => Windowing.calendar(ev(s, d), "ts", "week")
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .select(unix_timestamp(col("window_start")).as("week_start"),
          col("n"), col("avg_value")),
      Some("""SELECT CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT)
          AS week_start,
        count(*) AS n, round(avg(value), 4) AS avg_value
        FROM events GROUP BY 1"""), timed = false),

    Q("win_calendar_year",
      (s, d) => Windowing.calendar(ev(s, d), "ts", "year")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .select(unix_timestamp(col("window_start")).as("year_start"),
          col("n"), col("n_users")),
      Some("""SELECT CAST(floor(epoch(date_trunc('year', ts))) AS BIGINT)
          AS year_start,
        count(*) AS n, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1"""), timed = false),

    // Nexmark Q5 "hot items" (reference: sdks/java/testing/nexmark/
    // .../queries/Query5.java — highest-count auction per sliding
    // window): the per-window argmax over a sliding-window count.
    // Deterministic tie-break on event_type.
    Q("win_hot_items",
      (s, d) => {
        val counts = Windowing.sliding(ev(s, d), "ts", "10 minutes",
            "5 minutes", col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("window"))
          .orderBy(col("n").desc, col("event_type").asc)
        counts.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(Windowing.windowStartSec(col("window")).as("win_start"),
            col("event_type").as("hot_type"), col("n"))
      },
      Some("""WITH c AS (
          SELECT (CAST(floor(epoch(ts) / 300) AS BIGINT) - o.i) * 300 AS win_start,
            event_type, count(*) AS n
          FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) o
          GROUP BY 1, 2)
        SELECT win_start, event_type AS hot_type, n FROM c
        QUALIFY row_number() OVER (PARTITION BY win_start
          ORDER BY n DESC, event_type ASC) = 1""")),

    // The FAITHFUL Nexmark Q5 sliding form (1 h / 15 m — the published
    // bar's own window parameters), registry-verifying THE builder the
    // `streaming_hot_items` bench row runs (StreamOps.hotItemsSliding:
    // ONE window-keyed stateful aggregation whose buffer is the
    // per-item count map, argmax at close — r19, replacing the
    // fixed-window proxy in BASELINE.md's Q5 comparison). Each event
    // belongs to size/slide = 4 windows; ties break to smallest item.
    Q("win_hot_items_sliding",
      (s, d) => graft.streaming.StreamOps.hotItemsSliding(
          ev(s, d), "ts", "user_id", "1 hour", "15 minutes", "0 seconds")
        .select(Windowing.windowStartSec(col("w")).as("win_start"),
          col("hot_item"), col("n_hot")),
      Some("""WITH c AS (
          SELECT (CAST(floor(epoch(ts) / 900) AS BIGINT) - o.i) * 900
              AS win_start,
            user_id, count(*) AS n
          FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) o
          GROUP BY 1, 2)
        SELECT win_start, user_id AS hot_item, n AS n_hot FROM c
        QUALIFY row_number() OVER (PARTITION BY win_start
          ORDER BY n DESC, user_id ASC) = 1""")),

    // Nexmark Q7 "highest bid" (queries/Query7.java — max per fixed
    // window via a Max side input, then filter to the rows achieving
    // it): window-max broadcast back as the side input. Tie-break:
    // all achieving rows emit (matching Beam's semantics), so the
    // result is deterministic without argmin games.
    Q("win_highest_value",
      (s, d) => {
        val win = window(col("ts"), "1 hour")
        val events = ev(s, d).withColumn("w", win)
        val maxes = events.groupBy("w")
          .agg(max("value").as("max_value"))
        events.join(broadcast(maxes), Seq("w"))
          .filter(col("value") === col("max_value"))
          .select(unix_timestamp(col("w.start")).as("win_start"),
            col("event_id"), round(col("value"), 4).as("value"))
      },
      Some("""WITH w AS (
          SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
            event_id, value,
            max(value) OVER (PARTITION BY CAST(floor(epoch(ts) / 3600) AS BIGINT))
              AS max_value
          FROM events)
        SELECT win_start, event_id, round(value, 4) AS value
        FROM w WHERE value = max_value""")),

    // Nexmark Q8 "monitor new users" (queries/Query8.java — Beam
    // co-groups the two event kinds per (user, window)): users who
    // signed up AND purchased within the same 1-hour window. ONE fact
    // pass — the per-kind presence tests are conditional flags inside
    // a single (user, window) aggregation (r17, matching the
    // streaming row's windowed-CoGBK shape), not two distinct sets
    // joined (two scans + three exchanges).
    Q("win_new_users",
      (s, d) => ev(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
        .agg(
          max(when(col("event_type") === "signup", 1).otherwise(0))
            .as("has_s"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("has_p"))
        .filter(col("has_s") === 1 && col("has_p") === 1)
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("win_start")),
      Some("""SELECT user_id,
          CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start
        FROM events
        WHERE event_type IN ('signup', 'purchase')
        GROUP BY 1, 2
        HAVING max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) = 1
           AND max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1""")),

    // The PER-RIGHT-EVENT grain of the same Q8 CoGBK — the reference
    // Query8's per-(person, auction) emission and exactly the builder
    // the streaming bench row runs (`StreamOps.newUsersJoin(
    // emitPerRight = true)`, ADVICE r17): one output row per purchase
    // in a qualifying (user, window), carrying that window's signup
    // count. Registry-verifying THE builder (not a re-derivation)
    // closes the loop between the benched shape and the oracle.
    Q("win_new_users_pairs",
      (s, d) => graft.streaming.StreamOps.newUsersJoin(
          ev(s, d), windowSize = "1 hour", lateness = "0 seconds",
          leftType = "signup", rightType = "purchase",
          emitPerRight = true)
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("win_start"),
          col("n_left"), round(col("right_value"), 6).as("right_value")),
      Some("""WITH qual AS (
          SELECT user_id,
            CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
            count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_left
          FROM events
          WHERE event_type IN ('signup', 'purchase')
          GROUP BY 1, 2
          HAVING count(CASE WHEN event_type = 'signup' THEN 1 END) > 0
             AND count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0)
        SELECT e.user_id,
          CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT) AS win_start,
          CAST(n_left AS BIGINT) AS n_left,
          round(e.value, 6) AS right_value
        FROM events e
        JOIN qual ON e.user_id = qual.user_id
          AND CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT)
              = qual.win_start
        WHERE e.event_type = 'purchase'""")),

    // The same per-right grain through the WINDOW-GRAIN packed buffer
    // (StreamOps.newUsersJoinPacked, r19 — the builder the
    // `streaming_new_users` bench row runs): identical output contract
    // to win_new_users_pairs, verified against the same oracle, so the
    // benched shape stays registry-verified after the state-layout
    // change.
    Q("win_new_users_packed",
      (s, d) => graft.streaming.StreamOps.newUsersJoinPacked(
          ev(s, d), windowSize = "1 hour", lateness = "0 seconds",
          leftType = "signup", rightType = "purchase")
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("win_start"),
          col("n_left"), round(col("right_value"), 6).as("right_value")),
      Some("""WITH qual AS (
          SELECT user_id,
            CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
            count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_left
          FROM events
          WHERE event_type IN ('signup', 'purchase')
          GROUP BY 1, 2
          HAVING count(CASE WHEN event_type = 'signup' THEN 1 END) > 0
             AND count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0)
        SELECT e.user_id,
          CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT) AS win_start,
          CAST(n_left AS BIGINT) AS n_left,
          round(e.value, 6) AS right_value
        FROM events e
        JOIN qual ON e.user_id = qual.user_id
          AND CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT)
              = qual.win_start
        WHERE e.event_type = 'purchase'""")),

    // Nexmark Q0 "passthrough" (queries/Query0.java — the measurement
    // floor: deserialize + re-emit every event unchanged).
    Q("nexmark_q0_passthrough",
      (s, d) => ev(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"),
        round(col("value"), 4).as("value")),
      Some("""SELECT event_id, user_id, event_type,
          epoch_us(ts) AS ts_us, round(value, 4) AS value
        FROM events""")),

    // Nexmark Q6 "average selling price by seller" (queries/Query6
    // .java — the bounded-per-key-history shape: a mean over each
    // seller's LAST 10 sales): per user, the average of the last 10
    // click values in (ts, event_id) order, one row per user.
    Q("nexmark_q6_avg_last10",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        ev(s, d).filter(col("event_type") === "click")
          .withColumn("avg10",
            avg("value").over(w.rowsBetween(-9, 0)))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"))
              .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("rn") === 1)
          // round to SIX decimals, not four: frames of 4 or 8 rows give
          // averages k/400, k/800 — exact 5-decimal values that land ON
          // the half boundary at 4 decimals, where Spark's HALF_UP and
          // DuckDB's HALF_EVEN disagree (caught at sf0.1). No possible
          // count (1..10) terminates at a 6-decimal half.
          .select(col("user_id"), round(col("avg10"), 6).as("avg_last10"))
      },
      Some("""WITH c AS (
          SELECT user_id, ts, event_id,
            avg(value) OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS avg10
          FROM events WHERE event_type = 'click')
        SELECT user_id, round(avg10, 6) AS avg_last10 FROM c
        QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) = 1""")),

    // Nexmark Q1 "currency conversion" (queries/Query1.java — a pure
    // per-element map over the bid stream: dollars → euros).
    Q.sql("nexmark_q1_convert", """SELECT event_id, user_id, round(value * 0.908, 4) AS price_eur
        FROM events WHERE event_type = 'click'"""),

    // Nexmark Q2 "selection" (queries/Query2.java — a pure filter over
    // the bid stream for a sparse key set).
    Q.sql("nexmark_q2_filter", """SELECT event_id, user_id, round(value, 4) AS price
        FROM events WHERE event_type = 'click' AND user_id % 13 = 0"""),

    // Nexmark Q3 "local item suggestion" (queries/Query3.java — THE
    // state+timers showcase: an incremental Person⋈Auction join where
    // whichever side arrives first waits in per-key state): persons ≡
    // each user's FIRST signup event, auctions ≡ their purchases; the
    // WHERE P.state IN (…) filter becomes signup.value >= 250. The
    // batch form is the plain shuffle equi-join Catalyst plans; the
    // streaming form is StatefulV2.incrementalJoin (StatefulV2Spec).
    Q("nexmark_q3_join",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val persons = ev(s, d).filter(col("event_type") === "signup")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .filter(col("value") >= 250)
          .select(col("user_id"), col("event_id").as("signup_event"),
            round(col("value"), 4).as("signup_value"))
        val auctions = ev(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_event"))
        auctions.join(persons, Seq("user_id"))
          .select(col("user_id"), col("signup_event"), col("signup_value"),
            col("purchase_event"))
      },
      Some("""WITH persons AS (
          SELECT user_id, event_id AS signup_event,
            round(value, 4) AS signup_value
          FROM events WHERE event_type = 'signup'
          QUALIFY row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) = 1
        )
        SELECT p.user_id, signup_event, signup_value,
          a.event_id AS purchase_event
        FROM events a JOIN persons p ON a.user_id = p.user_id
        WHERE a.event_type = 'purchase' AND signup_value >= 250""")),

    // Nexmark Q9 "winning bids" (queries/Query9.java — the highest bid
    // within each auction's lifetime, price desc / time asc): auctions ≡
    // first signup per user opening a 1-hour window; bids ≡ that user's
    // clicks inside the window; one winner per auction. Streaming form:
    // StatefulV2.winningBid (auction-close event-time timer).
    Q("nexmark_q9_winning_bid",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val auctions = ev(s, d).filter(col("event_type") === "signup")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("auction_id"),
            col("ts").as("open_ts"))
        val bids = ev(s, d).filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("bid_id"),
            col("ts").as("bid_ts"), col("value"))
        val joined = auctions.join(bids, Seq("user_id"))
          .filter(col("bid_ts") >= col("open_ts") &&
            col("bid_ts") < col("open_ts") + expr("INTERVAL 1 DAY"))
        val rank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("auction_id"))
          .orderBy(col("value").desc, col("bid_ts").asc, col("bid_id").asc)
        joined.withColumn("rk", row_number().over(rank))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("auction_id"), col("bid_id"),
            round(col("value"), 4).as("price"))
      },
      Some("""WITH auctions AS (
          SELECT user_id, event_id AS auction_id, ts AS open_ts
          FROM events WHERE event_type = 'signup'
          QUALIFY row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) = 1
        ), bids AS (
          SELECT a.user_id, a.auction_id, b.event_id AS bid_id,
            b.ts AS bid_ts, b.value
          FROM auctions a JOIN events b ON a.user_id = b.user_id
          WHERE b.event_type = 'click'
            AND b.ts >= a.open_ts AND b.ts < a.open_ts + INTERVAL 1 DAY)
        SELECT user_id, auction_id, bid_id, round(value, 4) AS price
        FROM bids
        QUALIFY row_number() OVER (PARTITION BY auction_id
          ORDER BY value DESC, bid_ts ASC, bid_id ASC) = 1""")),

    // Nexmark Q4 "average price for a category" (queries/Query4.java —
    // winning bids joined back to auction categories, then a per-
    // category mean: the two-level aggregation shape): category ≡
    // user_id % 10; level 1 = winning bid per auction (Q9's argmax),
    // level 2 = mean winning price per category.
    Q("nexmark_q4_avg_price",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val auctions = ev(s, d).filter(col("event_type") === "signup")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("auction_id"),
            col("ts").as("open_ts"))
        val bids = ev(s, d).filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("bid_id"),
            col("ts").as("bid_ts"), col("value"))
        val joined = auctions.join(bids, Seq("user_id"))
          .filter(col("bid_ts") >= col("open_ts") &&
            col("bid_ts") < col("open_ts") + expr("INTERVAL 1 DAY"))
        val winners = joined.groupBy("auction_id", "user_id")
          .agg(max("value").as("price"))
        // total, not average: prices are exact 2-decimal money, so a
        // rounded 2-decimal SUM is order-independent across engines;
        // an average can land exactly on a rounding boundary
        // (73.34125 did) where float summation order flips the result
        winners.groupBy((col("user_id") % 10).as("category"))
          .agg(round(sum("price"), 2).as("total_price"),
            count(lit(1)).as("n_auctions"))
      },
      Some("""WITH auctions AS (
          SELECT user_id, event_id AS auction_id, ts AS open_ts
          FROM events WHERE event_type = 'signup'
          QUALIFY row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) = 1
        ), winners AS (
          SELECT a.auction_id, a.user_id, max(b.value) AS price
          FROM auctions a JOIN events b ON a.user_id = b.user_id
          WHERE b.event_type = 'click'
            AND b.ts >= a.open_ts AND b.ts < a.open_ts + INTERVAL 1 DAY
          GROUP BY 1, 2)
        SELECT user_id % 10 AS category,
          round(sum(price), 2) AS total_price, count(*) AS n_auctions
        FROM winners GROUP BY 1""")),

    // Nexmark Q10 "log to sharded files" (queries/Query10.java — window
    // the stream, route each element to one of N shard files per
    // window, name the file by (window, shard)): the file-routing
    // manifest — per (10-minute window, shard) the row count and
    // event-id span that would land in that file. Shard assignment by
    // portable hash (Query10 shards by a hash of the key too) so the
    // oracle reproduces it bit-for-bit. The actual partitioned write
    // (partitionBy(win, shard)) is exercised in IoSpec; here we verify
    // the routing logic. One shuffle on the (already tiny) group keys.
    Q("nexmark_q10_shard",
      (s, d) => ev(s, d)
        .withColumn("win_start",
          (floor(unix_seconds(col("ts")) / 600) * 600).cast("long"))
        .withColumn("shard",
          pmod(graft.functions.PortableHash.md5Long(col("event_id")),
            lit(8)))
        .groupBy("win_start", "shard")
        .agg(count(lit(1)).as("n"),
          min("event_id").as("min_event"),
          max("event_id").as("max_event")),
      Some(s"""SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)
            AS win_start,
          ${graft.functions.PortableHash.md5LongSql("event_id")} % 8
            AS shard,
          count(*) AS n, min(event_id) AS min_event,
          max(event_id) AS max_event
        FROM events GROUP BY 1, 2""")),

    // CUSTOM MERGING WindowFn (windowing/WindowFn.java mergeWindows /
    // MergeOverlappingIntervalWindows — the general contract behind
    // Sessions): each event carries a DATA-DEPENDENT interval
    // [ts, ts + (1+floor(value)) minutes); overlapping intervals per
    // user merge into one window. Oracle = gaps-and-islands.
    Q("win_merge_intervals",
      (s, d) => {
        val st = unix_micros(col("ts"))
        val en = st + (floor(col("value")).cast("long") + 1L) * 60000000L
        val base = ev(s, d).select(col("user_id"), st.as("st"), en.as("en"))
        Windowing.mergeIntervals(base, Seq(col("user_id")), col("st"), col("en"))
      },
      Some("""WITH iv AS (
          SELECT user_id,
            epoch_us(make_timestamp(epoch_us(ts))) AS st,
            epoch_us(make_timestamp(epoch_us(ts)))
              + (CAST(floor(value) AS BIGINT) + 1) * 60000000 AS en
          FROM events
        ), m AS (
          SELECT user_id, st, en,
            CASE WHEN max(en) OVER w IS NULL OR st > max(en) OVER w
              THEN 1 ELSE 0 END AS brk
          FROM iv
          WINDOW w AS (PARTITION BY user_id ORDER BY st, en
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), g AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY st, en
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wid
          FROM m)
        SELECT user_id, min(st) AS win_start, max(en) AS win_end,
          count(*) AS n_rows
        FROM g GROUP BY user_id, wid""")),

    // Beam OrderedListState (state/OrderedListState.java:28) as an
    // operator (r19): per-user ORDERED-BUFFER REPLAY — events buffer
    // into the timestamp-keyed ordered list and emit in (ts, event_id)
    // order with a per-key sequence index. This registry row runs the
    // ONE processor's batch path (emitOnInput; timers cannot fire in
    // batch); the streaming path drains by watermark range-reads and
    // is spec'd equal in StatefulV2Spec (incl. checkpoint recovery).
    Q("ordered_replay_events",
      (s, d) => {
        import s.implicits._
        graft.streaming.StatefulV2.ensureBatchTws(s)
        val ds = ev(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .as[(Long, java.sql.Timestamp, Long)]
        graft.streaming.StatefulV2.orderedReplay(ds, emitOnInput = true)
          .toDF("user_id", "seq", "ts_ms", "event_id")
      },
      Some("""SELECT user_id,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS seq,
          epoch_ms(ts) AS ts_ms, event_id
        FROM events""")),

    // Beam Deduplicate (transforms/Deduplicate.java:70): keep first event
    // per (user, type) in event time, deterministic tie-break on id.
    Q("dedup_events_first",
      (s, d) => Dedup.exactByKey(ev(s, d), Seq("user_id", "event_type"),
          col("ts").asc, col("event_id").asc)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value")),
      Some("""SELECT user_id, event_type, event_id, value FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type
          ORDER BY ts ASC, event_id ASC) = 1""")),

    // Beam Latest.perKey (transforms/Latest.java:56)
    Q("latest_event_per_user",
      (s, d) => Relational.latestPerKey(ev(s, d), Seq(col("user_id")),
          col("ts"), col("event_id"))
        .select(col("user_id"), col("event_id").as("last_event"),
          col("event_type").as("last_type"), col("value").as("last_value")),
      Some("""SELECT user_id, event_id AS last_event,
        event_type AS last_type, value AS last_value FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) = 1"""), timed = false),

    // Beam FillGaps (extensions/timeseries/.../FillGaps.java): zero-fill
    // missing hours per user between their first and last active hour.
    Q("gap_fill_hours",
      (s, d) => {
        val hrs = ev(s, d)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        val span = hrs.groupBy("user_id")
          .agg(min("hr").as("h0"), max("hr").as("h1"))
        val all = span.select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
        all.join(hrs, Seq("user_id", "hr"), "left")
          .select(col("user_id"), unix_timestamp(col("hr")).as("hr_start"),
            coalesce(col("n"), lit(0L)).as("n"))
      },
      Some("""WITH hrs AS (
          SELECT user_id, date_trunc('hour', ts) AS hr, count(*) AS n
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hrs GROUP BY 1
        ), allh AS (
          SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
          FROM span)
        SELECT a.user_id, CAST(floor(epoch(a.hr)) AS BIGINT) AS hr_start,
          coalesce(h.n, 0) AS n
        FROM allh a LEFT JOIN hrs h
          ON a.user_id = h.user_id AND a.hr = h.hr""")),

    // FillGaps fill-with-PREVIOUS (LOCF) — the timeseries extension's
    // other fill mode (extensions/timeseries; Python fill_gaps): empty
    // hours inherit the key's last observed hourly mean. One
    // ignore-nulls running window over the gap-filled frame; the span
    // starts at each key's first observed hour, so no leading nulls.
    Q("gap_fill_locf",
      (s, d) => {
        val hrs = ev(s, d)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
          .agg(round(avg("value"), 6).as("v"))
        val span = hrs.groupBy("user_id")
          .agg(min("hr").as("h0"), max("hr").as("h1"))
        val all = span.select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("hr")
          .rowsBetween(Long.MinValue, 0)
        all.join(hrs, Seq("user_id", "hr"), "left")
          .select(col("user_id"), unix_timestamp(col("hr")).as("hr_start"),
            last(col("v"), ignoreNulls = true).over(w).as("v_filled"),
            col("v").isNull.cast("long").as("was_gap"))
      },
      Some("""WITH hrs AS (
          SELECT user_id, date_trunc('hour', ts) AS hr,
            round(avg(value), 6) AS v
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hrs GROUP BY 1
        ), allh AS (
          SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
          FROM span)
        SELECT a.user_id, CAST(floor(epoch(a.hr)) AS BIGINT) AS hr_start,
          last_value(h.v IGNORE NULLS) OVER (PARTITION BY a.user_id
            ORDER BY a.hr ROWS UNBOUNDED PRECEDING) AS v_filled,
          CAST(h.v IS NULL AS BIGINT) AS was_gap
        FROM allh a LEFT JOIN hrs h
          ON a.user_id = h.user_id AND a.hr = h.hr""")),

    // Linear INTERPOLATION across gaps — the pandas facade's
    // df.interpolate (sdks/python/apache_beam/dataframe/frames.py):
    // each empty hour gets the distance-weighted blend of the previous
    // and next observed values. Both neighbours come from ignore-nulls
    // windows (backward + forward) over the same gap-filled frame —
    // still one exchange; trailing edges fall back to the observed side.
    Q("gap_fill_interpolate",
      (s, d) => {
        val hrs = ev(s, d)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
          .agg(round(avg("value"), 6).as("v"))
        val span = hrs.groupBy("user_id")
          .agg(min("hr").as("h0"), max("hr").as("h1"))
        val all = span.select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("hr")
        val back = W.rowsBetween(Long.MinValue, 0)
        val fwd = W.rowsBetween(0, Long.MaxValue)
        val obsHr = when(col("v").isNotNull, col("hr"))
        val joined = all.join(hrs, Seq("user_id", "hr"), "left")
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
          .withColumn("pt", last(obsHr, ignoreNulls = true).over(back))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
          .withColumn("nt", first(obsHr, ignoreNulls = true).over(fwd))
        val frac = (unix_timestamp(col("hr")) - unix_timestamp(col("pt")))
          .cast("double") /
          (unix_timestamp(col("nt")) - unix_timestamp(col("pt"))).cast("double")
        // floor-based quantization, not round(): Spark rounds HALF_UP,
        // DuckDB HALF_EVEN, and interpolation at rational fracs lands
        // on exact .xxxxxx5 halves often enough to flip the last digit
        val vi = when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + frac * (col("nv") - col("pv")))
        joined.select(col("user_id"),
          unix_timestamp(col("hr")).as("hr_start"),
          (floor(vi * lit(1e6) + lit(0.5)) / lit(1e6)).as("v_interp"))
      },
      Some("""WITH hrs AS (
          SELECT user_id, date_trunc('hour', ts) AS hr,
            round(avg(value), 6) AS v
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hrs GROUP BY 1
        ), allh AS (
          SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
          FROM span), j AS (
          SELECT a.user_id, a.hr, h.v,
            last_value(h.v IGNORE NULLS) OVER w AS pv,
            last_value(CASE WHEN h.v IS NOT NULL THEN a.hr END IGNORE NULLS)
              OVER w AS pt,
            first_value(h.v IGNORE NULLS) OVER wf AS nv,
            first_value(CASE WHEN h.v IS NOT NULL THEN a.hr END IGNORE NULLS)
              OVER wf AS nt
          FROM allh a LEFT JOIN hrs h
            ON a.user_id = h.user_id AND a.hr = h.hr
          WINDOW w AS (PARTITION BY a.user_id ORDER BY a.hr
                       ROWS UNBOUNDED PRECEDING),
                 wf AS (PARTITION BY a.user_id ORDER BY a.hr
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT user_id, CAST(floor(epoch(hr)) AS BIGINT) AS hr_start,
          floor((CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (epoch(hr) - epoch(pt)) / (epoch(nt) - epoch(pt))
                     * (nv - pv) END) * 1e6 + 0.5) / 1e6 AS v_interp
        FROM j""")),
  )
}
