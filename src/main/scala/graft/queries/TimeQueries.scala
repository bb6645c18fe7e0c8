package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.ops.TimeJoins
import graft.streaming.StreamingIngest

/** Event-time operators over the events table: as-of (point-in-time) join,
  * bounded range join, rollup/pivot shapes, and the streaming twin of the
  * hourly rollup (a real Structured Streaming job whose final state the
  * DuckDB oracle checks against the batch aggregation).
  *
  * The reference has no event-time processing at all — these are part of the
  * added large-scale-pipeline surface (attribution, activity windows,
  * OLAP-style summaries over ingest telemetry).
  */
object TimeQueries {

  private def dsum(c: Column, scale: Int = 8): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  val qs: Seq[Q] = Seq(

    // ----- as-of join: each purchase attributed to the user's latest click
    // at-or-before it (union-tag + single-shuffle timeline sweep) -----
    Q("j_asof_attrib",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "ts")
        TimeJoins.asofJoin(purchases, clicks, "user_id", "ts", "ts", Seq("ts"))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("p_us"),
            unix_micros(col("asof_ts")).as("click_us"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
             |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_us,
             |       max(epoch_us(c.ts)) AS click_us
             |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
             |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
      bench = true),

    // ----- bounded range join: views in the 30 minutes after each purchase
    // (equi-join on (user, time-bucket), bucket width = window span) -----
    Q("j_range_follow",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts")
        TimeJoins.rangeCountJoin(purchases, views, "user_id", "ts", "ts",
            loSec = 0L, hiSec = 1800L)
          .select(col("event_id"), col("user_id"), col("n_matches"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
             |SELECT p.event_id, p.user_id, count(v.user_id) AS n_matches
             |FROM p LEFT JOIN v ON v.user_id = p.user_id
             |  AND v.ts > p.ts AND v.ts <= p.ts + INTERVAL 30 MINUTE
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ----- ROLLUP: revenue at (flag, status), per-flag, and grand total -----
    Q("a_rollup_revenue",
      (s, d) => Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        // rescale the exact decimal sum to 2 places BEFORE the double cast:
        // per-row double→decimal(…,8) casts can differ between engines in
        // the last decimal ulp, which cancels at subgroup level but crossed
        // a double ulp boundary in the grand total
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(30, 8)))
          .cast(DecimalType(30, 2)).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("revenue"), col("n_items"))
        .orderBy("flag", "status"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
             |       coalesce(l_linestatus, 'ALL') AS status,
             |  -- round(), not a DECIMAL(30,2) cast: DuckDB's decimal
             |  -- downcast TRUNCATES, while round() is HALF_UP like Spark's
             |  -- Decimal.changePrecision
             |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY 1, 2""".stripMargin)),

    // ----- PIVOT: per user-decile event-type counts (explicit pivot values:
    // no driver-side distinct scan, stable schema at any scale) -----
    Q("a_pivot_events",
      (s, d) => Tables.events(s, d)
        .withColumn("bucket", col("user_id") % 10)
        .groupBy("bucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("bucket"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view"))
        .orderBy("bucket"),
      Some("""SELECT user_id % 10 AS bucket,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'error') AS error,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- sliding event-time windows (1h window, 30min slide): every event
    // lands in exactly 2 windows; Spark's window() explodes to the covering
    // windows per row, the oracle enumerates the same 2 epoch-aligned starts -----
    Q("e_sliding_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("win_start", "event_type"),
      Some("""WITH e AS (SELECT event_type, value,
             |    unnest([to_timestamp(floor(epoch(ts) / 1800) * 1800),
             |            to_timestamp(floor(epoch(ts) / 1800) * 1800) - INTERVAL 30 MINUTE]) AS s
             |  FROM events)
             |SELECT strftime(s, '%Y-%m-%d %H:%M') AS win_start, event_type,
             |  count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
             |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // ----- correlation / covariance aggregates per group -----
    Q("a_corr_stats",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg((round(corr("l_quantity", "l_extendedprice"), 6) + lit(0.0)).as("corr_qp"),
          (round(covar_pop("l_quantity", "l_extendedprice"), 4) + lit(0.0)).as("covar_qp"),
          (round(covar_samp("l_quantity", "l_discount"), 6) + lit(0.0)).as("covar_qd"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qp,
             |  round(covar_pop(l_quantity, l_extendedprice), 4) + 0.0 AS covar_qp,
             |  round(covar_samp(l_quantity, l_discount), 6) + 0.0 AS covar_qd
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- top-k per group (row_number over a per-group ordered window;
    // full tiebreak — (l_orderkey, l_linenumber) alone is NOT unique) -----
    Q("w_topk_per_group",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        Tables.lineitem(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("l_returnflag"), col("rk"), col("l_orderkey"),
            col("l_extendedprice"))
          .orderBy("l_returnflag", "rk")
      },
      Some("""SELECT l_returnflag, rk, l_orderkey, l_extendedprice FROM (
             |  SELECT l_returnflag, l_orderkey, l_extendedprice,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
             |               l_partkey, l_suppkey) AS rk
             |  FROM lineitem) WHERE rk <= 3 ORDER BY l_returnflag, rk""".stripMargin)),

    // ----- top-k per group via the custom bounded-buffer Aggregator
    // (functions/TopKAggregator — SURVEY §2.11's typed-Aggregator seam):
    // IDENTICAL semantics and oracle as w_topk_per_group, but partial
    // aggregation ships at most k rows per group per map partition instead
    // of sort-shuffling every row of the fact table — the per-group twin
    // of the TakeOrderedAndProject global-top-k discipline. PlanSpec pins
    // the shape (ObjectHashAggregate with a partial pass, no Window). -----
    Q("w_topk_agg",
      (s, d) => {
        val topk = udaf(new graft.functions.TopKAggregator(3),
          org.apache.spark.sql.Encoders.product[graft.functions.TopKAggregator.Entry])
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(topk(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_suppkey")).as("top"))
          .select(col("l_returnflag"), posexplode(col("top")))
          .select(col("l_returnflag"), (col("pos") + 1).cast("int").as("rk"),
            col("col.okey").as("l_orderkey"), col("col.price").as("l_extendedprice"))
          .orderBy("l_returnflag", "rk")
      },
      Some("""SELECT l_returnflag, rk, l_orderkey, l_extendedprice FROM (
             |  SELECT l_returnflag, l_orderkey, l_extendedprice,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
             |               l_partkey, l_suppkey) AS rk
             |  FROM lineitem) WHERE rk <= 3 ORDER BY l_returnflag, rk""".stripMargin),
      bench = true),

    // ----- weekly retention cohorts: users grouped by first-seen week,
    // activity counted per subsequent week — the self-join-on-first-event
    // shape (one agg for cohorts, broadcast back onto the stream) -----
    Q("e_retention_cohorts",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
        val firstWeek = ev.groupBy("user_id")
          .agg(min(date_trunc("week", col("ts"))).as("cohort_ts"))
        ev.join(firstWeek, "user_id")
          .groupBy(col("cohort_ts"), date_trunc("week", col("ts")).as("week_ts"))
          .agg(countDistinct(col("user_id")).as("active_users"))
          .select(date_format(col("cohort_ts"), "yyyy-MM-dd").as("cohort"),
            date_format(col("week_ts"), "yyyy-MM-dd").as("week"),
            col("active_users"))
          .orderBy("cohort", "week")
      },
      Some("""WITH f AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
             |          FROM events GROUP BY 1)
             |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
             |       strftime(date_trunc('week', e.ts), '%Y-%m-%d') AS week,
             |       count(DISTINCT e.user_id) AS active_users
             |FROM events e JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- trailing-window anomaly score: hourly event volume z-scored
    // against the PRECEDING 24 hourly buckets (rows-based window — never
    // the current row, so a spike can't mask itself). The monitoring
    // query a continuously-ingesting pipeline runs on its own telemetry;
    // one pre-aggregation + one ordered window, no self-join. z rounded
    // 1e-4 so Welford-vs-two-pass stddev ulps can't flip a value. -----
    Q("e_hourly_anomaly",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("h").rowsBetween(-24, -1)
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("n_win", count(lit(1)).over(w))
          .withColumn("mean", avg(col("cnt")).over(w))
          .withColumn("sd", stddev_samp(col("cnt")).over(w))
          .filter(col("n_win") === 24 && col("sd") > 0)
          .select(date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
            col("cnt"),
            (round(col("mean"), 4) + 0.0).as("mean24"),
            (round((col("cnt") - col("mean")) / col("sd"), 4) + 0.0).as("z"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
             |  FROM events GROUP BY 1),
             |win AS (SELECT h, cnt,
             |    count(*) OVER w AS n_win,
             |    avg(cnt) OVER w AS mean,
             |    stddev_samp(cnt) OVER w AS sd
             |  FROM hourly
             |  WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT strftime(h, '%Y-%m-%d %H:%M') AS hour, cnt,
             |  round(mean, 4) AS mean24,
             |  round((cnt - mean) / sd, 4) AS z
             |FROM win WHERE n_win = 24 AND sd > 0 ORDER BY hour""".stripMargin)),

    // ----- streaming twin of the anomaly monitor: the hourly counts come
    // from a Complete-mode streaming window over the staged event files;
    // the z-score sweep runs on the drained snapshot. The aggregate is
    // order-insensitive, so the snapshot equals the batch hourly table
    // and the SAME oracle hash-checks the streaming feed. -----
    Q("e_stream_anomaly",
      (s, d) => graft.streaming.StreamingIngest
        .hourlyAnomalyAvailableNow(s, Tables.events(s, d))._1,
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
             |  FROM events GROUP BY 1),
             |win AS (SELECT h, cnt,
             |    count(*) OVER w AS n_win,
             |    avg(cnt) OVER w AS mean,
             |    stddev_samp(cnt) OVER w AS sd
             |  FROM hourly
             |  WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT strftime(h, '%Y-%m-%d %H:%M') AS hour, cnt,
             |  round(mean, 4) AS mean24,
             |  round((cnt - mean) / sd, 4) AS z
             |FROM win WHERE n_win = 24 AND sd > 0 ORDER BY hour""".stripMargin)),

    // ----- the same anomaly feed in UPDATE output mode: the watermark
    // EVICTS window state as the event-time frontier advances (bounded
    // state — the deployment shape for an unbounded feed), and the oracle
    // hash-proves the evicting run still equals the batch truth. State
    // bounds are spec-gated in StreamingSpec via StreamRunStats. -----
    Q("e_stream_anomaly_update",
      (s, d) => graft.streaming.StreamingIngest
        .hourlyAnomalyUpdateMode(s, Tables.events(s, d))._1,
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
             |  FROM events GROUP BY 1),
             |win AS (SELECT h, cnt,
             |    count(*) OVER w AS n_win,
             |    avg(cnt) OVER w AS mean,
             |    stddev_samp(cnt) OVER w AS sd
             |  FROM hourly
             |  WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT strftime(h, '%Y-%m-%d %H:%M') AS hour, cnt,
             |  round(mean, 4) AS mean24,
             |  round((cnt - mean) / sd, 4) AS z
             |FROM win WHERE n_win = 24 AND sd > 0 ORDER BY hour""".stripMargin)),

    // ----- ordered funnel conversion: view → click → purchase, each stage
    // strictly AFTER the previous stage's first completion (min-ts chain:
    // one pre-aggregation per stage joined on user_id — never a per-event
    // self-join, so the shape survives event-stream scale; the per-user
    // aggregates are tiny relative to the stream). The classic product-
    // analytics query that sessionization/retention don't cover. -----
    Q("e_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts") > col("t2"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        val n1 = v.agg(count(lit(1)).as("users")).withColumn("stage", lit(1))
          .withColumn("step", lit("view"))
        val n2 = c.agg(count(lit(1)).as("users")).withColumn("stage", lit(2))
          .withColumn("step", lit("click"))
        val n3 = p.agg(count(lit(1)).as("users")).withColumn("stage", lit(3))
          .withColumn("step", lit("purchase"))
        n1.union(n2).union(n3).select("stage", "step", "users").orderBy("stage")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
             |  JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
             |  JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
             |SELECT * FROM (
             |  SELECT 1 AS stage, 'view' AS step, (SELECT count(*) FROM v) AS users
             |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
             |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p))
             |ORDER BY stage""".stripMargin)),

    // ----- percent_rank / cume_dist: the remaining rank-family windows
    // (relative standing of a row within its group — the quantile-position
    // primitive corpus-quality cutoffs are phrased in) -----
    Q("w_cume_dist",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"))
        Tables.lineitem(s, d).filter(col("l_orderkey") < 1000)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_quantity"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber",
            "l_partkey")
      },
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey, l_quantity,
             |  round(percent_rank() OVER w, 6) AS pr,
             |  round(cume_dist() OVER w, 6) AS cd
             |FROM lineitem WHERE l_orderkey < 1000
             |WINDOW w AS (PARTITION BY l_returnflag
             |  ORDER BY l_quantity, l_orderkey, l_linenumber, l_partkey, l_suppkey)
             |ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber, l_partkey""".stripMargin)),

    // ----- ntile: quartile users by activity within each event type -----
    Q("w_ntile_activity",
      (s, d) => {
        val counts = Tables.events(s, d)
          .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("cnt").desc, col("user_id"))
        counts.withColumn("quartile", ntile(4).over(w))
          .orderBy("event_type", "user_id")
          .select("event_type", "user_id", "cnt", "quartile")
      },
      Some("""WITH c AS (SELECT event_type, user_id, count(*) AS cnt
             |           FROM events GROUP BY 1, 2)
             |SELECT event_type, user_id, cnt,
             |  ntile(4) OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS quartile
             |FROM c ORDER BY event_type, user_id""".stripMargin)),

    // ----- native session windows (gap-merged event-time sessions; the
    // declarative twin of the lag+cumsum e_sessionize). Boundary semantics:
    // an event exactly gap after its predecessor starts a NEW session
    // (session end = last.ts + gap, exclusive), hence >= in the oracle -----
    Q("w_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
      Some("""WITH o AS (SELECT user_id, ts, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
             |m AS (SELECT user_id, ts, event_id,
             |    CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS new_s
             |  FROM o),
             |sn AS (SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                     ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m)
             |SELECT user_id,
             |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  count(*) AS n_events
             |FROM sn GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),
      bench = true),

    // ----- custom-state sessionization as a REAL Structured Streaming job:
    // flatMapGroupsWithState with event-time timeouts, run AvailableNow over
    // event-time-ordered staged files (sentinel-flushed), hash-compared
    // against the same gaps-and-islands SQL that oracles w_session_window —
    // three independent routes (lag+cumsum batch, session_window native,
    // stateful streaming) pinned to one answer. Session start AND end are
    // emitted so a state-merge defect can't hide behind matching counts. -----
    Q("e_stream_sessionize",
      (s, d) => StreamingIngest.sessionizeAvailableNow(s, Tables.events(s, d))._1
        .select(col("userId").as("user_id"),
          date_format(timestamp_millis(col("startTs")), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(timestamp_millis(col("endTs")), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("events").as("n_events"))
        .orderBy("user_id", "session_start"),
      Some("""WITH o AS (SELECT user_id, ts, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
             |m AS (SELECT user_id, ts, event_id,
             |    CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS new_s
             |  FROM o),
             |sn AS (SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                     ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m)
             |SELECT user_id,
             |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS session_end,
             |  count(*) AS n_events
             |FROM sn GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // ----- §2.10: the hourly rollup as a REAL Structured Streaming job
    // (readStream → watermark → windowed agg → AvailableNow → final state);
    // the oracle checks the stream's complete-mode result equals the batch
    // aggregation over the same input -----
    Q("e_stream_rollup",
      (s, d) => StreamingIngest.hourlyRollupAvailableNow(s, Tables.events(s, d))._1
        .orderBy("hour", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
             |  count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- the rollup's UPDATE-mode deployment twin: same aggregate, but
    // the watermark EVICTS window state as the event-time frontier passes
    // (state bounded by horizon × event-type arity, not feed lifetime —
    // the only viable posture for an unbounded feed); staged event-time
    // slices drain one per micro-batch so eviction is observable, and the
    // oracle hash-proves the evicting run still equals the batch truth.
    // State bounds are spec-gated in StreamingSpec via StreamRunStats. -----
    Q("e_stream_rollup_update",
      (s, d) => StreamingIngest.hourlyRollupUpdateMode(s, Tables.events(s, d))._1
        .orderBy("hour", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
             |  count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- REAL stream-stream join, oracle-matched: clicks attribute
    // non-click follow-ups within 10 minutes via the watermarked
    // range-bounded join, run AvailableNow over the events table and
    // hash-compared against the batch join — the streaming twin of
    // j_asof_attrib the way e_stream_rollup twins e_hourly_rollup. -----
    Q("e_stream_attrib",
      (s, d) => StreamingIngest.attributionAvailableNow(s, Tables.events(s, d))._1
        .select(col("user_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          date_format(col("action_ts"), "yyyy-MM-dd HH:mm:ss").as("action_ts"),
          col("action_type"))
        .orderBy("user_id", "click_ts", "action_ts", "action_type"),
      Some("""WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
             |a AS (SELECT user_id, ts AS ats, event_type FROM events
             |      WHERE event_type <> 'click')
             |SELECT c.user_id,
             |  strftime(c.cts, '%Y-%m-%d %H:%M:%S') AS click_ts,
             |  strftime(a.ats, '%Y-%m-%d %H:%M:%S') AS action_ts,
             |  a.event_type AS action_type
             |FROM c JOIN a ON a.user_id = c.user_id
             |  AND a.ats >= c.cts AND a.ats <= c.cts + INTERVAL 10 MINUTE
             |ORDER BY 1, 2, 3, 4""".stripMargin)),

    // ----- SCD2 dimension build from a change log: collapse each user's
    // consecutive same-type event runs into validity intervals
    // (valid_from/valid_to, open interval = current row) — the type-2
    // slowly-changing-dimension shape every warehouse derives from CDC
    // feeds. Gaps-and-islands via change-flag running sum, then one lead()
    // for the interval close; two window passes + one groupBy, all
    // partitioned by the dimension key. -----
    Q("j_scd2_dimension",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val marked = Tables.events(s, d)
          .select("user_id", "ts", "event_id", "event_type")
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .withColumn("chg",
            when(col("prev").isNull || col("prev") =!= col("event_type"), 1)
              .otherwise(0))
          .withColumn("grp", sum(col("chg")).over(w))
        val runs = marked.groupBy("user_id", "grp")
          .agg(min(col("event_type")).as("event_type"),
            min(col("ts")).as("vf"), count(lit(1)).as("n_events"))
        val wl = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("grp")
        runs.withColumn("vt", lead(col("vf"), 1).over(wl))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("vf")).as("valid_from_us"),
            unix_micros(col("vt")).as("valid_to_us"),
            col("vt").isNull.as("is_current"), col("n_events"))
          .orderBy("user_id", "valid_from_us")
      },
      Some("""WITH m AS (SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id) IS DISTINCT FROM event_type
             |      THEN 1 ELSE 0 END AS chg
             |  FROM events),
             |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS grp
             |      FROM m),
             |r AS (SELECT user_id, grp, min(event_type) AS event_type,
             |        min(ts) AS vf, CAST(count(*) AS BIGINT) AS n_events
             |      FROM g GROUP BY 1, 2),
             |f AS (SELECT user_id, event_type, vf,
             |        lead(vf) OVER (PARTITION BY user_id ORDER BY grp) AS vt,
             |        n_events
             |      FROM r)
             |SELECT user_id, event_type, epoch_us(vf) AS valid_from_us,
             |       epoch_us(vt) AS valid_to_us, vt IS NULL AS is_current,
             |       n_events
             |FROM f ORDER BY user_id, valid_from_us""".stripMargin))
  )
}
