"""Structured-Streaming queries run to completion over bounded input
(SURVEY.md §2.5 / §2.9).  Most run a REAL streaming query (readStream ->
transform -> memory sink, availableNow trigger); the oracle states the
equivalent batch semantics, which is exact because the bounded run
processes every record.  A timer-free keyed head whose answer is the
one-trigger answer runs its operator on the batch table instead (FLIP-134
BATCH mode: ``keyed_state``'s batch route, no streaming query).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.queries import register
from flink_release_1_10_0_spark.queries.helpers import MONEY, t
from flink_release_1_10_0_spark.session import scratch_dir
from flink_release_1_10_0_spark.streaming.core import read_stream_table, run_to_completion
from flink_release_1_10_0_spark.streaming import stateful
from flink_release_1_10_0_spark.streaming.cep import Pattern


def _first_then(m):
    """A two-stage match log as (first, then) event pairs."""
    return m.select("user_id", F.col("start_id").alias("first_id"),
                    F.col("end_id").alias("then_id"),
                    F.col("start_ts").alias("first_ts"),
                    F.col("end_ts").alias("then_ts"))


def _greedy_run_then(spark, sf_dir, m):
    """One row per ``A+ B`` match of a greedy loop: B, the number of As,
    and the first and last A's time (the last A is the match's
    next-to-last event, looked up in the events table)."""
    last_a = t(spark, sf_dir, "events").select(
        F.col("event_id").alias("last_a"), F.col("ts").alias("last_ts"))
    return (run_to_completion(m, "append")
            .withColumn("last_a", F.element_at("ev_ids", -2))
            .join(last_a, "last_a")
            .select("user_id", F.col("end_id").alias("then_id"),
                    F.col("end_ts").alias("then_ts"),
                    (F.col("n_events") - 1).cast("bigint").alias("n_first"),
                    F.col("start_ts").alias("first_ts"), "last_ts"))


# --------------------------------------------------------------------------
# Streaming tumbling-window aggregate, complete mode
# (StreamExecGroupWindowAggregate + WindowOperator.java:98)
# --------------------------------------------------------------------------
_STREAM_TUMBLE_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY 1, 2
"""


@register("stream_tumble_agg", _STREAM_TUMBLE_ORACLE)
def stream_tumble_agg(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (ev.groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast(MONEY)).cast("double").alias("total"))
           .select(F.col("window.start").alias("w_start"), "event_type", "n", "total"))
    return run_to_completion(agg, "complete")


# --------------------------------------------------------------------------
# Streaming windowed agg with watermark, append mode: only windows whose
# end <= final watermark (max ts - delay) are emitted — late/open windows
# withheld, exactly the reference's event-time window firing semantics
# (WindowOperator + allowedLateness=0)
# --------------------------------------------------------------------------
_STREAM_WM_ORACLE = """
WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
SELECT * FROM (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, COUNT(*) AS n
  FROM events GROUP BY 1) q
WHERE w_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
"""


@register("stream_tumble_agg_watermarked", _STREAM_WM_ORACLE)
def stream_tumble_agg_watermarked(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (ev.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour"))
           .agg(F.count("*").alias("n"))
           .select(F.col("window.start").alias("w_start"), "n"))
    return run_to_completion(agg, "append")


# --------------------------------------------------------------------------
# Stateful dedup keep-last (DeduplicateKeepLastRowFunction.java:34)
# --------------------------------------------------------------------------
_STREAM_DEDUP_ORACLE = """
SELECT user_id, event_id, event_type, value, ts FROM (
  SELECT user_id, event_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) q
WHERE rn = 1
"""


@register("stream_dedup_keep_last", _STREAM_DEDUP_ORACLE)
def stream_dedup_keep_last(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    return run_to_completion(stateful.dedup_keep_last(ev), "update")


# --------------------------------------------------------------------------
# Stateful streaming top-N (AppendOnlyTopNFunction.java:46)
# --------------------------------------------------------------------------
_STREAM_TOPN_ORACLE = """
SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events) q
WHERE rn <= 3
"""


@register("stream_topn_per_key", _STREAM_TOPN_ORACLE)
def stream_topn_per_key(spark, sf_dir):
    return stateful.topn_per_key(t(spark, sf_dir, "events"), n=3)


# --------------------------------------------------------------------------
# CEP: error followed-by purchase within 30 min (NFA.java:85 subset)
# --------------------------------------------------------------------------
_STREAM_CEP_ORACLE = """
WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
b AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
cand AS (
  SELECT a.user_id, a.event_id AS first_id, b.event_id AS then_id,
         a.ts AS first_ts, b.ts AS then_ts,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY b.ts, b.event_id) AS rn
  FROM a JOIN b ON a.user_id = b.user_id
   AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
SELECT user_id, first_id, then_id, first_ts, then_ts FROM cand WHERE rn = 1
"""


@register("stream_cep_error_then_purchase", _STREAM_CEP_ORACLE)
def stream_cep_error_then_purchase(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = Pattern.begin("error").followed_by("purchase").within(30).match_stream(ev)
    return run_to_completion(_first_then(m), "append")


# --------------------------------------------------------------------------
# CEP with cross-key event-time timers (CepOperator.java:82 onEventTime):
# error then click+ GREEDY within 240 min.  A greedy trailing loop's
# maximal match is decidable only when its window CLOSES; with
# watermark_timers the close is driven by the GLOBAL watermark — keys
# that go silent still flush when ANY key's later events advance it.
# Bounded-replay equivalence (exact): with delay 0 the final watermark
# is max(ts) over the whole table, so a run emits iff
# start_ts + 240 min < max(ts) — runs too close to the end of input stay
# pending, exactly like a still-open window on an unbounded stream.
# Emission is purely timer-driven here: no until, no bounded max, no EOS
# sentinel — this is the silent-key path the timers exist for.
# --------------------------------------------------------------------------
_STREAM_CEP_TIMER_ORACLE = """
WITH mx AS (SELECT max(ts) AS wm FROM events),
a AS (SELECT user_id, event_id AS start_id, ts AS start_ts
      FROM events WHERE event_type = 'error'),
b AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
joined AS (
  SELECT a.user_id, a.start_id, a.start_ts,
         b.event_id AS bid, b.ts AS bts
  FROM a JOIN b ON a.user_id = b.user_id
   AND (b.ts > a.start_ts OR (b.ts = a.start_ts AND b.event_id > a.start_id))
   AND b.ts <= a.start_ts + INTERVAL 240 MINUTE),
ranked AS (
  SELECT user_id, start_id, start_ts, bid, bts,
         row_number() OVER (PARTITION BY user_id, start_id
                            ORDER BY bts DESC, bid DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, start_id) AS cnt
  FROM joined)
SELECT user_id, start_id, bid AS end_id, start_ts, bts AS end_ts,
       CAST(cnt + 1 AS INT) AS n_events
FROM ranked, mx
WHERE rn = 1 AND start_ts + INTERVAL 240 MINUTE < mx.wm
"""


@register("stream_cep_timer_flush_silent_keys", _STREAM_CEP_TIMER_ORACLE)
def stream_cep_timer_flush_silent_keys(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.nfa import NfaStage, match_nfa

    ev = read_stream_table(spark, sf_dir, "events")
    stages = [NfaStage(pred="event_type = 'error'"),
              NfaStage(pred="event_type = 'click'", min_times=1,
                       max_times=None, greedy=True)]
    out = run_to_completion(
        match_nfa(ev, stages, within_minutes=240,
                  watermark_timers="0 seconds"), "append")
    return out.select("user_id", "start_id", "end_id",
                      "start_ts", "end_ts", "n_events")


# --------------------------------------------------------------------------
# Stream-stream interval join (StreamExecWindowJoin.scala:53,
# TimeBoundedStreamJoin.java:52, KeyedStream.intervalJoin) — native
# Structured Streaming join with a time-range condition; inner matches
# are emitted eagerly, watermarks bound the join state on both sides.
# --------------------------------------------------------------------------
_STREAM_IJ_ORACLE = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
"""


@register("stream_interval_join", _STREAM_IJ_ORACLE)
def stream_interval_join(spark, sf_dir):
    purchases = (read_stream_table(spark, sf_dir, "events")
                 .filter(F.col("event_type") == "purchase")
                 .withWatermark("ts", "10 minutes")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts")))
    clicks = (read_stream_table(spark, sf_dir, "events")
              .filter(F.col("event_type") == "click")
              .withWatermark("ts", "10 minutes")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") < F.col("purchase_ts")))
    out = joined.select(F.col("p_user").alias("user_id"), "purchase_id",
                        "click_id", "purchase_ts", "click_ts")
    return run_to_completion(out, "append")


# --------------------------------------------------------------------------
# Stream-static lookup join (StreamExecLookupJoin.scala:40,
# LookupJoinRunner.java) — per-micro-batch join against a bounded
# dimension snapshot; the dim side is broadcast, no shuffle of the stream.
# --------------------------------------------------------------------------
_STREAM_LOOKUP_ORACLE = """
SELECT event_id, e.user_id, value, c_name, c_mktsegment
FROM events e
JOIN customer ON e.user_id = c_custkey
WHERE event_type = 'purchase'
"""


@register("stream_lookup_join", _STREAM_LOOKUP_ORACLE)
def stream_lookup_join(spark, sf_dir):
    ev = (read_stream_table(spark, sf_dir, "events")
          .filter(F.col("event_type") == "purchase"))
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    out = (ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
           .select("event_id", "user_id", "value", "c_name", "c_mktsegment"))
    return run_to_completion(out, "append")


# --------------------------------------------------------------------------
# Streaming session windows with watermark, append mode
# (SessionWindowAssigner; StreamExecGroupWindowAggregate) — only sessions
# whose end (last ts + gap) <= final watermark are emitted.
# --------------------------------------------------------------------------
_STREAM_SESSION_ORACLE = """
WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
numbered AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM numbered)
SELECT user_id, min(ts) AS w_start, max(ts) + INTERVAL 30 MINUTE AS w_end,
       COUNT(*) AS n
FROM sessions
GROUP BY user_id, session_id
HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
"""


@register("stream_session_window", _STREAM_SESSION_ORACLE)
def stream_session_window(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (ev.withWatermark("ts", "10 minutes")
           .groupBy(F.session_window("ts", "30 minutes"), "user_id")
           .agg(F.count("*").alias("n"))
           .select("user_id",
                   F.col("session_window.start").alias("w_start"),
                   F.col("session_window.end").alias("w_end"), "n"))
    return run_to_completion(agg, "append")


# --------------------------------------------------------------------------
# Streaming count window (CountTumblingWindowAssigner,
# KeyedStream.java:652 countWindow) — stateful op; only complete windows
# of exactly N events are emitted, the partial tail stays in state.
# --------------------------------------------------------------------------
_STREAM_COUNT_WINDOW_ORACLE = """
WITH numbered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
  FROM events)
SELECT user_id,
       CAST(rn // 10 AS BIGINT) AS w_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM numbered
GROUP BY user_id, rn // 10
HAVING COUNT(*) = 10
"""


@register("stream_count_window_10", _STREAM_COUNT_WINDOW_ORACLE)
def stream_count_window_10(spark, sf_dir):
    return stateful.count_tumble_window(t(spark, sf_dir, "events"), n=10)


# --------------------------------------------------------------------------
# Changelog / retraction emission (BaseRow ACCUMULATE/RETRACT headers,
# BaseRowUtil.java:34-39) — the stream emits an append-only +I/-U/+U log;
# the query folds the log back into a table (latest accumulate per key),
# which must equal the plain batch aggregate.
# --------------------------------------------------------------------------
_STREAM_CHANGELOG_ORACLE = """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
"""


@register("stream_changelog_agg", _STREAM_CHANGELOG_ORACLE)
def stream_changelog_agg(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.changelog import materialize

    clog = stateful.changelog_count(t(spark, sf_dir, "events"))
    return materialize(clog, ["event_type"], ["cnt"])


# --------------------------------------------------------------------------
# Streaming temporal / as-of join (TemporalRowTimeJoinOperator.java:71):
# purchases probe the versioned "latest error value" table per user.
# A version is visible to a probe iff (v.ts, v.id) < (p.ts, p.id);
# the newest visible version wins.
# --------------------------------------------------------------------------
_STREAM_TEMPORAL_ORACLE = """
WITH m AS (
  SELECT p.user_id, p.event_id AS probe_id, p.ts AS probe_ts,
         e.event_id AS version_id, e.ts AS version_ts, e.value AS version_value,
         row_number() OVER (PARTITION BY p.user_id, p.event_id
                            ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM events p
  JOIN events e ON p.user_id = e.user_id
   AND p.event_type = 'purchase' AND e.event_type = 'error'
   AND (e.ts < p.ts OR (e.ts = p.ts AND e.event_id < p.event_id)))
SELECT user_id, probe_id, probe_ts, version_id, version_ts, version_value
FROM m WHERE rn = 1
"""


@register("stream_temporal_join", _STREAM_TEMPORAL_ORACLE)
def stream_temporal_join(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    return run_to_completion(
        stateful.temporal_join(ev, build_type="error", probe_type="purchase"),
        "append")


# --------------------------------------------------------------------------
# CEP oneOrMore: error+ followedBy purchase within 30 min
# (Pattern.java oneOrMore/greedy); matched errors are consumed
# (AFTER MATCH SKIP PAST LAST ROW), so each error can belong to at most
# one match — equivalently, each error is assigned to the FIRST purchase
# that follows it within the window.  The greedy loop keeps the longest
# in-window run, and skip_past_last drops the runs begun inside it.
# --------------------------------------------------------------------------
_STREAM_CEP_OOM_ORACLE = """
WITH assign AS (
  SELECT a.user_id, a.ts AS a_ts, b.event_id AS b_id, b.ts AS b_ts,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY b.ts, b.event_id) AS rn
  FROM events a
  JOIN events b ON a.user_id = b.user_id
   AND a.event_type = 'error' AND b.event_type = 'purchase'
   AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
SELECT user_id, b_id AS then_id, b_ts AS then_ts,
       COUNT(*) AS n_first, MIN(a_ts) AS first_ts, MAX(a_ts) AS last_ts
FROM assign WHERE rn = 1
GROUP BY user_id, b_id, b_ts
"""


@register("stream_cep_one_or_more", _STREAM_CEP_OOM_ORACLE)
def stream_cep_one_or_more(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = (Pattern.begin("error").one_or_more().greedy()
         .followed_by("purchase").within(30)
         .match_stream(ev, after_match="skip_past_last"))
    return _greedy_run_then(spark, sf_dir, m)


# --------------------------------------------------------------------------
# Plain streaming group aggregate, update mode
# (StreamExecGroupAggregate.scala:55 / GroupAggFunction.java:43):
# per-key aggregates re-emitted as they change; the bounded run's final
# update equals the batch aggregate.
# --------------------------------------------------------------------------
_STREAM_GROUP_AGG_ORACLE = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY user_id
"""


@register("stream_group_agg_update", _STREAM_GROUP_AGG_ORACLE)
def stream_group_agg_update(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (ev.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(MONEY)).cast("double").alias("total")))
    return run_to_completion(agg, "update")


# --------------------------------------------------------------------------
# Streaming OVER aggregate (StreamExecOverAggregate.scala:56): per-row
# running sum/count per key in event-time order — the unbounded-preceding
# ROWS frame as a stateful streaming operator.
# --------------------------------------------------------------------------
_STREAM_OVER_ORACLE = """
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM events
"""


@register("stream_over_running_agg", _STREAM_OVER_ORACLE)
def stream_over_running_agg(spark, sf_dir):
    return stateful.over_running_agg(t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Changelog SUM with retraction, materialized (StreamExecRetractionRules;
# upsert-sink consumption path)
# --------------------------------------------------------------------------
_STREAM_CHANGELOG_SUM_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY event_type
"""


@register("stream_changelog_sum", _STREAM_CHANGELOG_SUM_ORACLE)
def stream_changelog_sum(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.changelog import changelog_sum, materialize

    clog = changelog_sum(t(spark, sf_dir, "events"))
    return materialize(clog, ["event_type"], ["total"])


# --------------------------------------------------------------------------
# CEP absence detection: error NOT followed by purchase within 30 min
# (Pattern.notFollowedBy + WITHIN) on the NFA with event-time timers.
# Only windows fully closed by the final watermark (max ts - 10 min) are
# decided.
# --------------------------------------------------------------------------
_STREAM_CEP_ABSENT_ORACLE = """
WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
SELECT a.user_id, a.event_id AS first_id, a.ts AS first_ts
FROM events a
WHERE a.event_type = 'error'
  AND a.ts + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
  AND NOT EXISTS (
    SELECT 1 FROM events b
    WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
      AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
"""


@register("stream_cep_not_followed_by", _STREAM_CEP_ABSENT_ORACLE)
def stream_cep_not_followed_by(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = (Pattern.begin("error").not_followed_by("purchase").within(30)
         .match_stream(ev, watermark_timers="10 minutes"))
    return run_to_completion(
        m.select("user_id", F.col("start_id").alias("first_id"),
                 F.col("start_ts").alias("first_ts")), "append")


# --------------------------------------------------------------------------
# Streaming hopping/sliding window with watermark, append mode
# (SlidingWindowAssigner) — each event lands in size/slide windows; only
# windows closed by the final watermark emit.
# --------------------------------------------------------------------------
_STREAM_HOP_ORACLE = """
WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
edges AS (
  SELECT DISTINCT CAST(date_trunc('hour', ts) AS TIMESTAMP)
         + INTERVAL (30 * CAST(floor(EXTRACT(minute FROM ts) / 30) AS INT) - 30 * g.i) MINUTE AS w_start
  FROM events, (SELECT unnest([0, 1]) AS i) g),
agg AS (
  SELECT e.w_start, COUNT(*) AS n
  FROM edges e JOIN events ev
    ON ev.ts >= e.w_start AND ev.ts < e.w_start + INTERVAL 1 HOUR
  GROUP BY e.w_start)
SELECT w_start, n FROM agg
WHERE w_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
"""


@register("stream_hop_window", _STREAM_HOP_ORACLE)
def stream_hop_window(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (ev.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour", "30 minutes"))
           .agg(F.count("*").alias("n"))
           .select(F.col("window.start").alias("w_start"), "n"))
    return run_to_completion(agg, "append")


# --------------------------------------------------------------------------
# Streaming OVER with a bounded ROWS frame (last 5 rows per key;
# RowTimeRowsBoundedPrecedingFunction) — ring-buffer state
# --------------------------------------------------------------------------
_STREAM_OVER_BOUNDED_ORACLE = """
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS frame_sum,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS frame_n
FROM events
"""


@register("stream_over_rows_bounded", _STREAM_OVER_BOUNDED_ORACLE)
def stream_over_rows_bounded(spark, sf_dir):
    return stateful.over_rows_bounded(t(spark, sf_dir, "events"), frame=5)


# --------------------------------------------------------------------------
# Streaming temporal sort: watermark-ordered emission with an explicit
# emission sequence (StreamExecTemporalSort / RowTimeSortOperator).  The
# ``seq`` column makes the ORDER of emission hash-verifiable: it must
# equal row_number() by (ts, event_id) over exactly the rows the final
# watermark released.
# --------------------------------------------------------------------------
_STREAM_TSORT_ORACLE = """
WITH wm AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 10 MINUTE AS w
            FROM events)
SELECT user_id, event_id, ts,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events WHERE ts <= (SELECT w FROM wm)
"""


@register("stream_temporal_sort", _STREAM_TSORT_ORACLE)
def stream_temporal_sort(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    return run_to_completion(stateful.temporal_sort(ev), "append")


# --------------------------------------------------------------------------
# Count-based sliding window (CountSlidingWindowAssigner; countWindow
# (size=5, slide=2)): fires every 2 arrivals over the last <=5 rows.
# --------------------------------------------------------------------------
_STREAM_COUNT_SLIDE_ORACLE = """
WITH q AS (
  SELECT user_id,
         row_number() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c,
         SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, rn AS fire_seq, c AS n_events, CAST(s AS DOUBLE) AS sum_value
FROM q WHERE rn % 2 = 0
"""


@register("stream_count_sliding_window", _STREAM_COUNT_SLIDE_ORACLE)
def stream_count_sliding_window(spark, sf_dir):
    return stateful.count_sliding_window(t(spark, sf_dir, "events"),
                                         size=5, slide=2)


# --------------------------------------------------------------------------
# CEP times(n).consecutive() + AFTER MATCH SKIP PAST LAST ROW: n identical
# events in a row, no gaps, non-overlapping matches (gaps-and-islands
# oracle: position-within-run divisible by n).
# --------------------------------------------------------------------------
_STREAM_CEP_TIMES_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
runs AS (
  SELECT user_id, event_id, ts, rn,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
  FROM seq WHERE event_type = 'click'),
pos AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id, grp ORDER BY rn) AS p
  FROM runs)
SELECT user_id, event_id AS last_id, ts AS last_ts, CAST(3 AS BIGINT) AS run_n
FROM pos WHERE p % 3 = 0
"""


@register("stream_cep_times_consecutive", _STREAM_CEP_TIMES_ORACLE)
def stream_cep_times_consecutive(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = (Pattern.begin("click").times(3).consecutive()
         .match_stream(ev, after_match="skip_past_last"))
    return run_to_completion(
        m.select("user_id", F.col("end_id").alias("last_id"),
                 F.col("end_ts").alias("last_ts"),
                 F.col("n_events").cast("bigint").alias("run_n")),
        "append")


# --------------------------------------------------------------------------
# Async I/O enrichment (AsyncWaitOperator.java:76, ordered mode): bounded
# in-flight async lookups inside each Arrow batch, order-preserving.  The
# service is a deterministic async fn so the oracle can state the result.
# --------------------------------------------------------------------------
_ASYNC_IO_ORACLE = """
SELECT user_id, event_id, 'tier_' || CAST(user_id % 7 AS VARCHAR) AS tier
FROM events
"""


@register("stream_async_io_enrich", _ASYNC_IO_ORACLE)
def stream_async_io_enrich(spark, sf_dir):
    import asyncio

    from flink_release_1_10_0_spark.streaming.async_io import async_enrich

    async def tier_service(uid: int) -> str:
        await asyncio.sleep(0)  # yield point — a real client awaits I/O here
        return f"tier_{uid % 7}"

    ev = t(spark, sf_dir, "events").select("user_id", "event_id")
    return async_enrich(ev, "user_id", "tier", tier_service, capacity=64)


# --------------------------------------------------------------------------
# Broadcast state pattern (DataStream.broadcast + BroadcastProcessFunction
# .java:51): per-event-type rule thresholds broadcast to every task; each
# streamed event is evaluated against the current rule set.  The rules
# side is a broadcast stream-static join — the event side never shuffles.
# --------------------------------------------------------------------------
_BCAST_RULES_ORACLE = """
WITH rules AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS threshold
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       round(r.threshold, 6) AS threshold
FROM events e JOIN rules r ON e.event_type = r.event_type
WHERE e.value >= 2 * r.threshold
"""


@register("stream_broadcast_rules_join", _BCAST_RULES_ORACLE)
def stream_broadcast_rules_join(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.broadcast import broadcast_rules_apply
    rules = (t(spark, sf_dir, "events")
             .groupBy("event_type")
             .agg((F.sum(F.col("value").cast(MONEY)).cast("double")
                   / F.count(F.lit(1))).alias("threshold")))
    ev = read_stream_table(spark, sf_dir, "events")
    out = broadcast_rules_apply(
        ev, rules, "event_type",
        F.col("value") >= 2 * F.col("threshold"),
        "event_id", "event_type", F.round("threshold", 6).alias("threshold"))
    return run_to_completion(out, "append")


# --------------------------------------------------------------------------
# Side outputs / split (SplitStream.select + getSideOutput, SURVEY.md
# §2.9): one pass over the stream attaches the output selector's verdict
# as output_tag; per-tag cardinalities aggregated in complete mode.
# --------------------------------------------------------------------------
_SIDE_OUTPUT_ORACLE = """
SELECT CASE WHEN value >= 75 THEN 'high'
            WHEN value >= 25 THEN 'mid'
            ELSE 'low' END AS output_tag,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


@register("stream_side_output_split", _SIDE_OUTPUT_ORACLE)
def stream_side_output_split(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.datastream import DataStream
    ev = DataStream(read_stream_table(spark, sf_dir, "events"))
    tagged = ev.split_tagged(
        "CASE WHEN value >= 75 THEN 'high' "
        "WHEN value >= 25 THEN 'mid' ELSE 'low' END", "event_id")
    agg = tagged.df.groupBy("output_tag").agg(F.count(F.lit(1)).alias("n"))
    return run_to_completion(agg, "complete")


# --------------------------------------------------------------------------
# CEP strict contiguity: begin(error).next(purchase) (Pattern.java next()
# — TAKE edge with no ignore self-loop): purchase matches only as the
# immediately following event of its key after an error.
# --------------------------------------------------------------------------
_STREAM_CEP_NEXT_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(event_type) OVER w AS pt, LAG(event_id) OVER w AS pid
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, pid AS a_id, event_id AS b_id, ts AS b_ts
FROM seq WHERE pt = 'error' AND event_type = 'purchase'
"""


@register("stream_cep_next_strict", _STREAM_CEP_NEXT_ORACLE)
def stream_cep_next_strict(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = Pattern.begin("error").next("purchase").match_stream(ev)
    return run_to_completion(
        m.select("user_id", F.col("start_id").alias("a_id"),
                 F.col("end_id").alias("b_id"), F.col("end_ts").alias("b_ts")),
        "append")


# --------------------------------------------------------------------------
# CEP followedByAny: every in-window (error, purchase) pair matches,
# AFTER MATCH SKIP TO NEXT (no consumption) — the non-deterministic-runs
# NFA; oracle is the plain interval join.
# --------------------------------------------------------------------------
_STREAM_CEP_ANY_ORACLE = """
SELECT a.user_id, a.event_id AS first_id, b.event_id AS then_id,
       a.ts AS first_ts, b.ts AS then_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'error' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


@register("stream_cep_followed_by_any", _STREAM_CEP_ANY_ORACLE)
def stream_cep_followed_by_any(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = (Pattern.begin("error").followed_by_any("purchase").within(30)
         .match_stream(ev))
    return run_to_completion(_first_then(m), "append")


# --------------------------------------------------------------------------
# CEP optional middle stage: begin(error).followedBy(click).optional()
# .followedBy(purchase).within(30): each error matches its first
# in-window purchase, annotated with whether a click fell strictly
# between the two (Pattern.java optional()).  The NFA emits both the
# 2-event and the 3-event match per error; the earliest end is the first
# purchase, and a 3-event match ending there carries the click.
# --------------------------------------------------------------------------
_STREAM_CEP_OPT_ORACLE = """
WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
cand AS (
  SELECT a.user_id, a.event_id AS first_id, c.event_id AS then_id,
         a.ts AS first_ts, c.ts AS then_ts,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY c.ts, c.event_id) AS rn
  FROM a JOIN c ON a.user_id = c.user_id
   AND c.ts > a.ts AND c.ts <= a.ts + INTERVAL 30 MINUTE)
SELECT user_id, first_id, then_id, first_ts, then_ts,
       EXISTS (SELECT 1 FROM events x
               WHERE x.user_id = cand.user_id AND x.event_type = 'click'
                 AND x.ts > cand.first_ts AND x.ts < cand.then_ts) AS had_opt
FROM cand WHERE rn = 1
"""


@register("stream_cep_optional_middle", _STREAM_CEP_OPT_ORACLE)
def stream_cep_optional_middle(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = run_to_completion(
        Pattern.begin("error").followed_by("click").optional()
        .followed_by("purchase").within(30).match_stream(ev), "append")
    ends = (m.groupBy("user_id", "start_id", "start_ts", "end_ts", "end_id")
            .agg(F.max(F.col("n_events") == 3).alias("had_opt")))
    first = (ends.groupBy("user_id", "start_id", "start_ts")
             .agg(F.min(F.struct("end_ts", "end_id", "had_opt")).alias("e")))
    return first.select("user_id", F.col("start_id").alias("first_id"),
                        F.col("e.end_id").alias("then_id"),
                        F.col("start_ts").alias("first_ts"),
                        F.col("e.end_ts").alias("then_ts"),
                        F.col("e.had_opt").alias("had_opt"))


# --------------------------------------------------------------------------
# Streaming windowed CoGroup (CoGroupedStreams.java — tagged union into
# one window operator, the reference's own layout): clicks vs purchases
# per (user, 1h tumble), one shuffle total, missing side = 0.
# --------------------------------------------------------------------------
_STREAM_COGROUP_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS n_left,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_right
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY 1, 2
"""


@register("stream_window_cogroup", _STREAM_COGROUP_ORACLE)
def stream_window_cogroup(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.cogroup import windowed_cogroup
    ev = read_stream_table(spark, sf_dir, "events")
    out = windowed_cogroup(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id", "ts", "1 hour")
    return run_to_completion(out, "complete")


# --------------------------------------------------------------------------
# MATCH_RECOGNIZE-style DEFINE predicates (StreamExecMatch.scala:69) as
# Pattern where() conditions: H = high-value click, P = purchase;
# (H P) within 30 minutes, each H consumed by its first P.
# --------------------------------------------------------------------------
_STREAM_MR_ORACLE = """
WITH a AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click' AND value >= 75),
b AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
cand AS (
  SELECT a.user_id, a.event_id AS first_id, b.event_id AS then_id,
         a.ts AS first_ts, b.ts AS then_ts,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY b.ts, b.event_id) AS rn
  FROM a JOIN b ON a.user_id = b.user_id
   AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
SELECT user_id, first_id, then_id, first_ts, then_ts FROM cand WHERE rn = 1
"""


@register("stream_match_recognize_define", _STREAM_MR_ORACLE)
def stream_match_recognize_define(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    out = (Pattern.begin("click").where("value >= 75")
           .followed_by("purchase").within(30).match_stream(ev))
    return run_to_completion(_first_then(out), "append")


# --------------------------------------------------------------------------
# Updatable top-N (UpdatableTopNFunction.java / RetractableTopNFunction):
# events upsert each user's current value; the operator maintains top-3
# users by current value per event_type as a +I/+U/-D changelog.  The
# materialized log must equal the batch top-3 over latest values.
# --------------------------------------------------------------------------
_STREAM_UPD_TOPN_ORACLE = """
WITH latest AS (
  SELECT event_type, user_id, value,
         row_number() OVER (PARTITION BY event_type, user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
cur AS (SELECT event_type, user_id, value FROM latest WHERE rn = 1),
ranked AS (
  SELECT event_type, user_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY round(value * 100) DESC, user_id) AS rnk
  FROM cur)
SELECT event_type, user_id,
       round(round(value * 100) / 100, 2) AS val
FROM ranked WHERE rnk <= 3
"""


@register("stream_updatable_topn", _STREAM_UPD_TOPN_ORACLE)
def stream_updatable_topn(spark, sf_dir):
    from pyspark.sql import Window

    clog = stateful.updatable_topn(t(spark, sf_dir, "events"), n=3)
    w = Window.partitionBy("event_type", "user_id").orderBy(F.desc("seq"))
    return (clog.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("op") != "-D"))
            .select("event_type", "user_id", F.round("val", 2).alias("val")))


# --------------------------------------------------------------------------
# Streaming OVER, time-RANGE bounded-preceding frame
# (RowTimeRangeBoundedPrecedingFunction.java:60): each row annotated with
# SUM/COUNT over its key's rows in [ts - 5 min, ts]; RANGE semantics
# include equal-timestamp peers.
# --------------------------------------------------------------------------
_STREAM_OVER_RANGE_ORACLE = """
SELECT e1.user_id, e1.event_id, e1.ts,
       (SELECT CAST(SUM(CAST(e2.value AS DECIMAL(18,2))) AS DOUBLE)
        FROM events e2 WHERE e2.user_id = e1.user_id
          AND e2.ts <= e1.ts
          AND e2.ts >= e1.ts - INTERVAL 5 MINUTE) AS range_sum,
       (SELECT COUNT(*)
        FROM events e2 WHERE e2.user_id = e1.user_id
          AND e2.ts <= e1.ts
          AND e2.ts >= e1.ts - INTERVAL 5 MINUTE) AS range_n
FROM events e1
"""


@register("stream_over_range_bounded", _STREAM_OVER_RANGE_ORACLE)
def stream_over_range_bounded(spark, sf_dir):
    return stateful.over_range_bounded(t(spark, sf_dir, "events"),
                                       preceding_minutes=5)


# --------------------------------------------------------------------------
# Non-keyed window aggregate (AllWindowedStream.java / timeWindowAll):
# global 1h tumbling counts.  Flink pins this to parallelism 1; Spark's
# partial aggregation combines per-window partials in parallel with a
# single-reducer final merge per window.
# --------------------------------------------------------------------------
_STREAM_WINDOW_ALL_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY 1
"""


@register("stream_window_all_agg", _STREAM_WINDOW_ALL_ORACLE)
def stream_window_all_agg(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.datastream import DataStream
    ev = DataStream(read_stream_table(spark, sf_dir, "events"))
    out = (ev.time_window_all("ts", "1 hour")
           .aggregate(F.count(F.lit(1)).alias("n"),
                      F.sum(F.col("value").cast(MONEY)).cast("double").alias("total")))
    return run_to_completion(
        out.df.select("w_start", "n", "total"), "complete")


# --------------------------------------------------------------------------
# CEP timesOrMore(n): begin(click).timesOrMore(2).followedBy(purchase)
# .within(1440) — a purchase completes a greedy match only when >= 2
# pending clicks are in its window; on success all in-window clicks are
# consumed, on failure none are (they stay pending).  The oracle
# exploits that the pending-set evolution collapses to one value per
# key — the last successful B timestamp — and walks B's in order with a
# recursive CTE.
# --------------------------------------------------------------------------
_STREAM_CEP_TOM_ORACLE = """
WITH RECURSIVE a AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'),
b AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'purchase'),
st AS (
  SELECT user_id, 0 AS rn, TIMESTAMP '1970-01-01 00:00:00' AS last_succ,
         FALSE AS matched, CAST(NULL AS BIGINT) AS then_id,
         CAST(NULL AS TIMESTAMP) AS then_ts, CAST(NULL AS BIGINT) AS n_first,
         CAST(NULL AS TIMESTAMP) AS first_ts, CAST(NULL AS TIMESTAMP) AS last_ts
  FROM (SELECT DISTINCT user_id FROM b) u
  UNION ALL
  SELECT b.user_id, b.rn,
         CASE WHEN l.cnt >= 2 THEN b.ts ELSE st.last_succ END,
         l.cnt >= 2, b.event_id, b.ts, l.cnt, l.mn, l.mx
  FROM st
  JOIN b ON b.user_id = st.user_id AND b.rn = st.rn + 1
  CROSS JOIN LATERAL (
    SELECT COUNT(*) AS cnt, MIN(a.ts) AS mn, MAX(a.ts) AS mx
    FROM a
    WHERE a.user_id = b.user_id
      AND a.ts < b.ts AND a.ts >= b.ts - INTERVAL 1440 MINUTE
      AND a.ts >= st.last_succ) l)
SELECT user_id, then_id, then_ts, n_first, first_ts, last_ts
FROM st WHERE matched
"""


@register("stream_cep_times_or_more", _STREAM_CEP_TOM_ORACLE)
def stream_cep_times_or_more(spark, sf_dir):
    ev = read_stream_table(spark, sf_dir, "events")
    m = (Pattern.begin("click").times_or_more(2).greedy()
         .followed_by("purchase").within(1440)
         .match_stream(ev, after_match="skip_past_last"))
    return _greedy_run_then(spark, sf_dir, m)


# --------------------------------------------------------------------------
# Unbounded stream-stream LEFT OUTER equi-join with retraction
# (StreamingJoinOperator.java:37 + OuterJoinRecordStateView): both sides
# live in keyed state; a left row with no match emits the null-padded row
# immediately, and the first later match retracts it (-D) and inserts the
# real pair.  The folded changelog must equal the batch LEFT JOIN.
# --------------------------------------------------------------------------
_STREAM_UPDATE_JOIN_ORACLE = """
SELECT l.user_id, l.event_id AS l_id, l.value AS l_value,
       r.event_id AS r_id, r.value AS r_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error' AND value > 95) r
  ON l.user_id = r.user_id
"""


@register("stream_update_join", _STREAM_UPDATE_JOIN_ORACLE)
def stream_update_join(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.stream_join import (
        LEFT_OUTER, fold_join_changelog, stream_stream_join)
    ev_l = read_stream_table(spark, sf_dir, "events").filter("event_type = 'purchase'")
    ev_r = (read_stream_table(spark, sf_dir, "events")
            .filter("event_type = 'error' AND value > 95"))
    clog = run_to_completion(
        stream_stream_join(ev_l, ev_r, "user_id", how=LEFT_OUTER), "append")
    return fold_join_changelog(clog, "user_id")


# --------------------------------------------------------------------------
# The same join's raw changelog op counts.  Deterministic because events
# are processed in (event-time, id) order per key: a left row emits a
# null-padded +I iff no match precedes it, and that row is -D-retracted
# iff a match exists at all (i.e. its first match arrives later).
# --------------------------------------------------------------------------
_STREAM_UPDATE_JOIN_OPS_ORACLE = """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
r AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'error' AND value > 95),
lstat AS (
  SELECT l.event_id,
         COALESCE(MAX(CASE WHEN (r.ts, r.event_id) < (l.ts, l.event_id)
                           THEN 1 ELSE 0 END), 0) AS matched_before,
         COUNT(r.event_id) AS n_match
  FROM l LEFT JOIN r ON l.user_id = r.user_id
  GROUP BY l.event_id)
SELECT '+I' AS op,
       CAST((SELECT COUNT(*) FROM l JOIN r ON l.user_id = r.user_id)
            + (SELECT COUNT(*) FROM lstat WHERE matched_before = 0)
            AS BIGINT) AS n
UNION ALL
SELECT '-D' AS op,
       CAST((SELECT COUNT(*) FROM lstat
             WHERE matched_before = 0 AND n_match > 0) AS BIGINT) AS n
"""


@register("stream_update_join_ops", _STREAM_UPDATE_JOIN_OPS_ORACLE)
def stream_update_join_ops(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.stream_join import (
        LEFT_OUTER, stream_stream_join)
    ev_l = read_stream_table(spark, sf_dir, "events").filter("event_type = 'purchase'")
    ev_r = (read_stream_table(spark, sf_dir, "events")
            .filter("event_type = 'error' AND value > 95"))
    clog = run_to_completion(
        stream_stream_join(ev_l, ev_r, "user_id", how=LEFT_OUTER), "append")
    return clog.groupBy("op").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# allowedLateness + late-data side output (WindowedStream.java:158-177,
# WindowOperator.java:144-151 isElementLate): per-key watermark = running
# max event time (in arrival order) minus the watermark delay; rows more
# than allowed-lateness behind it are flagged to the side output instead
# of silently dropped.  The bounded events table is time-sorted, so
# arrival order is synthesized with a multiplicative hash of event_id —
# deterministic and computable identically in both engines.
# --------------------------------------------------------------------------
_STREAM_LATE_ORACLE = """
WITH o AS (
  SELECT user_id, event_id, ts,
         (event_id * 2654435761) % 4294967296 AS ak
  FROM events),
w AS (
  SELECT user_id, event_id, ts,
         max(ts) OVER (PARTITION BY user_id ORDER BY ak
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM o)
SELECT user_id, event_id, ts,
       COALESCE(ts < pm - INTERVAL 60 MINUTE - INTERVAL 1440 MINUTE,
                FALSE) AS is_late
FROM w
"""


@register("stream_late_data_side_output", _STREAM_LATE_ORACLE)
def stream_late_data_side_output(spark, sf_dir):
    ev = (read_stream_table(spark, sf_dir, "events")
          .withColumn("__arrival",
                      (F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296)))
    return run_to_completion(
        stateful.late_data_split(ev, delay_minutes=60,
                                 allowed_lateness_minutes=1440), "append")


# --------------------------------------------------------------------------
# Early-firing window aggregate (window triggers):
# EventTimeTriggers.AfterEndOfWindow#withEarlyFirings(ElementTriggers.every())
# in flink-table-runtime-blink/.../operators/window/triggers/ — a window
# emits PARTIAL results while open and a FINAL result when the watermark
# passes its end.  Spark analog: update-mode window agg where every
# micro-batch is a firing (streaming/triggers.py).  Input arrival is made
# deterministic by splitting events into two time-interleaved chunks
# (even/odd event_id) streamed as one file per micro-batch: each window
# with rows in both chunks fires early on its chunk-0 rows, then finally
# on the full set; single-chunk windows fire once (final).
# --------------------------------------------------------------------------
_STREAM_EARLY_FIRE_ORACLE = """
WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                  event_id % 2 AS par
           FROM events),
tot AS (SELECT w_start, COUNT(*) AS n FROM e GROUP BY 1),
ev  AS (SELECT w_start, COUNT(*) AS n FROM e WHERE par = 0 GROUP BY 1),
od  AS (SELECT DISTINCT w_start FROM e WHERE par = 1)
SELECT ev.w_start, ev.n, 'early' AS op FROM ev JOIN od USING (w_start)
UNION ALL
SELECT w_start, n, 'final' AS op FROM tot
"""


@register("stream_window_early_fire", _STREAM_EARLY_FIRE_ORACLE)
def stream_window_early_fire(spark, sf_dir):
    import glob
    import os
    import shutil
    import time

    from flink_release_1_10_0_spark.streaming.triggers import run_with_early_firings

    ev = t(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "early_fire_split")
    src = scratch_dir(spark, "early_fire_src")
    # two time-interleaved chunks, one file each; mtimes force
    # FileStreamSource to process chunk 0 before chunk 1
    base = time.time() - 600
    for i in (0, 1):
        (ev.filter(F.col("event_id") % 2 == i).coalesce(1)
         .write.mode("overwrite").parquet(f"{tmp}/b{i}"))
        part = glob.glob(f"{tmp}/b{i}/part-*.parquet")[0]
        dst = f"{src}/chunk{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (base + i * 60, base + i * 60))
    schema = spark.read.parquet(src).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src))
    agg = (sdf.groupBy(F.window("ts", "1 hour"))
           .agg(F.count("*").alias("n"))
           .select(F.col("window.start").alias("w_start"), "n"))
    return run_with_early_firings(agg, key_cols=["w_start"])


# --------------------------------------------------------------------------
# DeltaTrigger (DeltaTrigger.java:38): fire when the delta between the
# last-fired element and the current one exceeds a threshold.  The
# oracle replays the same baseline walk with a recursive CTE (the
# firing history is inherently sequential — exactly why the reference
# models it as trigger ValueState).
# --------------------------------------------------------------------------
_DELTA_TRIGGER_ORACLE = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), walk AS (
  SELECT user_id, rn, event_id, ts, value,
         value AS baseline, FALSE AS fired, CAST(NULL AS DOUBLE) AS delta
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.event_id, s.ts, s.value,
         CASE WHEN abs(s.value - w.baseline) > 100.0
              THEN s.value ELSE w.baseline END,
         abs(s.value - w.baseline) > 100.0,
         round(abs(s.value - w.baseline), 6)
  FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT user_id, event_id, ts, value, delta FROM walk WHERE fired
"""


@register("stream_delta_trigger", _DELTA_TRIGGER_ORACLE)
def stream_delta_trigger(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.triggers import delta_trigger_firings
    ev = read_stream_table(spark, sf_dir, "events")
    return run_to_completion(delta_trigger_firings(ev, threshold=100.0), "append")


_PURGING_ORACLE = """
WITH paned AS (
  SELECT user_id, date_trunc('day', ts) AS w_start, ts, event_id, value,
         CAST((row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts, event_id) - 1) // 3 AS BIGINT)
           AS firing_seq
  FROM events
)
SELECT user_id, CAST(w_start AS TIMESTAMP) AS w_start, firing_seq,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(MAX(ts) AS TIMESTAMP) AS fire_ts
FROM paned
GROUP BY user_id, w_start, firing_seq
HAVING COUNT(*) = 3
"""


@register("stream_purging_count_trigger", _PURGING_ORACLE)
def stream_purging_count_trigger(spark, sf_dir):
    """PurgingTrigger.java:33 wrapping CountTrigger.java:35 — see
    streaming/triggers.py for the fire-and-purge semantics."""
    from flink_release_1_10_0_spark.streaming.triggers import (
        purging_count_trigger_firings)
    events = t(spark, sf_dir, "events")
    return purging_count_trigger_firings(events, n=3)


# --------------------------------------------------------------------------
# ContinuousEventTimeTrigger (ContinuousEventTimeTrigger.java:38): fire
# the accumulated window contents at every event-time interval boundary
# (CONTINUE, no purge) from the first element's boundary through the
# window end.  Fully declarative on a bounded stream — see
# streaming/triggers.py for the timer-chain semantics being reproduced.
# --------------------------------------------------------------------------
_CONTINUOUS_TRIGGER_ORACLE = """
WITH slots AS (
  SELECT user_id, date_trunc('day', ts) AS w_start,
         CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS INT) AS slot,
         COUNT(*) AS n_slot, SUM(CAST(value AS DECIMAL(18,2))) AS sum_slot
  FROM events GROUP BY 1, 2, 3
), grid AS (
  SELECT DISTINCT user_id, w_start, i
  FROM slots, (SELECT unnest(range(1, 5)) AS i) ticks
), cum AS (
  SELECT g.user_id, g.w_start, g.i,
         SUM(s.n_slot) AS n_so_far, SUM(s.sum_slot) AS sum_so_far
  FROM grid g JOIN slots s
    ON s.user_id = g.user_id AND s.w_start = g.w_start AND s.slot < g.i
  GROUP BY 1, 2, 3
)
SELECT user_id, CAST(w_start AS TIMESTAMP) AS w_start,
       CAST(w_start + to_hours(CAST(6 * i AS BIGINT)) AS TIMESTAMP) AS fire_at,
       CAST(n_so_far AS BIGINT) AS n_so_far,
       CAST(sum_so_far AS DOUBLE) AS sum_value_so_far
FROM cum WHERE n_so_far > 0
"""


@register("stream_continuous_trigger", _CONTINUOUS_TRIGGER_ORACLE)
def stream_continuous_trigger(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.triggers import (
        continuous_event_time_trigger_firings)
    events = t(spark, sf_dir, "events")
    return continuous_event_time_trigger_firings(events, interval_hours=6)


# --------------------------------------------------------------------------
# File streaming sink round trip (StreamingFileSink.java:98 +
# PartitionableTableSink): streaming scan -> calc -> checkpointed
# PARTITIONED parquet sink -> batch read-back of the committed files,
# aggregated to a compact result the oracle recomputes directly.  This
# upgrades the sink row from pytest-only to oracle-gated: the values
# that survive the sink's commit protocol (and the partition-column
# round trip through directory names) must equal the source-side
# aggregate exactly.
# --------------------------------------------------------------------------
_FILE_SINK_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events WHERE value > 50 GROUP BY event_type
"""


@register("sink_file_streaming_roundtrip", _FILE_SINK_ORACLE)
def sink_file_streaming_roundtrip(spark, sf_dir):
    from flink_release_1_10_0_spark.sources.streams import file_sink

    sdf = (read_stream_table(spark, sf_dir, "events")
           .filter("value > 50")
           .select("event_id", "event_type", "value"))
    out = scratch_dir(spark, "file_sink_rt_out")
    ckpt = scratch_dir(spark, "file_sink_rt_ckpt")
    q = file_sink(sdf, out, ckpt, partition_by=["event_type"],
                  available_now=True)
    q.awaitTermination()
    back = spark.read.parquet(out)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast(MONEY)).cast("double")
                 .alias("sum_value")))


# --------------------------------------------------------------------------
# CountEvictor analog (flink-streaming-java/.../windowing/evictors/
# CountEvictor.java:35): before the window function fires, evict all but
# the LAST n elements of the pane — the aggregate sees only the n most
# recent events per (key, window).  Declarative bounded-stream analog:
# rank within the pane in (ts, id) DESC order, keep rank <= n,
# aggregate.  One shuffle on (key, window) — the keys the evictor's
# pane state lives under; no global window, no Python.
# --------------------------------------------------------------------------
_COUNT_EVICTOR_ORACLE = """
WITH ranked AS (
  SELECT user_id, date_trunc('day', ts) AS w_start, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, CAST(w_start AS TIMESTAMP) AS w_start,
       COUNT(*) AS n_kept,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_kept,
       CAST(MAX(ts) AS TIMESTAMP) AS last_ts
FROM ranked WHERE rn <= 3
GROUP BY user_id, w_start
"""


@register("stream_count_evictor_window", _COUNT_EVICTOR_ORACLE)
def stream_count_evictor_window(spark, sf_dir):
    from pyspark.sql import Window
    events = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "w_start").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    ranked = (events
              .withColumn("w_start", F.date_trunc("day", F.col("ts")))
              .withColumn("rn", F.row_number().over(w)))
    return (ranked.filter(F.col("rn") <= 3)
            .groupBy("user_id", "w_start")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum(F.col("value").cast(MONEY)).cast("double")
                 .alias("sum_kept"),
                 F.max("ts").alias("last_ts")))


# --------------------------------------------------------------------------
# Checkpoint-resume exactly-once round trip (CheckpointCoordinator /
# FsStateBackend analog: flink-runtime/.../checkpoint/
# CheckpointCoordinator.java, StreamingFileSink.java:98 commit
# protocol).  The source directory is fed in TWO waves; the SAME
# checkpointed query runs once per wave (availableNow).  The second run
# must RESUME from the committed file offsets — reprocessing nothing,
# missing nothing — so the read-back aggregate equals the batch oracle
# over the full table exactly.  This upgrades the §2.9 checkpointing
# row from pytest-only contract evidence to an oracle-gated query.
# --------------------------------------------------------------------------
_CKPT_RESUME_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


@register("stream_checkpoint_resume_roundtrip", _CKPT_RESUME_ORACLE)
def stream_checkpoint_resume_roundtrip(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = scratch_dir(spark, "resume_rt_src")
    out = scratch_dir(spark, "resume_rt_out")
    ckpt = scratch_dir(spark, "resume_rt_ckpt")
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]

    def run_wave():
        sdf = (spark.readStream.schema(ev.schema).parquet(src))
        q = (sdf.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # wave 1: first half of the ids; wave 2 adds the rest — the resumed
    # run sees the checkpoint's committed offsets and processes ONLY the
    # new files (exactly-once despite the restart)
    ev.filter(F.col("event_id") <= mid).write.mode("append").parquet(src)
    run_wave()
    ev.filter(F.col("event_id") > mid).write.mode("append").parquet(src)
    run_wave()

    back = spark.read.parquet(out)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("event_id").alias("id_sum"),
                 F.sum(F.col("value").cast(MONEY)).cast("double")
                 .alias("sum_value")))


# --------------------------------------------------------------------------
# Feedback iteration (DataStream.iterate / IterativeStream.java:214 —
# closeWith feedback edge + forward output): each round halves v; rows
# with v>0 re-enter the loop head, rows that reached 0 leave with their
# round count.  The oracle replays the same loop as a recursive CTE.
# --------------------------------------------------------------------------
_ITER_FEEDBACK_ORACLE = """
WITH RECURSIVE it AS (
  SELECT event_id,
         CAST(FLOOR(ABS(value)) + 1 AS BIGINT) AS v,
         CAST(0 AS BIGINT) AS steps
  FROM events WHERE value IS NOT NULL
  UNION ALL
  SELECT event_id, CAST(FLOOR(v / 2.0) AS BIGINT) AS v, steps + 1
  FROM it WHERE v > 0
)
SELECT event_id, steps FROM it WHERE v = 0
"""


@register("stream_iterate_feedback_halving", _ITER_FEEDBACK_ORACLE)
def stream_iterate_feedback_halving(spark, sf_dir):
    """IterativeStream analog: the loop body is a distributed plan per
    round; the driver holds only the round counter (streaming/iterate.py)."""
    from flink_release_1_10_0_spark.streaming.iterate import iterate_feedback

    base = (t(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select("event_id",
                    (F.floor(F.abs(F.col("value"))) + 1)
                    .cast("bigint").alias("v"),
                    F.lit(0).cast("bigint").alias("steps")))

    def step(cur):
        stepped = cur.select(
            "event_id",
            F.floor(F.col("v") / 2).cast("bigint").alias("v"),
            (F.col("steps") + 1).alias("steps"))
        return (stepped.filter(F.col("v") > 0),
                stepped.filter(F.col("v") <= 0).select("event_id", "steps"))

    return iterate_feedback(base, step, max_iterations=64)


# --------------------------------------------------------------------------
# Delta iteration (DataSet.iterateDelta / DeltaIteration.java) — Flink's
# canonical incremental single-source shortest paths: solution set
# (node, dist) updated only by improving deltas; workset = last round's
# improvements; terminates when no distance improves.  Edges form a DAG
# (dst > src always) derived from events, so the recursive-CTE oracle
# terminates too.
# --------------------------------------------------------------------------
_DELTA_SSSP_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT user_id AS src,
         user_id + (CAST(FLOOR(value) AS BIGINT) % 7) + 1 AS dst
  FROM events WHERE value IS NOT NULL AND user_id < 60
),
d AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT e.dst AS node, d.dist + 1 AS dist
  FROM d JOIN edges e ON e.src = d.node
)
SELECT node, MIN(dist) AS dist FROM d GROUP BY node
"""


@register("dataset_delta_iteration_sssp", _DELTA_SSSP_ORACLE)
def dataset_delta_iteration_sssp(spark, sf_dir):
    """DeltaIteration analog (operators/iterate.py:delta_iterate): only
    the delta and workset shuffle per round; the solution set is merged
    by a keyed anti-join upsert — the reference's partitioned
    solution-set contract."""
    from flink_release_1_10_0_spark.operators.iterate import delta_iterate

    edges = (t(spark, sf_dir, "events")
             .filter(F.col("value").isNotNull() & (F.col("user_id") < 60))
             .select(F.col("user_id").alias("src"),
                     (F.col("user_id")
                      + F.floor(F.col("value")).cast("bigint") % 7 + 1)
                     .alias("dst"))
             .distinct())
    seed = spark.createDataFrame([(0, 0)], "node bigint, dist bigint")

    def step(solution, workset):
        cand = (workset.join(edges, workset.node == edges.src)
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + 1).alias("dist"))
                .groupBy("node").agg(F.min("dist").alias("dist")))
        delta = (cand.alias("c")
                 .join(solution.alias("s"), on="node", how="left")
                 .filter(F.col("s.dist").isNull()
                         | (F.col("c.dist") < F.col("s.dist")))
                 .select("node", F.col("c.dist").alias("dist")))
        return delta, delta

    return delta_iterate(seed, seed, step, 100, key_cols=["node"])


# --------------------------------------------------------------------------
# Queryable state (KeyedStream.java:1020 asQueryableState +
# QueryableStateClient.java): a keyed streaming aggregation's state is
# continuously upserted into an external store via foreachBatch
# (update-mode deltas through the dbapi connector); the snapshot read
# back from the store must equal the batch aggregate.
# --------------------------------------------------------------------------
_QSTATE_ORACLE = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY user_id
"""


@register("queryable_state_snapshot", _QSTATE_ORACLE)
def queryable_state_snapshot(spark, sf_dir):
    """streaming/queryable.py: state lives in the external store (keyed
    upsert per micro-batch), lookups need no SparkSession — the
    QueryableStateClient contract."""
    from flink_release_1_10_0_spark.streaming.queryable import (
        as_queryable_state)

    ev = read_stream_table(spark, sf_dir, "events")
    state = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total")))
    handle = as_queryable_state(state, "events_by_user",
                                ["user_id"], backend="dbapi")
    return handle.snapshot()


# --------------------------------------------------------------------------
# TimeEvictor analog (flink-streaming-java/.../windowing/evictors/
# TimeEvictor.java:40): before the window function fires, evict every
# element older than windowSize from the window's MAX timestamp — keep
# only the trailing 6 hours of each day window.  One shuffle on
# (key, window); the evictor itself is a ranking-free filter against
# the per-window max.
# --------------------------------------------------------------------------
_TIME_EVICTOR_ORACLE = """
WITH w AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
         ts, value,
         MAX(ts) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS mx
  FROM events)
SELECT user_id, w_start, COUNT(*) AS n_kept,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_kept
FROM w
WHERE ts > mx - INTERVAL 6 HOUR
GROUP BY user_id, w_start
"""


@register("stream_time_evictor_window", _TIME_EVICTOR_ORACLE)
def stream_time_evictor_window(spark, sf_dir):
    from pyspark.sql import Window
    events = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "w_start")
    kept = (events
            .withColumn("w_start", F.date_trunc("day", F.col("ts")))
            .withColumn("mx", F.max("ts").over(w))
            .filter(F.col("ts") > F.col("mx") - F.expr("INTERVAL 6 HOURS")))
    return (kept.groupBy("user_id", "w_start")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum(F.col("value").cast(MONEY)).cast("double")
                 .alias("sum_kept")))


# --------------------------------------------------------------------------
# DeltaEvictor analog (.../evictors/DeltaEvictor.java:38): evict every
# element whose delta against the window's LAST element reaches the
# threshold; the window function then aggregates the survivors.
# delta = |value - last value|, threshold 50.
# --------------------------------------------------------------------------
_DELTA_EVICTOR_ORACLE = """
WITH w AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
         ts, value,
         last_value(value) OVER (
             PARTITION BY user_id, date_trunc('day', ts)
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS lastv
  FROM events)
SELECT user_id, w_start, COUNT(*) AS n_kept,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_kept
FROM w
WHERE ABS(value - lastv) < 50
GROUP BY user_id, w_start
"""


@register("stream_delta_evictor_window", _DELTA_EVICTOR_ORACLE)
def stream_delta_evictor_window(spark, sf_dir):
    from pyspark.sql import Window
    events = t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id", "w_start")
         .orderBy(F.col("ts"), F.col("event_id"))
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    kept = (events
            .withColumn("w_start", F.date_trunc("day", F.col("ts")))
            .withColumn("lastv", F.last("value").over(w))
            .filter(F.abs(F.col("value") - F.col("lastv")) < 50))
    return (kept.groupBy("user_id", "w_start")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum(F.col("value").cast(MONEY)).cast("double")
                 .alias("sum_kept")))


# --------------------------------------------------------------------------
# AsyncTableFunction analog (flink-table-common/.../functions/
# AsyncTableFunction.java; async lookup-join runner in
# StreamExecLookupJoin.scala): each probe row triggers an async fetch
# against an EXTERNAL keyed store (the dbapi connector's sqlite db) returning
# a table of matching rows, laterally joined in input order.  The
# oracle is the plain equi-join the async lateral must equal.
# --------------------------------------------------------------------------
_ASYNC_TABLE_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_custkey % 10 = 3
"""


@register("async_table_lookup_join", _ASYNC_TABLE_ORACLE)
def async_table_lookup_join(spark, sf_dir):
    """streaming/async_io.py:async_table_enrich — bounded in-flight async
    fetches per Arrow batch, 1-to-N lateral expansion, executor-side
    DB connections (no driver round trip)."""
    from pyspark.sql.types import DoubleType, LongType

    from flink_release_1_10_0_spark.sources import dbapi
    from flink_release_1_10_0_spark.streaming.async_io import (
        async_table_enrich)

    url = scratch_dir(spark, "async_tbl") + "/orders.db"
    dbapi.create_table(url, "CREATE TABLE orders_t ("
                            "o_orderkey BIGINT, o_custkey BIGINT, "
                            "o_totalprice DOUBLE)")
    dbapi.create_table(url, "CREATE INDEX idx_ock ON orders_t (o_custkey)")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"))
    dbapi.write(orders, url, "orders_t")

    async def fetch_orders(custkey: int):
        from flink_release_1_10_0_spark.sources.dbapi import _connect
        con = _connect(url, read_only=True)
        try:
            return con.execute(
                "SELECT o_orderkey, o_totalprice FROM orders_t "
                "WHERE o_custkey = ?", (custkey,)).fetchall()
        finally:
            con.close()

    probe = (t(spark, sf_dir, "customer")
             .filter(F.col("c_custkey") % 10 == 3)
             .select("c_custkey", "c_mktsegment"))
    return async_table_enrich(
        probe, "c_custkey", fetch_orders,
        [("o_orderkey", LongType()), ("o_totalprice", DoubleType())])


# --------------------------------------------------------------------------
# sortPartition oracle upgrade (DataSet.sortPartition ->
# flink-java/.../operators/SortPartitionOperator.java): hash-partition
# on the key, partition-LOCAL sort (no global shuffle), then a
# per-partition scan that keeps each key's first row.  Because the hash
# partitioning co-locates every row of a key, the per-partition
# first-seen row IS the global argmin per key — the oracle states that
# directly, so any defect in the partitioner or the partition-local
# sort order flips the result.
# --------------------------------------------------------------------------
_SORT_PARTITION_ORACLE = """
SELECT user_id, event_id, CAST(value AS DOUBLE) AS value
FROM (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
"""


@register("dataset_sort_partition_first_per_key", _SORT_PARTITION_ORACLE)
def dataset_sort_partition_first_per_key(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("value").cast("double"))
    stream = (DataStream(ev)
              .partition_by_hash(16, "user_id")
              .sort_partition("user_id", "ts", "event_id"))

    def first_per_key(batches):
        seen = set()
        for pdf in batches:
            mask = []
            for uid in pdf["user_id"]:
                mask.append(uid not in seen)
                seen.add(uid)
            out = pdf[mask]
            if len(out):
                yield out[["user_id", "event_id", "value"]]

    return stream.df.mapInPandas(
        first_per_key, "user_id bigint, event_id bigint, value double")


# --------------------------------------------------------------------------
# Punctuated watermarks (AssignerWithPunctuatedWatermarks.java): the
# watermark advances only on punctuation records ('signup' events), to
# their event time, evaluated in ARRIVAL order (event_id) per stream
# partition (user_id); records whose event time is below the watermark
# in force at arrival are late.  The oracle restates the running-max
# semantics directly.
# --------------------------------------------------------------------------
_PUNCT_WM_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, ts,
         MAX(CASE WHEN event_type = 'signup' THEN ts END) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
  FROM events)
SELECT user_id,
       COUNT(*) FILTER (WHERE wm IS NOT NULL AND ts < wm) AS n_late,
       COUNT(*) FILTER (WHERE wm IS NULL OR ts >= wm) AS n_on_time,
       CAST(MAX(wm) AS TIMESTAMP) AS final_wm
FROM o GROUP BY user_id
"""


@register("stream_punctuated_watermark_lateness", _PUNCT_WM_ORACLE)
def stream_punctuated_watermark_lateness(spark, sf_dir):
    from flink_release_1_10_0_spark.streaming.triggers import (
        assign_punctuated_watermarks)

    ev = t(spark, sf_dir, "events")
    marked = assign_punctuated_watermarks(
        ev, F.col("event_type") == "signup", "ts", "event_id", "user_id")
    return (marked.groupBy("user_id")
            .agg(F.count(F.when(F.col("is_late"), 1)).alias("n_late"),
                 F.count(F.when(~F.col("is_late"), 1)).alias("n_on_time"),
                 F.max("wm").alias("final_wm")))


# --------------------------------------------------------------------------
# Async I/O, UNORDERED mode (AsyncDataStream.unorderedWait /
# AsyncWaitOperator.java:76): results emit in completion order with a
# timeout fallback; the result SET must equal the ordered mode's — the
# reference's ordered/unordered contract — which the order-insensitive
# oracle compare checks exactly.
# --------------------------------------------------------------------------
_ASYNC_UNORD_ORACLE = """
SELECT user_id, event_id, 'seg_' || CAST(user_id % 5 AS VARCHAR) AS segment
FROM events
"""


@register("stream_async_io_unordered", _ASYNC_UNORD_ORACLE)
def stream_async_io_unordered(spark, sf_dir):
    import asyncio

    from flink_release_1_10_0_spark.streaming.async_io import (
        async_enrich_unordered)

    async def seg_service(uid: int) -> str:
        # completion order deliberately differs from input order
        await asyncio.sleep(0.001 * (uid % 3))
        return f"seg_{uid % 5}"

    ev = t(spark, sf_dir, "events").select("user_id", "event_id")
    return async_enrich_unordered(ev, "user_id", "segment", seg_service,
                                  capacity=64, timeout_s=30.0,
                                  on_timeout="seg_timeout")
