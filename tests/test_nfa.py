"""Generic CEP NFA engine tests (``streaming/nfa.py``) on synthetic
micro-streams: greedy loops, after-match skip, strict contiguity and
negation guards mid-pattern, and cross-batch state carryover.

Reference shapes mirrored: ``flink-libraries/flink-cep/.../pattern/
Pattern.java:50-542`` quantifiers and ``nfa/aftermatch/`` skip
strategies (``MatchRecognizeITCase`` style scenarios)."""

from __future__ import annotations

import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_release_1_10_0_spark.streaming.core import run_to_completion
from flink_release_1_10_0_spark.streaming.nfa import (
    NO_SKIP, SKIP_PAST_LAST, NfaStage, match_nfa)

_SCHEMA = ("event_id bigint, ts string, user_id bigint, "
           "event_type string, value double")


def _stream(spark, rows):
    """Bounded micro-stream from literal rows (one parquet batch)."""
    df = (spark.createDataFrame(rows, _SCHEMA)
          .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_src_")
    # one part-file per write: the NFA contract is event-time-ordered
    # arrival per key (same as the reference's event-time CEP); multiple
    # part-files can be listed out of order across micro-batches
    df.coalesce(1).write.mode("append").parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def _matches(spark, rows, stages, **kw):
    out = run_to_completion(
        match_nfa(_stream(spark, rows), stages, **kw), "append")
    return sorted((tuple(r.ev_ids) for r in out.collect()))


def _ev(i, minute, etype, value=0.0, user=1):
    return (i, f"2024-01-01 10:{minute:02d}:00", user, etype, value)


def test_greedy_suppresses_advance_branch(spark):
    """value<50 oneOrMore then value>=30: an event matching BOTH preds
    forks a branch without greedy() and does not with it
    (Pattern.greedy: the loop consumes as much as possible)."""
    rows = [_ev(1, 0, "m", 10.0), _ev(2, 1, "m", 40.0), _ev(3, 2, "m", 100.0)]

    def stages(greedy):
        return [NfaStage(pred="value < 50", min_times=1, max_times=None,
                         greedy=greedy),
                NfaStage(pred="value >= 30")]

    assert _matches(spark, rows, stages(False)) == [(1, 2), (1, 2, 3), (2, 3)]
    assert _matches(spark, rows, stages(True)) == [(1, 2, 3), (2, 3)]


def test_after_match_skip_past_last(spark):
    """A then B over A1 A2 B1 A3 B2: no-skip emits every (A, next B)
    pair; skipPastLastEvent discards partial matches begun at/before a
    match end (AfterMatchSkipStrategy.skipPastLastEvent)."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "a"), _ev(3, 2, "b"),
            _ev(4, 3, "a"), _ev(5, 4, "b")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'")]
    assert _matches(spark, rows, stages, after_match=NO_SKIP) == \
        [(1, 3), (2, 3), (4, 5)]
    assert _matches(spark, rows, stages, after_match=SKIP_PAST_LAST) == \
        [(1, 3), (4, 5)]


def test_strict_contiguity_mid_pattern(spark):
    """a next(b) followedBy(c): any event between a and b kills the run
    (Pattern.next — TAKE edge with no ignore self-loop)."""
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", contiguity="strict"),
              NfaStage(pred="event_type = 'c'")]
    broken = [_ev(1, 0, "a"), _ev(2, 1, "x"), _ev(3, 2, "b"), _ev(4, 3, "c")]
    intact = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "x"), _ev(4, 3, "c")]
    assert _matches(spark, broken, stages) == []
    assert _matches(spark, intact, stages) == [(1, 2, 4)]


def test_negation_guard_between_stages(spark):
    """a notFollowedBy(g) followedBy(b): a g-event strictly between the
    consumed a and b kills the run; any other event is ignored."""
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'g'", negated=True),
              NfaStage(pred="event_type = 'b'")]
    poisoned = [_ev(1, 0, "a"), _ev(2, 1, "g"), _ev(3, 2, "b")]
    clean = [_ev(1, 0, "a"), _ev(2, 1, "x"), _ev(3, 2, "b")]
    assert _matches(spark, poisoned, stages) == []
    assert _matches(spark, clean, stages) == [(1, 3)]


def test_within_window_kills_runs(spark):
    """a followedBy b within 10 minutes: a b arriving past the window
    cannot complete the run."""
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'")]
    rows = [_ev(1, 0, "a"), _ev(2, 30, "b"), _ev(3, 35, "a"), _ev(4, 40, "b")]
    assert _matches(spark, rows, stages, within_minutes=10) == [(3, 4)]


def test_times_range_saturation(spark):
    """a.times(2) then b: the loop must consume exactly 2 a's before b
    (relaxed between iterations)."""
    stages = [NfaStage(pred="event_type = 'a'", min_times=2, max_times=2),
              NfaStage(pred="event_type = 'b'")]
    rows = [_ev(1, 0, "a"), _ev(2, 1, "x"), _ev(3, 2, "a"), _ev(4, 3, "b")]
    # run from a1: a1,a3,b ; fresh run from a3 never reaches 2 a's
    assert _matches(spark, rows, stages) == [(1, 3, 4)]


def test_validation_rejects_unsupported_shapes(spark):
    with pytest.raises(NotImplementedError):
        match_nfa(_stream(spark, [_ev(1, 0, "a")]),
                  [NfaStage(pred="event_type = 'a'"),
                   NfaStage(pred="event_type = 'b'", negated=True)])
    # GREEDY maximal-match emission needs a loop close / lookahead:
    # trailing greedy unbounded loop without until, and trailing greedy
    # optional, both refuse (their non-greedy forms are supported)
    with pytest.raises(NotImplementedError, match="GREEDY relaxed"):
        match_nfa(_stream(spark, [_ev(1, 0, "a")]),
                  [NfaStage(pred="event_type = 'a'", min_times=1,
                            max_times=None, greedy=True)])
    with pytest.raises(NotImplementedError, match="GREEDY optional"):
        match_nfa(_stream(spark, [_ev(1, 0, "a")]),
                  [NfaStage(pred="event_type = 'a'"),
                   NfaStage(pred="event_type = 'b'", min_times=0,
                            max_times=1, greedy=True)])


def test_trailing_one_or_more_emits_per_extension(spark):
    """a b.oneOrMore() (non-greedy, no until): every prefix emits —
    Pattern.java:306 partial-match semantics."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "x"), _ev(4, 3, "b")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1,
                       max_times=None)]
    assert _matches(spark, rows, stages) == [(1, 2), (1, 2, 4)]


def test_trailing_until_stops_without_reemitting(spark):
    """a b+ until(c): prefixes emit per extension; the until event only
    kills the run (no duplicate maximal match), and b's after the close
    extend nothing."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"),
            _ev(4, 3, "c"), _ev(5, 4, "b")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1,
                       max_times=None, until="event_type = 'c'")]
    assert _matches(spark, rows, stages) == [(1, 2), (1, 2, 3)]


def test_trailing_greedy_until_emits_maximal_only(spark):
    """The greedy (SQL-quantifier) tier keeps maximal-match emission on
    loop close."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"), _ev(4, 3, "c")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1,
                       max_times=None, greedy=True,
                       until="event_type = 'c'")]
    assert _matches(spark, rows, stages) == [(1, 2, 3)]


def test_trailing_optional_emits_short_and_long(spark):
    """a b.optional(): both matches emit (Pattern.java:246), the short
    one immediately, the long one on the optional extension."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "x"), _ev(3, 2, "b")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=0, max_times=1)]
    assert _matches(spark, rows, stages) == [(1,), (1, 3)]
    # no b at all: only the short match
    assert _matches(spark, [_ev(1, 0, "a"), _ev(2, 1, "x")], stages) == [(1,)]


def test_single_stage_loop_per_extension(spark):
    """A bare non-greedy a+ pattern: each take is already a complete
    match — (a1), (a1 a2), (a2) under no-skip."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "a")]
    stages = [NfaStage(pred="event_type = 'a'", min_times=1,
                       max_times=None)]
    assert _matches(spark, rows, stages) == [(1,), (1, 2), (2,)]


def test_nfa_state_carries_across_batches(spark):
    """Partial runs must survive micro-batch boundaries: the 4-stage
    sequence arrives one event per batch."""
    import time

    stages = [NfaStage(pred=f"event_type = '{t}'") for t in "abcd"]
    src = tempfile.mkdtemp(prefix="nfa_mb_")
    ckpt = tempfile.mkdtemp(prefix="nfa_mb_ckpt_")
    batches = [[_ev(1, 0, "a")], [_ev(2, 1, "b")],
               [_ev(3, 2, "c"), _ev(4, 3, "d")]]
    df0 = (spark.createDataFrame(batches[0], _SCHEMA)
           .withColumn("ts", F.col("ts").cast("timestamp")))
    df0.coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(df0.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    q = (match_nfa(sdf, stages).writeStream.format("memory")
         .queryName("_nfa_mb").outputMode("append")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            (spark.createDataFrame(b, _SCHEMA)
             .withColumn("ts", F.col("ts").cast("timestamp"))
             .coalesce(1).write.mode("append").parquet(src))
            time.sleep(0.1)
            q.processAllAvailable()
        rows = spark.table("_nfa_mb").collect()
        assert [tuple(r.ev_ids) for r in rows] == [(1, 2, 3, 4)]
    finally:
        q.stop()


def test_silent_key_flushes_on_cross_key_watermark(spark):
    """watermark_timers: a key that goes SILENT forever still emits its
    satisfied trailing-greedy maximal match when the GLOBAL watermark —
    advanced only by OTHER keys' events — passes its within-window
    (CepOperator.java:82 onEventTime).  Without timers this match would
    be held open until a same-key arrival that never comes."""
    import time

    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1,
                       max_times=None, greedy=True)]
    src = tempfile.mkdtemp(prefix="nfa_wm_")
    ckpt = tempfile.mkdtemp(prefix="nfa_wm_ckpt_")
    # batch 1: user 1 completes a b b inside its 10-minute window, then
    # goes silent; batch 2: user 2's unrelated event at 10:30 advances
    # the global watermark past 10:00 + 10 min
    batches = [[_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b")],
               [_ev(9, 30, "x", user=2)]]
    df0 = (spark.createDataFrame(batches[0], _SCHEMA)
           .withColumn("ts", F.col("ts").cast("timestamp")))
    df0.coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(df0.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    q = (match_nfa(sdf, stages, within_minutes=10,
                   watermark_timers="0 seconds")
         .writeStream.format("memory").queryName("_nfa_wm")
         .outputMode("append")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # silent so far: the maximal match is still extendable
        assert spark.table("_nfa_wm").count() == 0
        (spark.createDataFrame(batches[1], _SCHEMA)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .coalesce(1).write.mode("append").parquet(src))
        time.sleep(0.1)
        q.processAllAvailable()
        # the no-data batch after the watermark advance fires the timer
        deadline = time.monotonic() + 30
        while (spark.table("_nfa_wm").count() == 0
               and time.monotonic() < deadline):
            time.sleep(0.3)
            q.processAllAvailable()
        rows = spark.table("_nfa_wm").collect()
        assert [(r.user_id, tuple(r.ev_ids)) for r in rows] == [(1, (1, 2, 3))]
        # state hygiene: after the flush, neither key has anything to
        # persist (user 1 emitted and emptied; user 2 never matched) —
        # the state store must drop both rows, not hold empty entries
        # forever (the unbounded-growth hazard on silent keys)
        q.processAllAvailable()
        prog = q.lastProgress
        if prog and prog.get("stateOperators"):
            assert prog["stateOperators"][0]["numRowsTotal"] == 0
    finally:
        q.stop()


def test_silent_key_partial_times_out_via_timer(spark):
    """watermark_timers + emit_timeouts: a silent key's UNSATISFIED
    partial reaches the timeout output when the global watermark passes
    its window (TimedOutPartialMatchHandler via onEventTime), without a
    same-key arrival."""
    import time

    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'")]
    src = tempfile.mkdtemp(prefix="nfa_wmto_")
    ckpt = tempfile.mkdtemp(prefix="nfa_wmto_ckpt_")
    df0 = (spark.createDataFrame([_ev(1, 0, "a")], _SCHEMA)
           .withColumn("ts", F.col("ts").cast("timestamp")))
    df0.coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(df0.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    q = (match_nfa(sdf, stages, within_minutes=10, emit_timeouts=True,
                   watermark_timers="0 seconds")
         .writeStream.format("memory").queryName("_nfa_wmto")
         .outputMode("append")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        (spark.createDataFrame([_ev(9, 30, "x", user=2)], _SCHEMA)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .coalesce(1).write.mode("append").parquet(src))
        time.sleep(0.1)
        q.processAllAvailable()
        deadline = time.monotonic() + 30
        while (spark.table("_nfa_wmto").count() == 0
               and time.monotonic() < deadline):
            time.sleep(0.3)
            q.processAllAvailable()
        rows = spark.table("_nfa_wmto").collect()
        assert [(r.user_id, tuple(r.ev_ids), r.timed_out)
                for r in rows] == [(1, (1,), True)]
    finally:
        q.stop()


def test_watermark_timers_require_window(spark):
    """Timers without a within-window are refused loudly: a silent key's
    pending runs are undecidable without one."""
    stages = [NfaStage(pred="event_type = 'a'")]
    with pytest.raises(ValueError, match="watermark_timers"):
        match_nfa(_stream(spark, [_ev(1, 0, "a")]), stages,
                  watermark_timers="0 seconds")


def test_pattern_facade_routes_watermark_timers(spark):
    """Pattern.match_stream(watermark_timers=...) routes to the generic
    NFA with timers armed; the refusal stays loud (no window)."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    ev = _stream(spark, [_ev(1, 0, "a")])
    # routed: plan builds (EventTimeTimeout is a run-time property; the
    # returned frame is a streaming stateful apply)
    out = (Pattern.begin("a").followed_by("b").within(10)
           .match_stream(ev, watermark_timers="0 seconds"))
    assert out.isStreaming
    with pytest.raises(ValueError, match="watermark_timers"):
        (Pattern.begin("a").followed_by("b")
         .match_stream(ev, watermark_timers="0 seconds"))


def test_skip_cut_is_event_position_not_timestamp(spark):
    """Two events in the SAME microsecond: after-match skip prunes by
    event position (ts, event_id), not bare timestamp.  start@T0, then
    start(id2) and click(id3) sharing one timestamp, then purchase:
    SKIP TO LAST B's target is the click (id3), so the run begun at id2
    — same microsecond, earlier position — must die with it.  A
    ts-granularity cut (cut = target_ts - 1) would let it survive and
    emit a spurious (2, 3, 4) match."""
    same = "2024-01-01 10:05:00"
    rows = [(1, "2024-01-01 10:00:00", 1, "start", 0.0),
            (2, same, 1, "start", 0.0),
            (3, same, 1, "click", 0.0),
            (4, "2024-01-01 10:06:00", 1, "purchase", 0.0)]
    stages = [NfaStage(pred="event_type = 'start'", name="A"),
              NfaStage(pred="event_type = 'click'", name="B",
                       min_times=1, max_times=None, until="event_type = 'purchase'"),
              NfaStage(pred="event_type = 'purchase'", name="C")]
    got = _matches(spark, rows, stages, after_match=("skip_to_last", "B"))
    assert got == [(1, 3, 4)]


def test_skip_to_first_vs_last_loop_event(spark):
    """A B+ C (A=click, B=view loop, C=purchase) over
    click,view,click,view,purchase: the maximal match (1,2,4,5) emits
    first; SKIP TO FIRST B cuts at view id2, so the run begun at
    click id3 (later position) survives and emits (3,4,5), while
    SKIP TO LAST B cuts at view id4 and kills it
    (AfterMatchSkipStrategy.skipToFirst vs skipToLast)."""
    rows = [_ev(1, 0, "click"), _ev(2, 1, "view"), _ev(3, 2, "click"),
            _ev(4, 3, "view"), _ev(5, 4, "purchase")]
    stages = [NfaStage(pred="event_type = 'click'", name="A"),
              NfaStage(pred="event_type = 'view'", name="B",
                       min_times=1, max_times=None,
                       until="event_type = 'purchase'"),
              NfaStage(pred="event_type = 'purchase'", name="C")]
    first = _matches(spark, rows, stages,
                     after_match=("skip_to_first", "B"))
    last = _matches(spark, rows, stages,
                    after_match=("skip_to_last", "B"))
    assert first == [(1, 2, 4, 5), (3, 4, 5)]
    assert last == [(1, 2, 4, 5)]


def test_timeout_partial_matches_emitted(spark):
    """emit_timeouts: a window-expired partial run is emitted with
    timed_out=true instead of vanishing (TimedOutPartialMatchHandler /
    PatternStream.flatSelect timeoutTag)."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "x"), _ev(3, 3, "x"),   # a1 expires
            _ev(4, 4, "a"), _ev(5, 5, "b")]                   # a2-b match
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'")]
    out = run_to_completion(
        match_nfa(_stream(spark, rows), stages, within_minutes=2,
                  emit_timeouts=True), "append")
    got = sorted((tuple(r.ev_ids), r.timed_out, r.n_events)
                 for r in out.collect())
    assert got == [((1,), True, 1), ((4, 5), False, 2)]


def test_timeout_reports_partial_depth(spark):
    """A three-stage run that consumed two events times out with the
    two-event prefix (the handler receives the partial match content)."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 4, "x")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'"),
              NfaStage(pred="event_type = 'c'")]
    out = run_to_completion(
        match_nfa(_stream(spark, rows), stages, within_minutes=2,
                  emit_timeouts=True), "append")
    got = sorted((tuple(r.ev_ids), r.timed_out) for r in out.collect())
    assert got == [((1, 2), True)]


def test_timeout_requires_within(spark):
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'")]
    with pytest.raises(ValueError, match="within"):
        match_nfa(_stream(spark, [_ev(1, 0, "a")]), stages,
                  emit_timeouts=True)


def test_allow_combinations_enumerates_subsequences(spark):
    """oneOrMore().allowCombinations() (Quantifier.java): a1 a2 a3 b
    yields all 7 non-empty subsequences closed by b."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "a"), _ev(2, 1, "a"), _ev(3, 2, "a"), _ev(4, 3, "b")]
    pat = (Pattern.begin("a").one_or_more().allow_combinations()
           .followed_by("b"))
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    got = sorted(tuple(r.ev_ids) for r in out.collect())
    assert got == [(1, 2, 3, 4), (1, 2, 4), (1, 3, 4), (1, 4),
                   (2, 3, 4), (2, 4), (3, 4)]


def test_allow_combinations_needs_loop(spark):
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    with pytest.raises(ValueError, match="loop"):
        Pattern.begin("a").allow_combinations()


def test_relaxed_loop_contiguity_table(spark):
    """The reference docs' relaxed row: `a b+ c` over
    a b1 d b2 d b3 c emits {a b1 c}, {a b1 b2 c}, {a b1 b2 b3 c} —
    stop-early prefixes anchored at the loop's first take."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "d"),
            _ev(4, 3, "b"), _ev(5, 4, "d"), _ev(6, 5, "b"), _ev(7, 6, "c")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=None),
              NfaStage(pred="event_type = 'c'")]
    assert _matches(spark, rows, stages) == \
        [(1, 2, 4, 6, 7), (1, 2, 4, 7), (1, 2, 7)]


def test_consecutive_loop_contiguity_table(spark):
    """The reference docs' consecutive row: same input, strict inner
    contiguity — only {a b1 c} survives (d kills the loop branch but
    the proceeded prefix state lives through c's IGNORE edge)."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "d"),
            _ev(4, 3, "b"), _ev(5, 4, "d"), _ev(6, 5, "b"), _ev(7, 6, "c")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=None,
                       contiguity="strict"),
              NfaStage(pred="event_type = 'c'")]
    assert _matches(spark, rows, stages) == [(1, 2, 7)]


def test_loop_branch_survives_advance(spark):
    """The loop's IGNORE edge keeps its branch alive when the run
    advances on a closing event: a b+ c over a b1 c1 b2 c2 matches
    (a b1 c1), (a b1 b2 c2) AND (a b1 c2)."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "c"),
            _ev(4, 3, "b"), _ev(5, 4, "c")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=None),
              NfaStage(pred="event_type = 'c'")]
    assert _matches(spark, rows, stages) == [(1, 2, 3), (1, 2, 4, 5), (1, 2, 5)]


def test_combinations_anchor_at_first_take(spark):
    """allowCombinations is INNER contiguity: the loop's first take is
    governed by the outer relaxed strategy, so `a b+ c` combinations
    over a b1 b2 c emits {a b1 c} and {a b1 b2 c} but never a subset
    missing b1 (the reference's combinations row)."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"), _ev(4, 3, "c")]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=None,
                       contiguity="relaxed_nd"),
              NfaStage(pred="event_type = 'c'")]
    assert _matches(spark, rows, stages) == [(1, 2, 3, 4), (1, 2, 4)]


def test_leading_optional_starts_at_second_stage(spark):
    """A? B (Pattern.begin(a).optional().followed_by(b)): the start
    state PROCEEDs through the leading optional, so a lone b matches,
    and an a b input yields both the long and the short match."""
    stages = [NfaStage(pred="event_type = 'a'", min_times=0, max_times=1),
              NfaStage(pred="event_type = 'b'")]
    assert _matches(spark, [_ev(1, 0, "x"), _ev(2, 1, "b")], stages) == [(2,)]
    assert _matches(spark, [_ev(1, 0, "a"), _ev(2, 1, "b")], stages) == \
        [(1, 2), (2,)]


def test_leading_star_all_branches(spark):
    """A* B over a1 a2 b: zero-, one- and two-A starts all match —
    {a1 a2 b}, {a1 b}, {a2 b}, {b}."""
    stages = [NfaStage(pred="event_type = 'a'", min_times=0, max_times=None),
              NfaStage(pred="event_type = 'b'")]
    rows = [_ev(1, 0, "a"), _ev(2, 1, "a"), _ev(3, 2, "b")]
    assert _matches(spark, rows, stages) == [(1, 2, 3), (1, 3), (2, 3), (3,)]


def test_sql_pattern_rejects_leading_optional(spark):
    from flink_release_1_10_0_spark.streaming.cep import compile_match_pattern

    with pytest.raises(NotImplementedError, match="leading"):
        compile_match_pattern("A? B", {"A": "value < 10", "B": "value >= 10"})


def test_times_range_facade(spark):
    """Pattern.times(from, to) (Pattern.java:472): a.times(1, 2) then b
    over a1 a2 b emits the 2-take branch, the stop-early 1-take prefix,
    and the fresh 1-take run."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "a"), _ev(2, 1, "a"), _ev(3, 2, "b")]
    pat = Pattern.begin("a").times(1, 2).followed_by("b")
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    got = sorted(tuple(r.ev_ids) for r in out.collect())
    assert got == [(1, 2, 3), (1, 3), (2, 3)]

    with pytest.raises(ValueError, match="to < from"):
        Pattern.begin("a").times(3, 2)


def test_group_pattern_times_unrolls(spark):
    """(a b){2} (GroupPattern.java; Pattern.begin(Pattern).times(2)):
    two mandatory copies, relaxed at every seam."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    sub = Pattern.begin("a").followed_by("b")
    pat = Pattern.begin_pattern(sub, times=2)
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "x"),
            _ev(4, 3, "a"), _ev(5, 4, "b")]
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    got = sorted(tuple(r.ev_ids) for r in out.collect())
    assert got == [(1, 2, 4, 5)]

    with pytest.raises(NotImplementedError, match="group"):
        Pattern.begin_pattern(sub, times=0)


def test_group_pattern_next_strict_seam(spark):
    """a next((b c)): the group's first event must immediately follow."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    sub = Pattern.begin("b").followed_by("c")
    pat = Pattern.begin("a").next_pattern(sub)
    ok = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "c")]
    broken = [_ev(1, 0, "a"), _ev(2, 1, "x"), _ev(3, 2, "b"), _ev(4, 3, "c")]
    out_ok = run_to_completion(pat.match_stream(_stream(spark, ok)), "append")
    assert sorted(tuple(r.ev_ids) for r in out_ok.collect()) == [(1, 2, 3)]
    out_b = run_to_completion(pat.match_stream(_stream(spark, broken)),
                              "append")
    assert out_b.count() == 0


def test_consecutive_inner_keeps_entry_seam_relaxed(spark):
    """consecutive() hardens only BETWEEN loop iterations
    (Quantifier inner strategy): `a b+.consecutive c` still allows a
    gap between a and the first b, and a gap INSIDE the loop kills
    only the loop branch (the proceeded prefix survives)."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    pat = (Pattern.begin("a").followed_by("b").one_or_more()
           .consecutive().followed_by("c"))
    # seam gap (x between a and b1): both the full and the prefix match
    rows = [_ev(1, 0, "a"), _ev(2, 1, "x"), _ev(3, 2, "b"),
            _ev(4, 3, "b"), _ev(5, 4, "c")]
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == \
        [(1, 3, 4, 5), (1, 3, 5)]
    # gap INSIDE the loop: only the pre-gap prefix survives, via the
    # proceeded state (the reference's consecutive contiguity-table row)
    rows2 = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "d"),
             _ev(4, 3, "b"), _ev(5, 4, "c")]
    out2 = run_to_completion(pat.match_stream(_stream(spark, rows2)),
                             "append")
    assert sorted(tuple(r.ev_ids) for r in out2.collect()) == [(1, 2, 5)]


def test_inner_contiguity_validation(spark):
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    with pytest.raises(ValueError, match="conflicts"):
        (Pattern.begin("a").one_or_more().consecutive()
         .allow_combinations())
    with pytest.raises(ValueError, match="loop stages only"):
        match_nfa(_stream(spark, [_ev(1, 0, "a")]),
                  [NfaStage(pred="event_type = 'a'", inner="strict"),
                   NfaStage(pred="event_type = 'b'")])


def test_trailing_greedy_bounded_strict_emits_maximal(spark):
    """PATTERN (A B{2,3}) — a strict-contiguity trailing greedy
    bounded-range loop closed below saturation by a foreign event
    emits the maximal match there (SQL:2016 greedy backtracking);
    previously it silently returned nothing."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"), _ev(4, 3, "x")]
    stages = [NfaStage(pred="event_type = 'a'", contiguity="strict"),
              NfaStage(pred="event_type = 'b'", contiguity="strict",
                       min_times=2, max_times=3, greedy=True)]
    assert _matches(spark, rows, stages) == [(1, 2, 3)]
    # saturated at 3: emitted at the take, no double emission at x
    rows2 = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"),
             _ev(4, 3, "b"), _ev(5, 4, "x")]
    assert _matches(spark, rows2, stages) == [(1, 2, 3, 4)]
    # below min: nothing
    rows3 = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "x")]
    assert _matches(spark, rows3, stages) == []
    # relaxed greedy bounded-range trailing without until: refuses
    with pytest.raises(NotImplementedError, match="GREEDY relaxed"):
        match_nfa(_stream(spark, rows), [
            NfaStage(pred="event_type = 'a'"),
            NfaStage(pred="event_type = 'b'", min_times=2, max_times=3,
                     greedy=True)])


def test_sql_pattern_bounded_range_end_to_end(spark):
    """The confirmed repro shape through the SQL surface: PATTERN
    (A B{2,3}) finds the two-b match."""
    from flink_release_1_10_0_spark.queries.helpers import t
    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)

    sf = "/root/testdata/sf0.001"
    sql = """
    SELECT user_id, start_id, CAST(n_b AS BIGINT) AS n_b
    FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(A.event_id) AS start_id, COUNT(B.*) AS n_b
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B{2,3})
      DEFINE A AS event_type = 'click',
             B AS event_type = 'view'
    ) AS m
    """
    got = execute_match_recognize_sql(
        spark, sql, batch_df=t(spark, sf, "events"),
        stream_df=__import__(
            "flink_release_1_10_0_spark.streaming.core",
            fromlist=["read_stream_table"]).read_stream_table(
                spark, sf, "events"))
    rows = got.collect()
    assert all(2 <= r.n_b <= 3 for r in rows)
    assert any(r.n_b == 2 for r in rows)   # closed-below-saturation matches


def test_trailing_greedy_expiry_emits_maximal(spark):
    """A satisfied trailing-greedy loop whose within-window expires is a
    COMPLETED match, not a timed-out partial: the window closing is the
    loop-closing condition (nothing in-window can extend the run), so
    the consumed maximum emits as a normal match — with emit_timeouts
    it must NOT be mislabeled timed_out."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"),
            _ev(4, 59, "x")]  # same-key event past the 10-min window
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=None,
                       greedy=True)]
    # relaxed greedy trailing loop is now legal WITH a window
    assert _matches(spark, rows, stages, within_minutes=10) == [(1, 2, 3)]
    out = run_to_completion(
        match_nfa(_stream(spark, rows), stages, within_minutes=10,
                  emit_timeouts=True), "append")
    got = sorted((tuple(r.ev_ids), r.timed_out) for r in out.collect())
    assert got == [((1, 2, 3), False)]


def test_trailing_greedy_needs_closing_condition(spark):
    """Without until()/within()/strict/exact bounds a relaxed greedy
    trailing loop still refuses (emission undecidable)."""
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=None,
                       greedy=True)]
    with pytest.raises(NotImplementedError, match="closing condition"):
        match_nfa(_stream(spark, [_ev(1, 0, "a")]), stages)


def test_eos_sentinel_flushes_trailing_greedy(spark):
    """A satisfied trailing-greedy run still pending when a bounded
    replay ends emits via the end-of-stream sentinel (the bounded job's
    final +inf watermark) — previously silently dropped.  Partials flush
    to the timeout output when emit_timeouts is on."""
    from tests.conftest import with_eos_sentinels

    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b")]
    df = (spark.createDataFrame(rows, _SCHEMA)
          .withColumn("ts", F.col("ts").cast("timestamp")))
    sent = with_eos_sentinels(df, "user_id")
    src = tempfile.mkdtemp(prefix="nfa_eos_")
    sent.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(sent.schema).parquet(src)
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=3,
                       greedy=True)]
    out = run_to_completion(match_nfa(sdf, stages, within_minutes=600),
                            "append")
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == [(1, 2, 3)]

    # partial (unsatisfied) runs flush to the timeout side output
    rows2 = [_ev(1, 0, "a"), _ev(2, 1, "b")]
    df2 = (spark.createDataFrame(rows2, _SCHEMA)
           .withColumn("ts", F.col("ts").cast("timestamp")))
    src2 = tempfile.mkdtemp(prefix="nfa_eos2_")
    with_eos_sentinels(df2, "user_id").coalesce(1) \
        .write.mode("append").parquet(src2)
    sdf2 = spark.readStream.schema(df2.schema).parquet(src2)
    stages2 = [NfaStage(pred="event_type = 'a'"),
               NfaStage(pred="event_type = 'b'", min_times=3, max_times=3)]
    out2 = run_to_completion(
        match_nfa(sdf2, stages2, within_minutes=60, emit_timeouts=True),
        "append")
    got2 = sorted((tuple(r.ev_ids), r.timed_out) for r in out2.collect())
    assert got2 == [((1, 2), True)]


def test_group_pattern_rejects_sub_within(spark):
    """A sub-pattern's within() cannot silently vanish when grouped."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    sub = Pattern.begin("a").followed_by("b").within(60)
    with pytest.raises(ValueError, match="OUTER"):
        Pattern.begin_pattern(sub, times=2)
    with pytest.raises(ValueError, match="OUTER"):
        Pattern.begin("x").followed_by_pattern(sub)
    with pytest.raises(ValueError, match="OUTER"):
        Pattern.begin("x").next_pattern(sub)


def test_followed_by_any_into_loop_refuses(spark):
    """Outer SKIP_TILL_ANY entry into a loop is unsupported — refuse
    instead of silently reading it as allowCombinations."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    pat = (Pattern.begin("a").followed_by_any("b").one_or_more()
           .followed_by("c"))
    with pytest.raises(NotImplementedError, match="SKIP_TILL_ANY"):
        pat.match_stream(_stream(spark, [_ev(1, 0, "a")]))


def test_followed_by_any_optional_compiles(spark):
    """The loop refusal must NOT fire for non-loop quantifiers:
    followedByAny(b).optional() is a plain relaxed_nd entry seam with no
    inner-strategy ambiguity (optional is not a loop).  Over a b1 b2 c
    the ANY seam anchors a branch at EVERY b (plus the skipped-b match),
    where plain followedBy+optional anchors only the first."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"), _ev(4, 3, "c")]
    pat_any = (Pattern.begin("a").followed_by_any("b").optional()
               .followed_by("c"))
    out = run_to_completion(
        pat_any.match_stream(_stream(spark, rows)), "append")
    got = sorted(tuple(r.ev_ids) for r in out.collect())
    assert got == [(1, 2, 4), (1, 3, 4), (1, 4)]

    pat_plain = (Pattern.begin("a").followed_by("b").optional()
                 .followed_by("c"))
    out2 = run_to_completion(
        pat_plain.match_stream(_stream(spark, rows)), "append")
    got2 = sorted(tuple(r.ev_ids) for r in out2.collect())
    assert got2 == [(1, 2, 4), (1, 4)]


def test_group_quantifiers_end_to_end(spark):
    """Quantified groups on the NFA loop-back edges (GroupPattern.java:30):
    optional group (both the skip and take branch), oneOrMore (prefix
    per completed rep), times(n) exact."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    sub = Pattern.begin("a").followed_by("b")
    rows = [_ev(1, 0, "x"), _ev(2, 1, "a"), _ev(3, 2, "b"),
            _ev(4, 3, "a"), _ev(5, 4, "b"), _ev(6, 5, "y")]

    def got(pat):
        out = run_to_completion(pat.match_stream(_stream(spark, rows)),
                                "append")
        return sorted(tuple(r.ev_ids) for r in out.collect())

    p_opt = (Pattern.begin("x").followed_by_pattern(sub).group_optional()
             .followed_by("y"))
    assert got(p_opt) == [(1, 2, 3, 6), (1, 6)]

    p_oom = (Pattern.begin("x").followed_by_pattern(sub)
             .group_one_or_more())
    assert got(p_oom) == [(1, 2, 3), (1, 2, 3, 4, 5)]

    p_two = Pattern.begin("x").followed_by_pattern(sub).group_times(2)
    assert got(p_two) == [(1, 2, 3, 4, 5)]


def test_group_quantifier_refusals(spark):
    """The documented group narrowings refuse loudly: nested quantified
    groups, inner loops, single-stage groups, quantifier after extra
    stages."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern
    from flink_release_1_10_0_spark.streaming.nfa import NfaStage, match_nfa

    with pytest.raises(NotImplementedError, match="single-stage"):
        Pattern.begin("x").followed_by_pattern(
            Pattern.begin("a")).group_optional()
    with pytest.raises(ValueError, match="directly follow"):
        (Pattern.begin("x")
         .followed_by_pattern(Pattern.begin("a").followed_by("b"))
         .followed_by("c").group_one_or_more())
    # inner stage with a non-exact quantifier inside a quantified group
    stages = [NfaStage(pred="event_type = 'x'"),
              NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1, max_times=None,
                       group_start=1, group_min=1, group_max=None)]
    with pytest.raises(NotImplementedError, match="exact quantifiers"):
        match_nfa(_stream(spark, [_ev(1, 0, "x")]), stages)
    # optional group with a strict seam
    stages2 = [NfaStage(pred="event_type = 'x'"),
               NfaStage(pred="event_type = 'a'", contiguity="strict"),
               NfaStage(pred="event_type = 'b'",
                        group_start=1, group_min=0, group_max=1)]
    with pytest.raises(NotImplementedError, match="STRICT seam"):
        match_nfa(_stream(spark, [_ev(1, 0, "x")]), stages2)


def test_group_loop_state_survives_microbatches(spark):
    """Group rep counters round-trip through the state store: a group
    loop split across two micro-batches still counts reps correctly
    (x ((a b)){2} with the second rep in batch 2)."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    df1 = (spark.createDataFrame(
        [_ev(1, 0, "x"), _ev(2, 1, "a"), _ev(3, 2, "b")], _SCHEMA)
        .withColumn("ts", F.col("ts").cast("timestamp")))
    df2 = (spark.createDataFrame(
        [_ev(4, 3, "a"), _ev(5, 4, "b"), _ev(6, 5, "a"), _ev(7, 6, "b")],
        _SCHEMA).withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_grpbatch_")
    df1.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df1.schema).option(
        "maxFilesPerTrigger", 1).parquet(src)
    pat = (Pattern.begin("x")
           .followed_by_pattern(Pattern.begin("a").followed_by("b"))
           .group_times(2))
    df2.coalesce(1).write.mode("append").parquet(src)
    out = run_to_completion(pat.match_stream(sdf), "append")
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == [(1, 2, 3, 4, 5)]


def test_group_pattern_with_timeout_side_output(spark):
    """Quantified groups compose with the timeout side output: a group
    rep left incomplete when the within-window expires emits to the
    timeout output; a completed match stays timed_out=false."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "x"), _ev(2, 1, "a"), _ev(3, 2, "b"), _ev(4, 3, "y"),
            # second anchor: group never completes, window expires at 59
            _ev(5, 30, "x"), _ev(6, 31, "a"), _ev(7, 59, "q")]
    pat = (Pattern.begin("x")
           .followed_by_pattern(Pattern.begin("a").followed_by("b"))
           .group_times(1).followed_by("y").within(10))
    out = run_to_completion(
        pat.match_stream(_stream(spark, rows), emit_timeouts=True),
        "append")
    got = sorted((tuple(r.ev_ids), r.timed_out) for r in out.collect())
    assert ((1, 2, 3, 4), False) in got
    assert any(t and ids[0] == 5 for ids, t in got)


def test_leading_optional_group(spark):
    """Pattern BEGINNING with a min-0 group: ((a b))? y — runs start
    inside the group AND directly at y (the start state PROCEEDs over
    the whole skippable group)."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "y")]
    pat = (Pattern.begin_pattern(Pattern.begin("a").followed_by("b"))
           .group_optional().followed_by("y"))
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == [(1, 2, 3), (3,)]


def test_leading_group_loop(spark):
    """((a b))+ as the WHOLE pattern: every completed rep emits a
    prefix, and every group start anchors a fresh run."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "a"), _ev(4, 3, "b")]
    pat = (Pattern.begin_pattern(Pattern.begin("a").followed_by("b"))
           .group_one_or_more())
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == \
        [(1, 2), (1, 2, 3, 4), (3, 4)]


def test_two_chained_optional_groups(spark):
    """x ((a b))? ((c d))?: the skip chain crosses BOTH groups (x alone
    matches), and each group independently takes or skips."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "x"), _ev(2, 1, "a"), _ev(3, 2, "b"),
            _ev(4, 3, "c"), _ev(5, 4, "d")]
    pat = (Pattern.begin("x")
           .followed_by_pattern(Pattern.begin("a").followed_by("b"))
           .group_optional()
           .followed_by_pattern(Pattern.begin("c").followed_by("d"))
           .group_optional())
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == \
        [(1,), (1, 2, 3), (1, 2, 3, 4, 5), (1, 4, 5)]


def test_group_loop_skip_past_last(spark):
    """Group loop + AFTER MATCH skipPastLastEvent: the first completed
    rep's emission prunes the still-looping run (begun at/before the
    match end), so the longer match never forms."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "x"), _ev(2, 1, "a"), _ev(3, 2, "b"),
            _ev(4, 3, "a"), _ev(5, 4, "b")]
    pat = (Pattern.begin("x")
           .followed_by_pattern(Pattern.begin("a").followed_by("b"))
           .group_one_or_more())
    out = run_to_completion(
        pat.match_stream(_stream(spark, rows), after_match="skip_past_last"),
        "append")
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == [(1, 2, 3)]


def test_group_loop_window_expiry(spark):
    """Group loop + within: a pending rep sequence is killed by window
    expiry (non-greedy: completed-rep prefixes already emitted in-window
    survive)."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "x"), _ev(2, 1, "a"), _ev(3, 2, "b"),
            _ev(4, 59, "y")]
    pat = (Pattern.begin("x")
           .followed_by_pattern(Pattern.begin("a").followed_by("b"))
           .group_one_or_more().followed_by("y").within(10))
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    assert [tuple(r.ev_ids) for r in out.collect()] == []
    rows2 = [_ev(1, 0, "x"), _ev(2, 1, "a"), _ev(3, 2, "b"), _ev(4, 5, "y")]
    out2 = run_to_completion(pat.match_stream(_stream(spark, rows2)),
                             "append")
    assert [tuple(r.ev_ids) for r in out2.collect()] == [(1, 2, 3, 4)]


# ---------------------------------------------------------------------------
# keyed._sort_permutation: the lexsort fast path must order rows
# exactly like the pandas sort_values it replaced
# ---------------------------------------------------------------------------

def _assert_perm_matches_pandas(pdf, sort_cols, asc):
    import numpy as np

    from flink_release_1_10_0_spark.streaming.keyed import _sort_permutation
    order = _sort_permutation(pdf, sort_cols, asc)
    assert order is not None
    got = pdf.iloc[np.asarray(order)].reset_index(drop=True)
    want = pdf.sort_values(sort_cols, ascending=asc).reset_index(drop=True)
    assert got.equals(want)


def test_sort_permutation_matches_pandas_numeric_and_datetime():
    import pandas as pd
    pdf = pd.DataFrame({
        "ts": pd.to_datetime([3, 1, 2, 2, 1, 3], unit="s"),
        "tb": [1.5, 2.0, float("nan"), 0.5, 2.0, float("nan")],
        "id": [6, 5, 4, 3, 2, 1],
    })
    # ascending everywhere, NaN tiebreaks included
    _assert_perm_matches_pandas(pdf, ["ts", "tb", "id"], [True, True, True])
    # descending float tiebreak (NaN must stay last, like pandas)
    _assert_perm_matches_pandas(pdf, ["ts", "tb", "id"], [True, False, True])
    # int + bool tiebreaks
    pdf2 = pd.DataFrame({
        "ts": pd.to_datetime([1, 1, 1, 2, 2, 2], unit="s"),
        "flag": [True, False, True, False, True, False],
        "k": [9, 9, 8, 7, 7, 6],
        "id": [1, 2, 3, 4, 5, 6],
    })
    _assert_perm_matches_pandas(pdf2, ["ts", "flag", "k", "id"],
                                [True, False, True, True])


def test_sort_permutation_falls_back_on_object_and_nat():
    import pandas as pd

    from flink_release_1_10_0_spark.streaming.keyed import _sort_permutation
    # string key needs object comparison -> pandas fallback
    pdf = pd.DataFrame({
        "ts": pd.to_datetime([1, 2], unit="s"),
        "name": ["b", "a"],
        "id": [1, 2],
    })
    assert _sort_permutation(pdf, ["ts", "name", "id"],
                             [True, True, True]) is None
    # NaT in a datetime tiebreak casts to int64-min -> pandas fallback
    pdf2 = pd.DataFrame({
        "ts": pd.to_datetime([1, 2], unit="s"),
        "seen": pd.to_datetime([pd.NaT, 1], unit="s"),
        "id": [1, 2],
    })
    assert _sort_permutation(pdf2, ["ts", "seen", "id"],
                             [True, True, True]) is None


def test_bool_list_handles_na_forms():
    import numpy as np

    from flink_release_1_10_0_spark.streaming.nfa import _bool_list
    assert _bool_list(np.array([True, False, True])) == [True, False, True]
    # object form with None (nullable boolean after Arrow conversion)
    assert _bool_list(np.array([True, None, False], dtype=object)) == \
        [True, False, False]
    # float form with NaN
    assert _bool_list(np.array([1.0, float("nan"), 0.0])) == \
        [True, False, False]


def test_bool_list_handles_pd_na():
    """pd.NA (nullable BooleanDtype via to_numpy) must map to False:
    pd.NA == True returns pd.NA, whose truth value raises — the object
    path tests identity against the NA sentinels (r10 ADVICE #2)."""
    import numpy as np
    import pandas as pd

    from flink_release_1_10_0_spark.streaming.nfa import _bool_list
    arr = pd.array([True, pd.NA, False], dtype="boolean").to_numpy()
    assert arr.dtype == object
    assert _bool_list(arr) == [True, False, False]
    # np.bool_ elements in an object array keep working
    arr2 = np.array([np.True_, None, np.False_], dtype=object)
    assert _bool_list(arr2) == [True, False, False]


def test_sort_permutation_falls_back_on_int64_extremes():
    """uint64 keys past int64 range would wrap negative under the int64
    cast, and negating INT64_MIN for a descending key overflows — both
    must fall back to pandas, not silently mis-sort (r10 ADVICE #3)."""
    import numpy as np
    import pandas as pd

    from flink_release_1_10_0_spark.streaming.keyed import _sort_permutation
    pdf = pd.DataFrame({
        "ts": pd.to_datetime([1, 2, 3], unit="s"),
        "k": np.array([1, 2 ** 63 + 5, 7], dtype=np.uint64),
        "id": [1, 2, 3],
    })
    assert _sort_permutation(pdf, ["ts", "k", "id"],
                             [True, True, True]) is None
    # uint64 within int64 range still takes the fast path
    pdf_ok = pd.DataFrame({
        "ts": pd.to_datetime([1, 2, 3], unit="s"),
        "k": np.array([9, 2, 7], dtype=np.uint64),
        "id": [1, 2, 3],
    })
    assert _sort_permutation(pdf_ok, ["ts", "k", "id"],
                             [True, True, True]) is not None
    pdf2 = pd.DataFrame({
        "ts": pd.to_datetime([1, 2, 3], unit="s"),
        "k": np.array([np.iinfo(np.int64).min, 5, 7], dtype=np.int64),
        "id": [1, 2, 3],
    })
    assert _sort_permutation(pdf2, ["ts", "k", "id"],
                             [True, False, True]) is None
    # descending int without INT64_MIN keeps the fast path
    pdf3 = pd.DataFrame({
        "ts": pd.to_datetime([1, 2, 3], unit="s"),
        "k": np.array([-5, 5, 7], dtype=np.int64),
        "id": [1, 2, 3],
    })
    order = _sort_permutation(pdf3, ["ts", "k", "id"], [True, False, True])
    assert order is not None


def test_bits_fallback_past_62_stages(spark):
    """Patterns past 62 predicate bits keep the one-boolean-column-per-
    bit layout (the packed __bits int64 covers 62); the fallback
    prologue must still run end to end."""
    import datetime as dt

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.nfa import NfaStage, match_nfa

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [(i, base + dt.timedelta(seconds=i), 1, "e", float(i))
            for i in range(5)]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    import tempfile
    src = tempfile.mkdtemp(prefix="bits_fb_")
    ev.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(ev.schema).parquet(src)
    # 63 consuming stages -> 63 bits > 62: fallback layout
    stages = [NfaStage(pred=f"value >= {i}", name=f"S{i}")
              for i in range(63)]
    out = run_to_completion(
        match_nfa(sdf, stages, key="user_id"), "append")
    # 5 events can never complete 63 stages: engine runs, no matches
    assert out.count() == 0


def test_equal_timestamps_order_by_event_id(spark):
    """A and B at the same (user, ts): the NFA walks events in
    (ts, event_id) order, the reference's order for equal timestamps,
    so a B with the larger id follows its A and matches, while a B with
    the smaller id precedes it and does not."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "error"), _ev(2, 0, "purchase"),
            _ev(3, 0, "purchase", user=2), _ev(4, 0, "error", user=2),
            _ev(5, 20, "purchase", user=2)]
    pat = Pattern.begin("error").followed_by("purchase").within(30)
    out = run_to_completion(pat.match_stream(_stream(spark, rows)), "append")
    got = sorted((r.user_id, r.start_id, r.end_id) for r in out.collect())
    assert got == [(1, 1, 2), (2, 4, 5)]


# --------------------------------------------------------------------------
# Trailing absence: begin(A).not_followed_by(B).within(W) on the NFA.  A
# run that completes the last consuming stage waits at the negated stage;
# a B in (last consumed ts, start + W] kills it, the end of a bounded input
# (or, on a stream, the watermark reaching start + W) emits it.
# --------------------------------------------------------------------------

def _batch(spark, rows):
    return (spark.createDataFrame(rows, _SCHEMA)
            .withColumn("ts", F.col("ts").cast("timestamp")))


@given(seq=st.lists(st.tuples(st.integers(min_value=1, max_value=2),
                              st.integers(min_value=0, max_value=40),
                              st.sampled_from("abx")),
                    min_size=1, max_size=25))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_trailing_absence_batch_equals_brute_force(spark, seq):
    """The batch route of begin(a).not_followed_by(b).within(10) emits
    exactly the a events with NO b of the same key in (a.ts, a.ts + 10
    min] — equal timestamps included on random per-key sequences."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(i, minute, et, user=user)
            for i, (user, minute, et) in enumerate(seq, 1)]
    pdf = pd.DataFrame([(i, m, u, et) for i, (u, m, et) in
                        enumerate(seq, 1)],
                       columns=["id", "minute", "user", "et"])
    a, b = pdf[pdf.et == "a"], pdf[pdf.et == "b"]
    want = sorted(
        (int(r.user), int(r.id)) for r in a.itertuples()
        if not ((b.user == r.user) & (b.minute > r.minute)
                & (b.minute <= r.minute + 10)).any())
    out = (Pattern.begin("a").not_followed_by("b").within(10)
           .match_stream(_batch(spark, rows)))
    assert not out.isStreaming
    got = sorted((r.user_id, r.start_id) for r in out.collect())
    assert got == want
    assert all(r.start_id == r.end_id for r in out.collect())


def test_trailing_absence_after_two_stages(spark):
    """a followed_by b, not_followed_by c, within 10: a c after the
    consumed b and no later than a.ts + 10 kills the match; a c before
    b, or past the window, does not."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "a", user=1), _ev(2, 2, "b", user=1),
            _ev(3, 5, "c", user=1),                       # killed
            _ev(4, 0, "a", user=2), _ev(5, 1, "c", user=2),
            _ev(6, 2, "b", user=2),                       # c before b
            _ev(7, 0, "a", user=3), _ev(8, 2, "b", user=3),
            _ev(9, 11, "c", user=3),                      # c past window
            _ev(10, 0, "a", user=4), _ev(11, 2, "b", user=4),
            _ev(12, 10, "c", user=4)]                     # c at the edge
    out = (Pattern.begin("a").followed_by("b").not_followed_by("c")
           .within(10).match_stream(_batch(spark, rows)))
    assert sorted((r.user_id, tuple(r.ev_ids), tuple(r.ev_stages))
                  for r in out.collect()) == [(2, (4, 6), (0, 1)),
                                              (3, (7, 8), (0, 1))]


def test_trailing_absence_on_bounded_input_collects(spark):
    """A bounded trailing absence is one keyed batch query: of three
    errors, the one followed by a purchase inside 30 minutes is blocked
    and the other two come back."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    rows = [_ev(1, 0, "error"), _ev(2, 10, "purchase"),
            _ev(3, 20, "error"), _ev(4, 59, "purchase"),
            _ev(5, 5, "error", user=2)]
    out = (Pattern.begin("error").not_followed_by("purchase").within(30)
           .match_stream(_batch(spark, rows)))
    assert sorted((r.user_id, r.start_id) for r in out.collect()) == \
        [(1, 3), (2, 5)]


def test_trailing_absence_waiting_runs_are_not_capped(spark):
    """MAX_RUNS_PER_KEY bounds partial runs only: 600 unblocked a events
    of one key all wait for the end of input, and all 600 emit."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern
    from flink_release_1_10_0_spark.streaming.nfa import MAX_RUNS_PER_KEY

    n = MAX_RUNS_PER_KEY + 88
    df = (spark.createDataFrame([(i, i * 60, 1, "a", 0.0) for i in range(n)],
                                "event_id bigint, sec bigint, user_id bigint, "
                                "event_type string, value double")
          .withColumn("ts", F.timestamp_seconds("sec")).drop("sec"))
    out = Pattern.begin("a").not_followed_by("b").within(30).match_stream(df)
    assert out.count() == n


def test_streaming_trailing_absence_needs_watermark_timers(spark):
    """On a stream the match of a trailing absence IS the watermark
    closing its window: without watermark_timers the build refuses."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    p = Pattern.begin("a").not_followed_by("b").within(10)
    with pytest.raises(ValueError, match="watermark_timers"):
        p.match_stream(_stream(spark, [_ev(1, 0, "a")]))
    assert p.match_stream(_stream(spark, [_ev(1, 0, "a")]),
                          watermark_timers="0 seconds").isStreaming
