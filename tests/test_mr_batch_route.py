"""Bounded MATCH_RECOGNIZE as one keyed batch query.

``match_nfa`` picks its route from ``events.isStreaming``: a batch frame
runs the NFA state function once per key group through
``groupBy(key).applyInPandas`` and flushes each key at the end of its
group (the final +inf watermark of a bounded reference job); a
streaming frame keeps ``applyInPandasWithState``.  These tests pin the
batch route to the streaming replay it replaces, its typed output, and
the absence of any streaming lifecycle (query, checkpoint, temp dir)."""

from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from flink_release_1_10_0_spark.streaming.core import run_to_completion
from flink_release_1_10_0_spark.streaming.nfa import (
    SKIP_PAST_LAST, SKIP_TO_NEXT, NfaStage, match_nfa)
from tests.conftest import scratch_root, with_eos_sentinels

_SCHEMA = ("event_id bigint, ts string, user_id bigint, "
           "event_type string, value double")

_MR_SQL = """
SELECT user_id, a_id, c_id FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts
  MEASURES FIRST(A.event_id) AS a_id, LAST(C.event_id) AS c_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B+ C)
  DEFINE A AS event_type = 'a', B AS event_type = 'b',
         C AS event_type = 'c'
) AS m
"""


def _events(spark, rows):
    return (spark.createDataFrame(rows, _SCHEMA)
            .withColumn("ts", F.col("ts").cast("timestamp")))


def _ev(i, minute, etype, value=0.0, user=1):
    return (i, f"2024-01-01 10:{minute:02d}:00", user, etype, value)


def _as_stream(spark, df, tmp_root):
    """Replay a batch frame as a bounded micro-stream (one part file)."""
    src = tempfile.mkdtemp(prefix="mr_batch_src_", dir=tmp_root)
    df.coalesce(1).write.mode("append").parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def _log(rows):
    return sorted((r.user_id, r.start_id, r.end_id, tuple(r.ev_ids),
                   tuple(r.ev_stages)) for r in rows)


_ABC = [NfaStage(pred="event_type = 'a'"),
        NfaStage(pred="event_type = 'b'", min_times=1, max_times=None),
        NfaStage(pred="event_type = 'c'")]


def test_batch_route_typed_output_when_one_key_never_matches(spark):
    """Key 2 never completes the pattern: its group returns the typed
    zero-row frame, which Arrow must cast to the output schema next to
    key 1's matches (an untyped float64 frame fails the timestamp
    cast)."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "c"),
            _ev(4, 0, "a", user=2), _ev(5, 1, "x", user=2)]
    out = match_nfa(_events(spark, rows), _ABC)
    assert not out.isStreaming
    got = out.collect()
    assert [(r.user_id, tuple(r.ev_ids)) for r in got] == [(1, (1, 2, 3))]
    assert got[0].start_ts.minute == 0 and got[0].end_ts.minute == 2
    assert got[0].n_events == 3


def test_batch_route_empty_result_keeps_schema(spark):
    """No key matches at all: the result is empty and still carries the
    full output schema, timed-out flag included."""
    rows = [_ev(1, 0, "x"), _ev(2, 1, "y", user=2)]
    out = match_nfa(_events(spark, rows), _ABC, within_minutes=30,
                    emit_timeouts=True)
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<user_id:bigint,start_id:bigint,end_id:bigint,"
        "start_ts:timestamp,end_ts:timestamp,n_events:int,"
        "ev_ids:array<bigint>,ev_stages:array<int>,timed_out:boolean>")


def test_batch_route_flushes_trailing_greedy_at_end_of_group(spark):
    """A satisfied trailing-greedy run with nothing after it emits its
    maximal match at the end of the key's group (the EOS flush), per
    key, without any sentinel in the input."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "b"),
            _ev(4, 0, "a", user=2), _ev(5, 1, "b", user=2)]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1,
                       max_times=None, greedy=True, contiguity="strict")]
    got = sorted(tuple(r.ev_ids)
                 for r in match_nfa(_events(spark, rows), stages).collect())
    assert got == [(1, 2, 3), (4, 5)]


def test_batch_route_rejects_watermark_timers(spark):
    rows = [_ev(1, 0, "a")]
    with pytest.raises(NotImplementedError, match="streaming source"):
        match_nfa(_events(spark, rows), _ABC, within_minutes=30,
                  watermark_timers="0 seconds")


def test_batch_route_profiles_state_function(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_NFA_PROFILE wraps the state function before the route
    is chosen, so a bounded MATCH_RECOGNIZE profiles too (the wrapper
    snapshots every 20 keys per task)."""
    monkeypatch.setenv("SPARK_GRAFT_NFA_PROFILE", str(tmp_path))
    rows = [_ev(i, 0, "a", user=i) for i in range(1, 201)]
    match_nfa(_events(spark, rows), _ABC).collect()
    assert any(p.startswith("nfa_") and p.endswith(".prof")
               for p in os.listdir(tmp_path))


class _Starts(StreamingQueryListener):
    def __init__(self):
        self.started = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def test_mr_sql_on_batch_starts_no_streaming_query(spark, tmp_path,
                                                   tmp_path_factory,
                                                   monkeypatch):
    """execute_match_recognize_sql(batch_df=...) is one batch query: no
    streaming query starts (a listener sees none, nothing is active) and
    no temp dir is made.  The stream_df route on the same input is the
    positive control for the listener."""
    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)

    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "c"),
            _ev(4, 3, "a", user=2), _ev(5, 4, "c", user=2)]
    df = _events(spark, rows)
    stream = _as_stream(spark, df, tmp_path_factory.getbasetemp())
    root = scratch_root(spark)
    made = sorted(os.listdir(root))
    listener = _Starts()
    spark.streams.addListener(listener)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    try:
        got = execute_match_recognize_sql(spark, _MR_SQL,
                                          batch_df=df).collect()
        assert listener.started == 0
        assert spark.streams.active == []
        assert os.listdir(tmp_path) == []
        assert sorted(os.listdir(root)) == made
        assert [(r.user_id, r.a_id, r.c_id) for r in got] == [(1, 1, 3)]

        via_stream = execute_match_recognize_sql(
            spark, _MR_SQL, batch_df=df, stream_df=stream).collect()
        assert listener.started == 1
        assert sorted(via_stream) == sorted(got)
    finally:
        spark.streams.removeListener(listener)


def test_run_to_completion_leaves_no_checkpoint_dirs(spark, tmp_path):
    """run_to_completion removes its checkpoint dir once the query has
    terminated: N runs leave the count of ckpt_* dirs in the session's
    scratch root flat."""
    rows = [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "c")]
    stream = _as_stream(spark, _events(spark, rows), tmp_path)
    root = scratch_root(spark)

    def n_ckpt():
        return sum(p.startswith("ckpt_") for p in os.listdir(root))

    before = n_ckpt()
    for _ in range(3):
        out = run_to_completion(match_nfa(stream, _ABC), "append")
        assert [tuple(r.ev_ids) for r in out.collect()] == [(1, 2, 3)]
    assert n_ckpt() == before


def test_bounded_pattern_match_stream_is_one_batch_query(spark, tmp_path,
                                                         monkeypatch):
    """Pattern.match_stream on a batch frame takes match_nfa's batch
    route: the result is not streaming, no streaming query starts and no
    temp dir is made, and its pairs equal the match log of the streaming
    head that runs the same pattern (stream_cep_error_then_purchase)."""
    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.queries import all_queries
    from flink_release_1_10_0_spark.streaming.cep import Pattern
    from tests.conftest import SF_DIR

    root = scratch_root(spark)
    made = sorted(os.listdir(root))
    listener = _Starts()
    spark.streams.addListener(listener)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    try:
        out = (Pattern.begin("error").followed_by("purchase").within(30)
               .match_stream(load(spark, SF_DIR, "events")))
        assert not out.isStreaming
        got = sorted((r.user_id, r.start_id, r.end_id, r.start_ts, r.end_ts)
                     for r in out.collect())
        assert listener.started == 0
        assert spark.streams.active == []
        assert os.listdir(tmp_path) == []
        assert sorted(os.listdir(root)) == made

        head = all_queries()["stream_cep_error_then_purchase"](spark, SF_DIR)
        assert listener.started == 1
        assert got and got == sorted(
            (r.user_id, r.first_id, r.then_id, r.first_ts, r.then_ts)
            for r in head.collect())
    finally:
        spark.streams.removeListener(listener)


# The generated inputs of the MATCH_RECOGNIZE property tests in
# test_properties.py: the navigated V shape (values 0..6) and the
# RUNNING-aggregate DEFINE (values 1..9), both on one key; a second key
# holding the reversed values exercises the per-key flush.
_VSHAPE_DEFINE = {
    "STRT": "TRUE",
    "DOWN": "(LAST(DOWN.value, 1) IS NULL AND DOWN.value < STRT.value) "
            "OR DOWN.value < LAST(DOWN.value, 1)",
    "UP": "UP.value > LAST(DOWN.value)"}


def _mr_stages(pattern, define):
    from flink_release_1_10_0_spark.sql_match import (
        MatchSpec, _compile_define)
    from flink_release_1_10_0_spark.streaming.cep import (
        compile_match_pattern)

    spec = MatchSpec(table="events", partition_by=["user_id"],
                     order_by=["ts"], pattern=pattern, define=dict(define))
    sql_define, nav = _compile_define(spec)
    return compile_match_pattern(pattern, sql_define, nav=nav)


def _assert_batch_equals_replay(spark, tmp_root, vals, stages, after_match):
    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "m", float(v))
            for i, v in enumerate(vals, 1)]
    rows += [(100 + i, f"2024-01-01 10:{i:02d}:00", 2, "m", float(v))
             for i, v in enumerate(reversed(vals), 1)]
    df = _events(spark, rows)
    batch = match_nfa(df, stages, after_match=after_match)
    replay = run_to_completion(
        match_nfa(_as_stream(spark, with_eos_sentinels(df, "user_id"),
                             tmp_root),
                  stages, after_match=after_match), "append")
    assert _log(batch.collect()) == _log(replay.collect())


@given(vals=st.lists(st.integers(min_value=0, max_value=6),
                     min_size=3, max_size=14))
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_batch_route_equals_eos_replay_vshape(spark, tmp_path_factory, vals):
    _assert_batch_equals_replay(
        spark, tmp_path_factory.getbasetemp(), vals,
        _mr_stages("STRT DOWN+ UP", _VSHAPE_DEFINE), SKIP_TO_NEXT)


@given(vals=st.lists(st.integers(min_value=1, max_value=9),
                     min_size=1, max_size=14),
       thr=st.sampled_from([3, 5, 7]))
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_batch_route_equals_eos_replay_define_aggregate(spark,
                                                       tmp_path_factory,
                                                       vals, thr):
    _assert_batch_equals_replay(
        spark, tmp_path_factory.getbasetemp(), vals,
        _mr_stages("A+ B", {"A": f"AVG(A.value) < {thr}", "B": "TRUE"}),
        SKIP_PAST_LAST)


def test_mr_sql_leaves_no_temp_views(spark):
    """execute_match_recognize_sql drops the view it registers for the
    outer query once spark.sql has analyzed it: three calls keep the
    catalog flat, and each returned frame still collects."""
    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)

    df = _events(spark, [_ev(1, 0, "a"), _ev(2, 1, "b"), _ev(3, 2, "c")])

    def tables():
        return sorted(t.name for t in spark.catalog.listTables())

    before = tables()
    frames = [execute_match_recognize_sql(spark, _MR_SQL, batch_df=df)
              for _ in range(3)]
    assert tables() == before
    for f in frames:
        assert [(r.user_id, r.a_id, r.c_id) for r in f.collect()] == \
            [(1, 1, 3)]
        assert f.count() == 1
