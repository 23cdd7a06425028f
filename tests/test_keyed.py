"""Keyed operators must not depend on Arrow chunking (``streaming/keyed.py``).

``applyInPandasWithState`` hands a state function one key's rows of a
trigger as Arrow chunks of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.  Every keyed
operator runs through ``keyed.keyed_state``, which concatenates a call's
chunks and sorts them once in the operator's declared order, so the
answer is the same at any chunk size.  These tests shuffle each key's
rows (one part file, one micro-batch), run each operator family at a
chunk size of 3 to 7 rows and at the default size, and require equal
results."""

from __future__ import annotations

import random
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_release_1_10_0_spark.streaming import stateful
from flink_release_1_10_0_spark.streaming.changelog import changelog_sum
from flink_release_1_10_0_spark.streaming.core import run_to_completion
from flink_release_1_10_0_spark.streaming.keyed import sort_rows
from flink_release_1_10_0_spark.streaming.nfa import (
    SKIP_PAST_LAST, NfaStage, match_nfa)
from flink_release_1_10_0_spark.streaming.stream_join import (
    LEFT_OUTER, stream_stream_join)
from flink_release_1_10_0_spark.streaming.triggers import (
    delta_trigger_firings)

_SCHEMA = ("event_id bigint, ts string, user_id bigint, "
           "event_type string, value double, arrival bigint")
_CHUNK_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _events(spark, seed: int, n: int = 48):
    """``n`` events over four users and two types, written in a random
    order; ``arrival`` is a second, independent random order (the
    arrival column of ``late_data_split``)."""
    rnd = random.Random(seed)
    arrival = list(range(n))
    rnd.shuffle(arrival)
    rows = []
    for i in range(n):
        minute = rnd.randint(0, 89)
        rows.append((i + 1, f"2024-01-01 {10 + minute // 60}:{minute % 60:02d}:00",
                     rnd.randint(1, 4), rnd.choice("ab"),
                     rnd.randint(0, 10_000) / 100, arrival[i]))
    rnd.shuffle(rows)
    return (spark.createDataFrame(rows, _SCHEMA)
            .withColumn("ts", F.col("ts").cast("timestamp")))


_AB = [NfaStage(pred="event_type = 'a'"), NfaStage(pred="event_type = 'b'")]

# family -> operator name -> (build(stream) -> streaming frame, output mode)
_CASES = {
    "stateful": {
        "dedup_keep_last": (stateful.dedup_keep_last, "update"),
        "topn_per_key": (lambda ev: stateful.topn_per_key(ev, n=3), "update"),
        "count_tumble_window":
            (lambda ev: stateful.count_tumble_window(ev, n=3), "append"),
        "changelog_count": (stateful.changelog_count, "append"),
        "temporal_join":
            (lambda ev: stateful.temporal_join(ev, "a", "b"), "append"),
        "over_running_agg": (stateful.over_running_agg, "append"),
        "temporal_sort": (stateful.temporal_sort, "append"),
        "count_sliding_window":
            (lambda ev: stateful.count_sliding_window(ev, size=4, slide=2),
             "append"),
        "over_rows_bounded":
            (lambda ev: stateful.over_rows_bounded(ev, frame=3), "append"),
        "updatable_topn":
            (lambda ev: stateful.updatable_topn(ev, n=2), "append"),
        "over_range_bounded":
            (lambda ev: stateful.over_range_bounded(ev, preceding_minutes=10),
             "append"),
        "late_data_split":
            (lambda ev: stateful.late_data_split(
                ev, delay_minutes=5, allowed_lateness_minutes=5,
                arrival_col="arrival"), "append"),
    },
    "delta_trigger": {
        "delta_trigger_firings":
            (lambda ev: delta_trigger_firings(ev, threshold=30.0), "append"),
    },
    "stream_join": {
        "stream_stream_join":
            (lambda ev: stream_stream_join(
                ev.filter("event_type = 'a'"), ev.filter("event_type = 'b'"),
                "user_id", how=LEFT_OUTER, ttl_minutes=20), "append"),
    },
    "match_nfa": {
        "match_nfa": (lambda ev: match_nfa(ev, _AB, within_minutes=20,
                                           after_match=SKIP_PAST_LAST),
                      "append"),
    },
}
_PARAMS = [pytest.param(build, mode, id=f"{family}-{name}")
           for family, ops in _CASES.items()
           for name, (build, mode) in ops.items()]


def _canon(rows):
    return sorted(repr(tuple(tuple(v) if isinstance(v, list) else v
                             for v in r)) for r in rows)


def _run(spark, stream, build, mode, chunk: int | None):
    if chunk is not None:
        spark.conf.set(_CHUNK_CONF, chunk)
    try:
        return _canon(run_to_completion(build(stream), mode).collect())
    finally:
        spark.conf.unset(_CHUNK_CONF)


@pytest.mark.parametrize("build, mode", _PARAMS)
@given(seed=st.integers(0, 2 ** 16), chunk=st.integers(3, 7))
@settings(max_examples=2, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_answer_does_not_depend_on_arrow_chunking(spark, build, mode,
                                                  seed, chunk):
    src = tempfile.mkdtemp(prefix="keyed_src_")
    df = _events(spark, seed)
    df.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    want = _run(spark, stream, build, mode, None)
    assert want, "the input must produce output for the check to mean anything"
    assert _run(spark, stream, build, mode, chunk) == want


# every operator a bounded head runs on the batch route -> (build,
# output mode of its one-trigger streaming replay)
_BATCH_ROUTE = {
    **{name: _CASES["stateful"][name] for name in (
        "topn_per_key", "count_tumble_window",
        "changelog_count", "over_running_agg",
        "count_sliding_window", "over_rows_bounded", "updatable_topn",
        "over_range_bounded")},
    "changelog_sum": (changelog_sum, "append"),
    **_CASES["delta_trigger"],
}


@given(seed=st.integers(0, 2 ** 16))
@settings(max_examples=2, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_batch_route_equals_one_trigger_stream(spark, seed):
    """A batch input takes keyed_state's bounded route (one
    ``applyInPandas`` call per key group): for every operator a bounded
    head runs that way, the answer equals the one-micro-batch streaming
    answer."""
    df = _events(spark, seed)
    src = tempfile.mkdtemp(prefix="keyed_batch_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    for name, (build, mode) in _BATCH_ROUTE.items():
        batch = build(df)
        assert not batch.isStreaming
        want = _canon(run_to_completion(build(stream), mode).collect())
        assert want, name
        assert _canon(batch.collect()) == want, name


# operator -> build(events, key); temporal_sort arms event-time timers,
# which the batch route refuses, so it runs on a one-file stream
_BY_KEY = {
    "dedup_keep_last": lambda ev, k: stateful.dedup_keep_last(ev, key=k),
    "topn_per_key": lambda ev, k: stateful.topn_per_key(ev, n=2, key=k),
    "count_tumble_window":
        lambda ev, k: stateful.count_tumble_window(ev, n=3, key=k),
    "temporal_join": lambda ev, k: stateful.temporal_join(ev, "a", "b", key=k),
    "over_running_agg": lambda ev, k: stateful.over_running_agg(ev, key=k),
    "temporal_sort": lambda ev, k: stateful.temporal_sort(ev, key=k),
    "count_sliding_window":
        lambda ev, k: stateful.count_sliding_window(ev, 4, 2, key=k),
    "over_rows_bounded":
        lambda ev, k: stateful.over_rows_bounded(ev, frame=3, key=k),
    "over_range_bounded":
        lambda ev, k: stateful.over_range_bounded(ev, 10, key=k),
    "late_data_split":
        lambda ev, k: stateful.late_data_split(ev, 5, 5, "arrival", key=k),
    "updatable_topn": lambda ev, k: stateful.updatable_topn(ev, n=2, key=k),
    "stream_stream_join": lambda ev, k: stream_stream_join(
        ev.filter("event_type = 'a'"), ev.filter("event_type = 'b'"), k),
}


@pytest.mark.parametrize("name", sorted(_BY_KEY))
def test_output_key_column_follows_the_input_key(spark, name):
    """An operator keyed on a string column echoes that column, with its
    name and type, as the output key.  The two joins split their sides
    by ``event_type``, so they key on a string copy of the user."""
    key = "user" if name.endswith("join") else "event_type"
    df = _events(spark, 5).withColumn("user", F.col("user_id").cast("string"))
    if name == "temporal_sort":
        src = tempfile.mkdtemp(prefix="keyed_key_src_")
        df.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = run_to_completion(_BY_KEY[name](stream, key), "append")
    else:
        out = _BY_KEY[name](df, key)
    assert out.schema[key].dataType == df.schema[key].dataType
    got = {r[key] for r in out.collect()}
    assert got and got <= {r[key] for r in df.select(key).collect()}


def test_process_sees_rows_in_arrival_order(spark):
    """KeyedStream.process keeps its ``fn(key, pdf_iter, state)``
    contract: the key's rows of the call in arrival (file) order, even
    when Spark cuts them into 3-row chunks."""
    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    df = _events(spark, 3)
    src = tempfile.mkdtemp(prefix="keyed_process_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)

    def fn(key, pdfs, state):
        ids = [i for pdf in pdfs for i in pdf["event_id"].tolist()]
        yield pd.DataFrame({"user_id": [key[0]], "ids": [ids]})

    out = DataStream(stream).key_by("user_id").process(
        fn, "user_id bigint, ids array<bigint>", "n bigint", "append")
    spark.conf.set(_CHUNK_CONF, 3)
    try:
        got = {r.user_id: list(r.ids)
               for r in run_to_completion(out.df, "append").collect()}
    finally:
        spark.conf.unset(_CHUNK_CONF)
    want: dict[int, list[int]] = {}
    for r in df.collect():
        want.setdefault(r.user_id, []).append(r.event_id)
    assert got == want


def test_batch_route_refuses_timers(spark):
    with pytest.raises(NotImplementedError, match="streaming source"):
        stateful.temporal_sort(_events(spark, 1))


def test_sort_rows_is_stable_and_honours_desc():
    pdf = pd.DataFrame({"ts": [2, 1, 2, 1], "k": [1.0, 2.0, 3.0, 2.0],
                        "tag": ["w", "x", "y", "z"]})
    assert sort_rows(pdf, ["ts"])["tag"].tolist() == ["x", "z", "w", "y"]
    assert sort_rows(pdf, ["ts", "k"], desc={"k"})["tag"].tolist() == \
        ["x", "z", "y", "w"]
    # object keys take the pandas fallback, stable as well
    pdf["s"] = ["b", "a", "b", "a"]
    assert sort_rows(pdf, ["s"])["tag"].tolist() == ["x", "z", "w", "y"]
