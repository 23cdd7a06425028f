"""Arbitrary keyed-state streaming operators, each one state function
run by ``keyed.keyed_state``.

These are the reference operators with NO declarative Spark equivalent
(SURVEY.md §7 step 5 — "the hard 20%"):

- dedup keep-last:  ``runtime/operators/deduplicate/
  DeduplicateKeepLastRowFunction.java:34`` — one latest row per key.
- streaming top-N:  ``runtime/operators/rank/AppendOnlyTopNFunction.java:46``
  — maintain the N best rows per key as events arrive.

Ordering: each operator declares its row order once — ``(ts, event_id)``,
the arrival column for ``late_data_split``, or none when order-free
(top-N, the changelog counter, the self-sorting temporal sort) — and
``keyed_state`` hands the state function a key's rows of a call as one
frame in that order, whatever the Arrow chunking; it also owns the
pre-shuffle projection and the streaming/batch route (a batch frame: one
call per key group, the one-trigger answer).  The output key column is
named and typed after the input's (``keyed.key_field``).

State is a compact per-key summary (the current winner set, a running
total, a version table), never the full history — the same bounded-state
contract the reference's operators guarantee.  At scale, state lives in
the state store (RocksDB provider), partitioned by the group key.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from flink_release_1_10_0_spark.streaming.keyed import (
    i64_list, key_field, keyed_state, ts_us_list)

_EVENT_ORDER = ("ts", "event_id")


def _frame(rows: list[tuple], columns: list[str],
           us_cols: tuple[str, ...] = ("ts",)) -> pd.DataFrame:
    """Output rows as a frame, the microsecond columns as timestamps."""
    df = pd.DataFrame(rows, columns=columns)
    for c in us_cols:
        df[c] = pd.to_datetime(df[c], unit="us")
    return df


def dedup_keep_last(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Latest event per key by (ts, event_id): the key, then the row's
    other columns; a stream re-emits the winner every batch (update mode)."""
    fields = ["event_id bigint", "event_type string", "value double", "ts timestamp"]
    state_schema = ", ".join(fields)
    out_schema = ", ".join([key_field(events, key)] + [
        f for f in fields if f.split()[0] != key])

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        best = state.get if state.exists else None  # (event_id, type, value, ts_us)
        if len(pdf):
            row = pdf.iloc[-1]
            cand = (int(row["event_id"]), str(row["event_type"]),
                    float(row["value"]), row["ts"])
            if best is None or (cand[3], cand[0]) > (best[3], best[0]):
                best = cand
        if best is not None:
            state.update(best)
            # a key that is a row column keeps its first position
            yield pd.DataFrame({
                key: [key_[0]], "event_id": [best[0]],
                "event_type": [best[1]], "value": [best[2]], "ts": [best[3]]})

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "event_type", "value"],
                       order=_EVENT_ORDER, output_mode="update")


def topn_per_key(events: DataFrame, n: int = 3, key: str = "user_id") -> DataFrame:
    """Top-N per key ordered by (value desc, event_id asc): the full
    current set each micro-batch of a stream, or once per key of a batch."""
    out_schema = f"{key_field(events, key)}, event_id bigint, value double, rn bigint"
    state_schema = "ids array<bigint>, vals array<double>"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, vals = state.get
            entries = list(zip(list(ids), list(vals)))
        else:
            entries = []
        # vectorized: extend with the whole call's rows at once — never
        # iterate rows in Python (hot keys make that the slowest loop in
        # the pipeline)
        entries.extend(zip(i64_list(pdf, "event_id"),
                           pdf["value"].astype("float64").tolist()))
        if len(pdf) or not state.exists:
            entries.sort(key=lambda e: (-e[1], e[0]))
            entries = entries[:n]
            state.update(([e[0] for e in entries], [e[1] for e in entries]))
            yield pd.DataFrame({
                key: [key_[0]] * len(entries),
                "event_id": [e[0] for e in entries],
                "value": [e[1] for e in entries],
                "rn": list(range(1, len(entries) + 1))})

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["event_id", "value"], output_mode="update")


def count_tumble_window(events: DataFrame, n: int = 10,
                        key: str = "user_id") -> DataFrame:
    """Count-based tumbling window per key (CountTumblingWindowAssigner +
    ``KeyedStream.java:652`` countWindow): emit one aggregate row each
    time ``n`` events have arrived for a key; the trailing partial window
    stays in state and is never emitted.

    Rows are ordered by (ts, event_id) within each micro-batch; money is
    accumulated as integer cents so the running sum is exact.
    """
    out_schema = (f"{key_field(events, key)}, w_id bigint, n_events bigint, "
                  "sum_value double")
    state_schema = "next_w bigint, part_n bigint, part_cents bigint"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        next_w, part_n, part_cents = state.get if state.exists else (0, 0, 0)
        out = []
        for v in pdf["value"].astype("float64").tolist():
            part_n += 1
            part_cents += int(round(float(v) * 100))
            if part_n == n:
                out.append((key_[0], next_w, n, part_cents / 100.0))
                next_w += 1
                part_n = part_cents = 0
        state.update((next_w, part_n, part_cents))
        if out:
            yield pd.DataFrame(out, columns=[key, "w_id", "n_events", "sum_value"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "value"], order=_EVENT_ORDER)


def changelog_count(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Changelog/retraction emission for a streaming COUNT aggregate —
    the reference's update-as-retraction protocol (``BaseRow`` 1-byte
    header ``ACCUMULATE_MSG``/``RETRACT_MSG``,
    ``BaseRowUtil.java:34-39``; retraction inference
    ``StreamExecRetractionRules``).

    Emits an append-only changelog: ``+I`` on first value for a key,
    then ``-U`` (retract old) / ``+U`` (accumulate new) pairs as the
    count advances per micro-batch.  ``seq`` is a per-key monotonic
    sequence so a downstream materializer can fold the log back into a
    table (latest non-retract row per key wins).
    """
    out_schema = f"op string, {key_field(events, key)}, cnt bigint, seq bigint"
    state_schema = "cnt bigint, seq bigint"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        old, seq = state.get if state.exists else (None, 0)
        added = len(pdf)
        if added:
            new = (old or 0) + added
            rows = []
            if old is None:
                rows.append(("+I", key_[0], new, seq + 1))
                seq += 1
            else:
                rows.append(("-U", key_[0], old, seq + 1))
                rows.append(("+U", key_[0], new, seq + 2))
                seq += 2
            state.update((new, seq))
            yield pd.DataFrame(rows, columns=["op", key, "cnt", "seq"])

    return keyed_state(events, key, fn, out_schema, state_schema, cols=[])


def temporal_join(events: DataFrame, build_type: str, probe_type: str,
                  key: str = "user_id",
                  retention_minutes: float | None = None) -> DataFrame:
    """Streaming temporal / as-of join
    (``runtime/operators/join/temporal/TemporalRowTimeJoinOperator.java:71``,
    ``Table.java:139`` createTemporalTableFunction): rows of ``build_type``
    form a versioned table per key; each ``probe_type`` row joins the
    latest build version with ``version_ts <= probe_ts``.

    Both sides arrive on ONE keyed stream (the union-tagged layout); the
    operator keeps the version history per key in state, processes each
    micro-batch in event-time order, and emits probe matches eagerly.

    ``retention_minutes`` is the idle-state-retention analog
    (``CleanupState.java`` / the reference's watermark-driven version
    pruning): versions older than ``max_seen_ts - retention`` are
    dropped, always keeping the newest at-or-before the cutoff — for
    in-order probes the emitted results are identical, and per-key state
    is bounded by the retention window.
    """
    out_schema = (f"{key_field(events, key)}, probe_id bigint, probe_ts timestamp, "
                  "version_id bigint, version_ts timestamp, version_value double")
    state_schema = "vids array<bigint>, vus array<bigint>, vvals array<double>"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            vids, vus, vvals = state.get
            versions = sorted(zip(list(vus), list(vids), list(vvals)))
        else:
            versions = []  # (ts_us, event_id, value) ascending
        out = []
        for et, eid, ts_us, val in zip(pdf["event_type"].tolist(),
                                       i64_list(pdf, "event_id"), ts_us_list(pdf),
                                       pdf["value"].astype("float64").tolist()):
            if et == build_type:
                versions.append((ts_us, eid, val))
                versions.sort()
            elif et == probe_type:
                # latest version at-or-before the probe: rightmost <= ts
                best = None
                for v in versions:
                    if v[0] <= ts_us:
                        best = v
                    else:
                        break
                if best is not None:
                    out.append((key_[0], eid, ts_us, best[1], best[0], best[2]))
        if retention_minutes is not None and versions:
            cutoff = versions[-1][0] - int(retention_minutes * 60_000_000)
            # newest version at-or-before the cutoff must survive: an
            # in-retention probe may still reference it
            idx = 0
            for i, v in enumerate(versions):
                if v[0] <= cutoff:
                    idx = i
            versions = versions[idx:]
        state.update(([v[1] for v in versions], [v[0] for v in versions],
                      [v[2] for v in versions]))
        if out:
            yield _frame(out, [key, "probe_id", "probe_ts", "version_id",
                               "version_ts", "version_value"],
                         us_cols=("probe_ts", "version_ts"))

    return keyed_state(events.filter(F.col("event_type").isin(build_type, probe_type)),
                       key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "event_type", "value"],
                       order=_EVENT_ORDER)


def over_running_agg(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Streaming OVER aggregate, unbounded-preceding ROWS frame
    (``StreamExecOverAggregate.scala:56``; runtime
    ``runtime/operators/over/`` RowTime*UnboundedPrecedingFunction):
    each arriving row is emitted once, annotated with the running
    SUM(value)/COUNT(*) over all rows of its key so far, in event-time
    order.  Money accumulates as integer cents — exact at any rescale.
    """
    out_schema = (f"{key_field(events, key)}, event_id bigint, ts timestamp, "
                  "running_sum double, running_n bigint")
    state_schema = "cents bigint, n bigint"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        cents, n = state.get if state.exists else (0, 0)
        out = []
        for eid, ts_us, val in zip(i64_list(pdf, "event_id"), ts_us_list(pdf),
                                   pdf["value"].astype("float64").tolist()):
            cents += int(round(val * 100))
            n += 1
            out.append((key_[0], eid, ts_us, cents / 100.0, n))
        state.update((cents, n))
        if out:
            yield _frame(out, [key, "event_id", "ts", "running_sum",
                               "running_n"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "value"], order=_EVENT_ORDER)


def temporal_sort(events: DataFrame, key: str = "user_id",
                  watermark_delay: str = "10 minutes") -> DataFrame:
    """Event-time sorted emission (``StreamExecTemporalSort.scala`` /
    ``runtime/operators/sort/RowTimeSortOperator.java``): buffer arriving
    rows per key; once the watermark passes a row's timestamp, emit the
    buffered prefix in (ts, event_id) order, tagged with a per-key
    emission sequence number ``seq`` — the observable proof of ordered
    emission.  Rows beyond the final watermark stay buffered (never
    emitted), exactly the reference operator's contract.

    State is the out-of-order tail only (rows newer than the watermark),
    bounded by the watermark delay — not the full history.  Keyed, so it
    scales horizontally; the reference's *global* temporal sort is
    parallelism-1 by construction and maps to a single key here.
    """
    out_schema = f"{key_field(events, key)}, event_id bigint, ts timestamp, seq bigint"
    state_schema = "emitted bigint, bids array<bigint>, bus array<bigint>"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            emitted, bids, bus = state.get
            buf = list(zip(list(bus), list(bids)))  # (ts_us, event_id)
        else:
            emitted, buf = 0, []
        if not state.hasTimedOut:
            buf.extend(zip(ts_us_list(pdf), i64_list(pdf, "event_id")))
        buf.sort()
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        emit = [b for b in buf if b[0] <= wm_us]
        buf = [b for b in buf if b[0] > wm_us]
        out = []
        for ts_us, eid in emit:
            emitted += 1
            out.append((key_[0], eid, ts_us, emitted))
        state.update((emitted, [b[1] for b in buf], [b[0] for b in buf]))
        if buf:
            # fire once the watermark reaches the oldest buffered row's ms
            # (ceil: a row is emittable when wm_us >= ts_us); must arm
            # strictly beyond the current watermark
            deadline = max(-(-buf[0][0] // 1000) - 1, wm_ms + 1)
            state.setTimeoutTimestamp(deadline)
        if out:
            yield _frame(out, [key, "event_id", "ts", "seq"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id"],
                       watermark=("ts", watermark_delay))


def count_sliding_window(events: DataFrame, size: int = 5, slide: int = 2,
                         key: str = "user_id") -> DataFrame:
    """Count-based sliding window per key (CountSlidingWindowAssigner +
    ``KeyedStream.java:668`` countWindow(size, slide)): fire every
    ``slide`` arrivals, aggregating the last ``min(seen, size)`` rows in
    (ts, event_id) order.  State = total arrival count + a ring buffer of
    the last ``size`` cent values — bounded regardless of stream length,
    the same contract as the reference's CountEvictor(size) +
    CountTrigger(slide) pair."""
    out_schema = (f"{key_field(events, key)}, fire_seq bigint, "
                  "n_events bigint, sum_value double")
    state_schema = "n bigint, recent array<bigint>"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, recent = state.get[0], list(state.get[1])
        else:
            n, recent = 0, []
        out = []
        for v in pdf["value"].astype("float64").tolist():
            recent.append(int(round(float(v) * 100)))
            if len(recent) > size:
                recent.pop(0)
            n += 1
            if n % slide == 0:
                out.append((key_[0], n, len(recent), sum(recent) / 100.0))
        state.update((n, recent))
        if out:
            yield pd.DataFrame(out, columns=[
                key, "fire_seq", "n_events", "sum_value"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "value"], order=_EVENT_ORDER)


def over_rows_bounded(events: DataFrame, frame: int = 5,
                      key: str = "user_id") -> DataFrame:
    """Streaming OVER aggregate with a bounded ROWS frame
    (``runtime/operators/over/RowTimeRowsBoundedPrecedingFunction``):
    each row emits SUM/COUNT over the last ``frame`` rows of its key in
    event-time order.  State = a ring buffer of the last ``frame-1``
    cent values, the exact bounded-state contract of the reference
    operator."""
    out_schema = (f"{key_field(events, key)}, event_id bigint, ts timestamp, "
                  "frame_sum double, frame_n bigint")
    state_schema = "recent array<bigint>"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        recent = list(state.get[0]) if state.exists else []  # last cents, oldest first
        out = []
        for eid, ts_us, val in zip(i64_list(pdf, "event_id"), ts_us_list(pdf),
                                   pdf["value"].astype("float64").tolist()):
            recent.append(int(round(val * 100)))
            if len(recent) > frame:
                recent.pop(0)
            out.append((key_[0], eid, ts_us,
                        sum(recent) / 100.0, len(recent)))
        state.update((recent,))
        if out:
            yield _frame(out, [key, "event_id", "ts", "frame_sum",
                               "frame_n"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "value"], order=_EVENT_ORDER)


def updatable_topn(events: DataFrame, n: int = 3,
                   key: str = "event_type",
                   id_col: str = "user_id") -> DataFrame:
    """Updatable streaming top-N (``runtime/operators/rank/
    UpdatableTopNFunction.java`` + RetractableTopNFunction semantics):
    the input is an UPSERT stream — each row sets ``id_col``'s current
    value — and the operator maintains the top-N ids by current value
    per key, emitting a changelog: ``+I`` when an id enters the top-N,
    ``+U`` when a member's value changes, ``-D`` when it drops out.

    State = the current value per id (the same map the reference keeps)
    plus the previous top-N membership; emission is diff-based, so a
    quiet key emits nothing.  Values accumulate as integer cents --
    exact and order-independent.
    """
    out_schema = (f"op string, {key_field(events, key)}, {id_col} bigint, "
                  "val double, seq bigint")
    state_schema = ("ids array<bigint>, cents array<bigint>, "
                    "top_ids array<bigint>, top_cents array<bigint>, seq bigint")

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, cents, top_ids, top_cents, seq = state.get
            cur = dict(zip(list(ids), list(cents)))
            old_top = dict(zip(list(top_ids), list(top_cents)))
        else:
            cur, old_top, seq = {}, {}, 0
        if not len(pdf):
            return
        for uid, val in zip(i64_list(pdf, id_col),
                            pdf["value"].astype("float64").tolist()):
            cur[uid] = int(round(val * 100))
        ranked = sorted(cur.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
        new_top = dict(ranked)
        rows = []
        for uid, c in ranked:
            if uid not in old_top:
                seq += 1
                rows.append(("+I", key_[0], uid, c / 100.0, seq))
            elif old_top[uid] != c:
                seq += 1
                rows.append(("+U", key_[0], uid, c / 100.0, seq))
        for uid in old_top:
            if uid not in new_top:
                seq += 1
                rows.append(("-D", key_[0], uid, old_top[uid] / 100.0, seq))
        state.update((list(cur.keys()), list(cur.values()),
                      list(new_top.keys()), list(new_top.values()), seq))
        if rows:
            yield pd.DataFrame(rows, columns=["op", key, id_col, "val", "seq"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=[id_col, "ts", "event_id", "value"],
                       order=_EVENT_ORDER)


def over_range_bounded(events: DataFrame, preceding_minutes: float = 5,
                       key: str = "user_id") -> DataFrame:
    """Streaming OVER aggregate, time-RANGE bounded-preceding frame
    (``runtime/operators/over/RowTimeRangeBoundedPrecedingFunction.java:60``):
    each row is emitted with SUM(value)/COUNT(*) over the key's rows in
    ``[ts - preceding, ts]``.  RANGE frames include equal-timestamp
    peers — the reference fires on watermark and processes all rows of a
    timestamp together; here each batch is processed timestamp-group by
    timestamp-group, which is identical for the bounded run.

    State = the in-window suffix of (ts, cents) pairs — pruned every
    emission, so it is bounded by the frame width, never the history.
    Money accumulates as integer cents (exact at any parallelism).
    """
    out_schema = (f"{key_field(events, key)}, event_id bigint, ts timestamp, "
                  "range_sum double, range_n bigint")
    state_schema = "buf_us array<bigint>, buf_cents array<bigint>"
    prec_us = int(preceding_minutes * 60_000_000)

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            us, cents = state.get
            buf = list(zip(list(us), list(cents)))  # (ts_us, cents) asc
        else:
            buf = []
        out = []
        tss, ids = ts_us_list(pdf), i64_list(pdf, "event_id")
        vals = pdf["value"].astype("float64").tolist()
        # walk equal-timestamp runs (RANGE peers fire together)
        i = 0
        while i < len(tss):
            j = i
            while j < len(tss) and tss[j] == tss[i]:
                j += 1
            ts_us = tss[i]
            for k in range(i, j):
                buf.append((ts_us, int(round(vals[k] * 100))))
            buf = [(u, c) for (u, c) in buf if ts_us - u <= prec_us]
            s = sum(c for (_, c) in buf)
            n = len(buf)
            for k in range(i, j):
                out.append((key_[0], ids[k], ts_us, s / 100.0, n))
            i = j
        state.update(([u for (u, _) in buf], [c for (_, c) in buf]))
        if out:
            yield _frame(out, [key, "event_id", "ts", "range_sum", "range_n"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "value"], order=_EVENT_ORDER)


def late_data_split(events: DataFrame, delay_minutes: float,
                    allowed_lateness_minutes: float,
                    arrival_col: str = "__arrival",
                    key: str = "user_id") -> DataFrame:
    """allowedLateness + late-data side output
    (``WindowedStream.java:158-177`` allowedLateness/sideOutputLateData,
    ``WindowOperator.java:144-151`` isElementLate): rows are processed
    in ARRIVAL order per key; the per-key watermark is the running max
    event time minus ``delay``; a row whose timestamp is more than
    ``allowed_lateness`` behind that watermark is flagged late instead
    of being silently dropped — downstream splits the stream on the
    flag (``side_outputs``) and routes late rows to a recovery sink.

    ``arrival_col`` defines arrival order (a real pipeline has ingest
    order; bounded replays synthesize one).  State = one max-timestamp
    per key; the batch is processed with vectorized cummax, no Python
    row loop.
    """
    out_schema = (f"{key_field(events, key)}, event_id bigint, ts timestamp, "
                  "is_late boolean")
    state_schema = "max_us bigint"
    delay_us = int(delay_minutes * 60_000_000)
    late_us = int(allowed_lateness_minutes * 60_000_000)

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        if not len(pdf):
            return
        max_us = state.get[0] if state.exists else None
        # force microsecond resolution regardless of the pandas
        # datetime unit the Arrow batch arrived with
        ts_us = pd.Series(ts_us_list(pdf), index=pdf.index)
        prev_max = ts_us.cummax().shift(1)
        if max_us is not None:
            prev_max = prev_max.fillna(max_us).clip(lower=max_us)
        late = ts_us < prev_max - delay_us - late_us
        max_us = int(ts_us.max()) if max_us is None \
            else max(max_us, int(ts_us.max()))
        state.update((max_us,))
        yield pd.DataFrame({
            key: pdf[key],
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "is_late": late.fillna(False).astype(bool)})

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=[arrival_col, "ts", "event_id"],
                       order=[arrival_col])
