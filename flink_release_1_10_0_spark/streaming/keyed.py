"""Keyed state: the one operator shape every per-key stateful function
runs in (the package's only ``applyInPandasWithState`` caller).

The reference's keyed operators (``RowTimeSortOperator``, the
``runtime/operators/over/`` functions, ``CepOperator.java:82``) buffer
each key's event-time input and process it in timestamp order.  Spark
hands a state function one key's rows of a trigger as Arrow chunks of at
most ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, so sorting
chunk by chunk makes the answer depend on that setting.
:func:`keyed_state` owns what every keyed operator needs: the
pre-shuffle projection (Catalyst cannot prune through an opaque Python
function), ONE sort of a call's concatenated chunks in the operator's
declared order, and the route (streaming: ``applyInPandasWithState``;
batch: one ``applyInPandas`` call per key group).
"""

from __future__ import annotations

from collections.abc import Callable, Collection, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

StateFn = Callable[[Any, pd.DataFrame, GroupState], Iterator[pd.DataFrame]]

# End-of-input row id for BOUNDED inputs: the batch route appends one row
# per key group carrying it in ``eos_col`` — the analog of the final +inf
# watermark a bounded reference job emits.
EOS_SENTINEL_ID = -(2 ** 62)


def keyed_state(df: DataFrame, key: str | list[str], fn: StateFn,
                out_schema: str, state_schema: str, *,
                cols: Sequence[str] | None = None,
                order: Sequence[str] = (),
                desc: Collection[str] = (),
                output_mode: str = "append",
                watermark: tuple[str, str] | None = None,
                timeout: str | None = None,
                eos_col: str | None = None) -> DataFrame:
    """Run ``fn(key, pdf, state)`` per key over ``df``; it yields output
    frames.  ``pdf`` is the key's rows of the call, stably sorted by
    ``order`` (``desc`` columns descending; ties keep arrival order),
    zero rows on a timer call.  ``cols`` are the columns ``fn`` reads
    besides the key (``None``: all).  ``watermark=(col, delay)`` applies
    ``withWatermark`` and defaults ``timeout`` to ``EventTimeTimeout``.

    A batch ``df`` is bounded: ``fn`` gets each key's whole group once,
    with a state that starts empty and keeps nothing, plus — with
    ``eos_col`` — one end-of-input row (``EOS_SENTINEL_ID``)."""
    keys = [key] if isinstance(key, str) else list(key)
    if cols is not None:
        df = df.select(*dict.fromkeys([*keys, *cols]))
    if timeout is None:
        timeout = (GroupStateTimeout.EventTimeTimeout if watermark
                   else GroupStateTimeout.NoTimeout)
    order, desc = tuple(order), frozenset(desc)
    if not df.isStreaming:
        if timeout != GroupStateTimeout.NoTimeout:
            raise NotImplementedError(
                "state timers need a streaming source: a bounded input "
                "has no watermark clock")
        return (df.groupBy(*keys)
                .applyInPandas(_bounded_group_fn(fn, order, desc, eos_col,
                                                 out_schema), out_schema))
    if watermark is not None:
        df = df.withWatermark(*watermark)
    names = list(df.columns)

    def call(key_: Any, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        frames = list(pdfs)
        if len(frames) == 1:
            pdf = frames[0]
        elif frames:
            pdf = pd.concat(frames, ignore_index=True)
        else:
            pdf = pd.DataFrame(columns=names)
        return fn(key_, sort_rows(pdf, order, desc), state)

    return (df.groupBy(*keys)
            .applyInPandasWithState(call, out_schema, state_schema,
                                    output_mode, timeout))


def key_field(df: DataFrame, key: str) -> str:
    """The output-schema field ``"<key> <type>"`` typed as ``df[key]``."""
    return f"{key} {df.schema[key].dataType.simpleString()}"


def sort_rows(pdf: pd.DataFrame, order: Sequence[str],
              desc: Collection[str] = ()) -> pd.DataFrame:
    """``pdf`` stably sorted by ``order`` (``desc`` columns descending):
    the ``np.lexsort`` fast path, or pandas when a key needs object
    comparison."""
    if not order or len(pdf) < 2:
        return pdf
    asc = [c not in desc for c in order]
    perm = _sort_permutation(pdf, order, asc)
    if perm is None:
        return pdf.sort_values(list(order), ascending=asc, kind="stable")
    return pdf.take(perm)


def _sort_permutation(pdf, sort_cols, asc):
    """np.lexsort permutation equal to ``pdf.sort_values(sort_cols,
    ascending=asc)`` when every key casts to a numeric/datetime dtype;
    None when a key needs object comparison (the caller then falls back
    to pandas).  Both sorts are stable, so ties keep arrival order; NaN
    sorts last under both engines (ascending: numpy end-sorts NaN;
    descending via negation: -NaN is still NaN, and pandas keeps
    na_position='last' for both directions)."""
    keys_np = []
    for c, a in zip(sort_cols, asc):
        arr = pdf[c].to_numpy()
        k = arr.dtype.kind
        if k in "Mm":
            if np.isnat(arr).any():
                return None     # NaT casts to int64-min (would sort
                                # first); pandas puts NaT last — fall back
            if k == "M":
                arr = arr.astype("datetime64[us]")
            arr = arr.astype("int64")
        elif k in "bui":
            if k == "u" and arr.size and \
                    int(arr.max()) > np.iinfo(np.int64).max:
                return None     # uint64 >= 2**63 would wrap negative
                                # under the int64 cast (silent mis-sort)
            arr = arr.astype("int64")
        elif k != "f":
            return None
        if not a and arr.dtype.kind == "i" and arr.size and \
                int(arr.min()) == np.iinfo(np.int64).min:
            return None         # negating INT64_MIN overflows — fall back
        keys_np.append(arr if a else -arr)
    # np.lexsort takes least-significant key first
    return np.lexsort(tuple(reversed(keys_np)))


def ts_us_list(pdf: pd.DataFrame, col: str = "ts") -> list[int]:
    """Event-time column (a timestamp, or already ``unix_micros``) as
    integer microseconds in one plain list: state functions walk plain
    lists, never ``iterrows`` (~10-100x slower row boxing)."""
    a = pdf[col].values
    if a.dtype.kind == "M":
        a = a.astype("datetime64[us]")
    return a.astype("int64", copy=False).tolist()


def i64_list(pdf: pd.DataFrame, col: str) -> list[int]:
    return pdf[col].astype("int64").tolist()


class _BoundedGroupState:
    """GroupState stand-in for the batch route: a key's whole group
    arrives in one call, so there is no prior state, nothing to persist
    and no timer (``NoTimeout`` only)."""
    exists = False

    def update(self, _value) -> None:
        pass

    def remove(self) -> None:
        pass


def _bounded_group_fn(fn: StateFn, order: tuple, desc: frozenset,
                      eos_col: str | None, out_schema: str):
    """Adapt a state function to ``applyInPandas``: feed the key's whole
    group, sorted, then — with ``eos_col`` — one end-of-input row (a
    copy of the group's last row with ``eos_col = EOS_SENTINEL_ID``, so
    every column keeps its dtype), the bounded job's +inf watermark.  A
    key without output returns a zero-row frame typed like the output
    (Arrow cannot cast an untyped float64 column to a timestamp)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType
    empty = to_arrow_schema(DataType.fromDDL(out_schema)).empty_table().to_pandas()

    def run(key_, pdf):
        pdf = sort_rows(pdf, order, desc)
        if eos_col is not None:
            eos = pdf.iloc[-1:].copy()
            eos[eos_col] = EOS_SENTINEL_ID
            pdf = pd.concat([pdf, eos], ignore_index=True)
        frames = list(fn(key_, pdf, _BoundedGroupState()))
        return pd.concat(frames, ignore_index=True) if frames else empty
    return run
