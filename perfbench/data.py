"""Seeded input tiers and their cached DuckDB oracle answers.

Every table the package reads (``catalog.TABLES``) is drawn from one
``numpy`` generator seeded by ``--seed``, with the shapes of the
TPC-H-style test tables: uniform keys, 30-word document vocabulary with
5% ``" dup"`` near-copies, unit-norm 64-d embeddings, and an
exponential-gap ``events`` stream.  Sizes, key counts and duplicate
widths depend only on the tier, never on the seed, so two seeds do the
same amount of work on different values.

A tier is written once per (workload, seed, tier) under the cache
directory together with each head's oracle answer, normalized by the
type and value rules of the package's correctness gate (column-name
order, canonical types, ``%.10g`` floats).  A run then checks its first
pass against the cached answer without re-running DuckDB.  The rules are
restated here rather than imported from ``tools/compare.py`` so that the
benchmark keeps working when the repository's tools are reorganised.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the big small fast slow data stream batch window join agg sort "
    "hash merge filter scan key value row column table spark query group "
    "order line part customer vector"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "hot", "small", "old", "cold", "red", "new", "large")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> np.ndarray:
    span = (hi - lo).days
    return _us(lo) + rng.integers(0, span + 1, n) * _DAY_US


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def event_table(rng, first_id: int, n: int, n_users: int,
                ts_us: np.ndarray) -> pa.Table:
    """``events`` rows with the given event times (also used by the
    open-loop generator, which stamps creation times)."""
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.maximum(_cents(rng.exponential(50.0, n)), 0.01)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts_us),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(types.tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1000)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp))})
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(
            np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist()),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist())})
    rf = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    ls = np.array(["O", "F"])[rng.integers(0, 2, n_li)]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, n_li)),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pa.array(rf.tolist()),
        "l_linestatus": pa.array(ls.tolist()),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4), n_li))})
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype("int64")
    ts = _us(dt.datetime(2024, 1, 1)) + np.cumsum(gaps)
    t["events"] = event_table(rng, 0, n_ev, max(int(15_000 * sf), 15), ts)
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def _documents(rng, n: int) -> pa.Table:
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, n)]
    # 5% near-duplicates: a copy of another document plus one marker word
    ids = rng.permutation(n)
    for dup, orig in zip(ids[: n // 20], ids[n // 20: n // 10]):
        texts[dup] = texts[orig] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(
            np.array(LANGS)[rng.choice(5, n, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in rng.permutation(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def write_tier(root: str, tables: dict[str, pa.Table],
               split: tuple[str, ...] = (), files: int = 1) -> None:
    """Write each table as ``<name>.parquet``; tables named in ``split``
    become a directory of ``files`` part files so scans get that many
    input splits."""
    os.makedirs(root, exist_ok=True)
    for name, tab in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        if name in split and files > 1:
            os.makedirs(path)
            step = math.ceil(tab.num_rows / files)
            for i in range(files):
                pq.write_table(tab.slice(i * step, step),
                               os.path.join(path, f"part-{i:05d}.parquet"))
        else:
            pq.write_table(tab, path)


# ---------------------------------------------------------------------------
# Oracle answers, normalized like the package's correctness gate
# ---------------------------------------------------------------------------
_DUCK_CANON = {
    "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "TINYINT": "i8",
    "UBIGINT": "u64", "UINTEGER": "u32", "HUGEINT": "i128",
    "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "BLOB": "bin",
}
_SPARK_CANON = {
    "bigint": "i64", "int": "i32", "smallint": "i16", "tinyint": "i8",
    "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
    "date": "date", "binary": "bin",
}


def canon_duck(t: str) -> str:
    t = t.upper()
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t.startswith("DECIMAL"):
        return t.lower()
    return _DUCK_CANON.get(t, t.lower())


def canon_spark(t: str) -> str:
    if t.startswith("timestamp"):
        return "ts"
    if t.startswith("decimal"):
        return t
    return _SPARK_CANON.get(t, t)


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def normalize(cols: list[str], rows) -> list[list[str]]:
    """Order-insensitive row key: columns sorted by name, values as text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([_norm(r[i]) for i in order] for r in rows)


def answer(cols: list[str], types: dict[str, str] | None, rows) -> dict:
    return {"cols": sorted(cols), "types": types or {},
            "rows": normalize(cols, rows)}


def mismatch(expected: dict, got: dict) -> str | None:
    """None when ``got`` equals ``expected``, else a one-line reason."""
    if got["cols"] != expected["cols"]:
        return f"columns {got['cols']} != {expected['cols']}"
    bad = [c for c, t in got["types"].items()
           if expected["types"].get(c, t) != t]
    if bad:
        return f"types differ on {bad}"
    if len(got["rows"]) != len(expected["rows"]):
        return f"rowcount {len(got['rows'])} != {len(expected['rows'])}"
    if got["rows"] != expected["rows"]:
        diff = next(a for a, b in zip(got["rows"], expected["rows"]) if a != b)
        return f"values differ, first {diff}"
    return None


def duck_views(con, root: str, names) -> None:
    for name in names:
        path = os.path.join(root, f"{name}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{src}')")


def oracle_answers(root: str, heads, oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        duck_views(con, root, [f[:-8] for f in os.listdir(root)
                               if f.endswith(".parquet")])
        out = {}
        for name in heads:
            sql = oracles[name]
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            types = {r[0]: canon_duck(r[1])
                     for r in con.execute(f"DESCRIBE {sql}").fetchall()}
            out[name] = answer(cols, types, rows)
        return out
    finally:
        con.close()


def ensure_tier(cache: str, key: str, seed: int, sf: float, heads,
                oracles: dict[str, str], split=(), files: int = 1):
    """Return (tier_dir, answers), generating both on a cache miss."""
    root = os.path.join(cache, key)
    done = os.path.join(root, "answers.json")
    if os.path.exists(done):
        with open(done) as f:
            return os.path.join(root, "tables"), json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    tables = os.path.join(root, "tables")
    write_tier(tables, make_tables(seed, sf), split, files)
    answers = oracle_answers(tables, heads, oracles)
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.replace(tmp, done)
    return tables, answers
