"""Property-based tests (hypothesis) for custom operators — randomized
inputs, invariant assertions.  The reference has no property testing
(SURVEY.md §5.6); these guard the operators WE wrote on top of Spark,
where a Catalyst built-in can't vouch for correctness.

Spark jobs are slow per example, so examples are few and data is small;
the value is shrinkage to minimal counterexamples on failure.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # key
        st.integers(min_value=0, max_value=10_000),     # id (deduped below)
        st.integers(min_value=-100, max_value=100),     # value
    ),
    min_size=1, max_size=30,
)

_SETTINGS = dict(max_examples=5, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_split_distinct_agg_equals_count_distinct(spark, rows):
    from flink_release_1_10_0_spark.operators.skew import split_distinct_agg

    df = spark.createDataFrame(
        [(k, i, float(v)) for k, i, v in rows], "k int, id int, v double")
    from pyspark.sql import functions as F

    split = {(r["k"], r["n_distinct"])
             for r in split_distinct_agg(df, ["k"], "id", n_buckets=4).collect()}
    direct = {(r["k"], r["n"]) for r in
              df.groupBy("k").agg(F.countDistinct("id").alias("n")).collect()}
    assert split == direct


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, rows):
    from flink_release_1_10_0_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for k, i, _ in rows], "k int, lid int")
    right = spark.createDataFrame(
        [(k, v) for k, _, v in rows], "k int, rv int")
    plain = left.join(right, "k").count()
    salted = salted_join(left, right, "k", n_salts=3).count()
    assert plain == salted


@given(rows=ROWS, n=st.integers(min_value=1, max_value=4))
@settings(**_SETTINGS)
def test_top_n_invariants(spark, rows, n):
    """top_n returns <= n rows per key, ranked 1..m, and every returned
    value is >= any non-returned value of the same key."""
    from collections import defaultdict

    from flink_release_1_10_0_spark.operators.ranking import top_n

    uniq = {(k, i): v for k, i, v in rows}
    data = [(k, i, float(v)) for (k, i), v in uniq.items()]
    df = spark.createDataFrame(data, "k int, id int, v double")
    from pyspark.sql import functions as F

    out = top_n(df, ["k"], order_by=[F.col("v").desc(), F.col("id").asc()],
                n=n).collect()
    by_key = defaultdict(list)
    for r in out:
        by_key[r["k"]].append(r)
    values = defaultdict(list)
    for k, i, v in data:
        values[k].append(v)
    for k, group in by_key.items():
        assert len(group) <= n
        assert sorted(r["rn"] for r in group) == list(range(1, len(group) + 1))
        kept_min = min(r["v"] for r in group)
        dropped = sorted(values[k], reverse=True)[len(group):]
        assert all(kept_min >= d for d in dropped)


def test_no_iterrows_in_package():
    """Guard: pandas.iterrows is banned in the package — stateful hot
    loops must extract columns once per Arrow batch (tolist) and walk
    plain lists (r2 verdict #4: iterrows is 10-100x slower row boxing)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "flink_release_1_10_0_spark"
    offenders = [str(p) for p in root.rglob("*.py")
                 if re.search(r"\.iterrows\(", p.read_text())]
    assert offenders == []


def test_no_driver_side_collect_in_package():
    """Guard: no .collect()/.toPandas()/driver-side loops inside the
    engine package — every operator must stay distributed (the bench
    and correctness harnesses collect, the package never does).  The
    one sanctioned exception would need an explicit allowlist entry."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "flink_release_1_10_0_spark"
    pat = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.toLocalIterator\(")
    # sanctioned: QueryableStateHandle.get() is a CLIENT point-lookup —
    # returning the looked-up rows to the caller is its contract
    # (QueryableStateClient.getKvState), not an operator data path; the
    # filter still runs distributed before the single-key result lands.
    # llm/bpe.py is the model-training-loop pattern (same class as the
    # kmeans/Pregel driver loops): each merge iteration collects ONE
    # argmax row (a model scalar, never data), and encode collects the
    # n_merges-row model table to fold into a map-side expression —
    # chaining these lazily instead would duplicate the aggregation
    # subtree per iteration (plans are trees), an exponential blowup.
    # sources/dbapi.py's write collects one row count per partition
    # (never data rows) and sums them on the driver: a distributed sum
    # would add an exchange and a stage to every write.
    allow = {"streaming/queryable.py", "llm/bpe.py", "sources/dbapi.py"}
    offenders = [str(p) for p in root.rglob("*.py")
                 if pat.search(p.read_text())
                 and str(p.relative_to(root)) not in allow]
    assert offenders == []


def test_sessions_built_only_by_get_spark():
    """Guard: in the package, tools/ and bench.py only session.get_spark
    builds a SparkSession, so no hand-copied builder drops a conf every
    session needs (the worker daemon and its PYTHONPATH).  In the
    package only session.py makes temp dirs, so every file a call writes
    lives under its session's scratch root (``session.scratch_dir``)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    package = list((root / "flink_release_1_10_0_spark").rglob("*.py"))
    checks = [
        (r"SparkSession\.builder",
         [*package, *(root / "tools").rglob("*.py"), root / "bench.py"]),
        (r"\b(mkdtemp|gettempdir|TemporaryDirectory)\b", package),
    ]
    for pattern, files in checks:
        offenders = [str(p.relative_to(root)) for p in files
                     if re.search(pattern, p.read_text())]
        assert offenders == ["flink_release_1_10_0_spark/session.py"], pattern


def test_no_spark_ui_reads():
    """Guard: run reports come from ``metrics.measure`` (status stores
    read through py4j), so no package or tools/ module reads the Spark
    UI or its REST API, and ``get_spark`` has no switch to turn it on."""
    import inspect
    import pathlib
    import re

    from flink_release_1_10_0_spark.session import get_spark

    root = pathlib.Path(__file__).resolve().parents[1]
    files = [*(root / "flink_release_1_10_0_spark").rglob("*.py"),
             *(root / "tools").rglob("*.py")]
    offenders = [str(p.relative_to(root)) for p in files
                 if re.search(r"uiWebUrl|/api/v1/", p.read_text())]
    assert offenders == []
    assert "ui" not in inspect.signature(get_spark).parameters


@given(vals=st.lists(st.integers(min_value=0, max_value=9),
                     min_size=1, max_size=12),
       mode=st.sampled_from(["relaxed", "relaxed_nd"]))
@settings(**_SETTINGS)
def test_nfa_two_stage_matches_bruteforce(spark, vals, mode):
    """Randomized CEP check: a two-stage pattern (A then B) under
    no-skip must equal the brute-force model — relaxed (followedBy)
    takes the FIRST B after each A, relaxed_nd (followedByAny) takes
    EVERY B after each A, with a parallel run per A occurrence."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.nfa import NfaStage, match_nfa

    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "m", float(v))
            for i, v in enumerate(vals, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_prop_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    stages = [NfaStage(pred="value >= 5"),
              NfaStage(pred="value < 5", contiguity=mode)]
    out = run_to_completion(match_nfa(sdf, stages), "append")
    got = sorted((r.start_id, r.end_id) for r in out.collect())

    expect = []
    for i, v in enumerate(vals):
        if v >= 5:
            laters = [j for j in range(i + 1, len(vals)) if vals[j] < 5]
            take = laters[:1] if mode == "relaxed" else laters
            expect += [(i + 1, j + 1) for j in take]
    assert got == sorted(expect)


@given(vals=st.lists(st.integers(min_value=0, max_value=9),
                     min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_nfa_skip_past_last_bruteforce(spark, vals):
    """skipPastLastEvent model: among matches completing at the same
    event, only the earliest-starting one emits; every other run (and
    completed match) containing an event at or before the emitted
    match's end is discarded (the reference docs' ``b+ c`` example:
    only ``b1 b2 b3 c`` survives)."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.nfa import (
        SKIP_PAST_LAST, NfaStage, match_nfa)

    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "m", float(v))
            for i, v in enumerate(vals, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_prop_skip_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    stages = [NfaStage(pred="value >= 5"), NfaStage(pred="value < 5")]
    out = run_to_completion(
        match_nfa(sdf, stages, after_match=SKIP_PAST_LAST), "append")
    got = sorted((r.start_id, r.end_id) for r in out.collect())

    first_b_after = {}
    for i in range(len(vals)):
        if vals[i] >= 5:
            laters = [j for j in range(i + 1, len(vals)) if vals[j] < 5]
            if laters:
                first_b_after[i] = laters[0]
    expect, cut = [], -1
    for j in sorted(set(first_b_after.values())):
        starts = [i for i, jj in sorted(first_b_after.items())
                  if jj == j and i > cut]
        if starts:
            expect.append((starts[0] + 1, j + 1))
            cut = j
    assert got == sorted(expect)


@given(evs=st.lists(st.tuples(st.sampled_from(["purchase", "error"]),
                              st.integers(min_value=1, max_value=2)),
                    min_size=1, max_size=10))
@settings(**_SETTINGS)
def test_stream_join_changelog_folds_to_batch_join(spark, evs):
    """Any arrival interleaving: folding the update-join changelog must
    equal the batch left join of the final tables (the retraction
    invariant the reference's StreamingJoinOperator maintains)."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.stream_join import (
        LEFT_OUTER, fold_join_changelog, stream_stream_join)

    rows = [(i, f"2024-01-01 10:{i:02d}:00", u, et, float(i))
            for i, (et, u) in enumerate(evs, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="ssj_prop_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    clog = run_to_completion(
        stream_stream_join(sdf.filter("event_type = 'purchase'"),
                           sdf.filter("event_type = 'error'"),
                           "user_id", how=LEFT_OUTER), "append")
    got = {(r.user_id, r.l_id, r.r_id)
           for r in fold_join_changelog(clog, "user_id").collect()}

    expect = set()
    for u in (1, 2):
        ls = [i + 1 for i, (et, uu) in enumerate(evs)
              if uu == u and et == "purchase"]
        rs = [i + 1 for i, (et, uu) in enumerate(evs)
              if uu == u and et == "error"]
        for l in ls:
            expect |= {(u, l, r) for r in rs} if rs else {(u, l, None)}
    assert got == expect


@given(evs=st.lists(st.tuples(st.sampled_from(["error", "purchase"]),
                              st.integers(min_value=1, max_value=2),
                              st.integers(min_value=0, max_value=59)),
                    min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_temporal_join_matches_bruteforce_asof(spark, evs):
    """Randomized as-of check: each probe joins the LATEST build version
    with ts <= probe ts for its key ((ts, id) order breaks ties) —
    TemporalRowTimeJoinOperator semantics under any interleaving,
    including multiple versions at the same timestamp."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.stateful import temporal_join

    rows = [(i, f"2024-01-01 10:{mn:02d}:00", u, et, float(i))
            for i, (et, u, mn) in enumerate(evs, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="tj_prop_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    out = run_to_completion(
        temporal_join(sdf, build_type="error", probe_type="purchase"),
        "append")
    got = sorted((r.probe_id, r.version_id) for r in out.collect())

    expect = []
    ordered = sorted(((mn, i + 1, et, u) for i, (et, u, mn) in enumerate(evs)))
    for mn, eid, et, u in ordered:
        if et != "purchase":
            continue
        builds = [(m, e) for m, e, t, uu in ordered
                  if uu == u and t == "error" and (m, e) <= (mn, eid)]
        if builds:
            expect.append((eid, max(builds)[1]))
    assert got == sorted(expect)


@given(docs=st.lists(st.lists(st.sampled_from(["a", "b"]),
                              min_size=1, max_size=20),
                     min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_scrub_boilerplate_equals_bruteforce(spark, docs):
    """Randomized scrub check over a tiny vocabulary (so duplicated
    8-token windows actually occur): the cleaned text must equal a
    Python replay — complete windows shared by 2+ docs dropped, unique
    windows and the trailing partial kept in order."""
    import os
    import tempfile

    from flink_release_1_10_0_spark.queries import all_queries

    W = 8
    rows = [(i, " ".join(toks), "en", "s", 1)
            for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int")
    d = tempfile.mkdtemp(prefix="scrub_prop_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: (r.clean_text, r.n_segments, r.n_removed) for r in
           all_queries()["dedup_scrub_boilerplate"](spark, d).collect()}

    segs = {}
    for i, toks in enumerate(docs):
        for s in range(len(toks) // W):
            seg = " ".join(toks[s * W:(s + 1) * W])
            segs.setdefault(seg, set()).add(i)
    expect = {}
    for i, toks in enumerate(docs):
        f = len(toks) // W
        kept = []
        removed = 0
        for s in range(f):
            seg = " ".join(toks[s * W:(s + 1) * W])
            if len(segs[seg]) > 1:
                removed += 1
            else:
                kept.append(seg)
        rem = toks[f * W:]
        if rem:
            kept.append(" ".join(rem))
        expect[i] = (" ".join(kept), f, removed)
    assert got == expect


_EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=8),   # src
              st.integers(min_value=1, max_value=4)),  # step (dst = src+step)
    min_size=1, max_size=20,
)


@given(edges=_EDGES)
@settings(**_SETTINGS)
def test_delta_iteration_sssp_equals_bfs(spark, edges):
    """iterate_delta (DeltaIteration.java analog) must compute the same
    shortest hop-counts as a driver-side BFS on any DAG."""
    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.operators.iterate import delta_iterate

    e = sorted({(s, s + d) for s, d in edges})
    # brute-force BFS from node 0
    dist = {0: 0}
    frontier = [0]
    while frontier:
        nxt = []
        for u in frontier:
            for s, t in e:
                if s == u and t not in dist:
                    dist[t] = dist[u] + 1
                    nxt.append(t)
        frontier = nxt

    edf = spark.createDataFrame(e, "src long, dst long")
    seed = spark.createDataFrame([(0, 0)], "node long, dist long")

    def step(solution, workset):
        cand = (workset.join(edf, workset.node == edf.src)
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + 1).alias("dist"))
                .groupBy("node").agg(F.min("dist").alias("dist")))
        delta = (cand.alias("c").join(solution.alias("s"), "node", "left")
                 .filter(F.col("s.dist").isNull()
                         | (F.col("c.dist") < F.col("s.dist")))
                 .select("node", F.col("c.dist").alias("dist")))
        return delta, delta

    got = {r.node: r.dist
           for r in delta_iterate(seed, seed, step, 50,
                                  key_cols=["node"]).collect()}
    assert got == dist


_ARRIVALS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=50),   # event time
              st.booleans()),                           # is punctuation
    min_size=1, max_size=25,
)


@given(arrivals=_ARRIVALS)
@settings(**_SETTINGS)
def test_punctuated_watermark_equals_replay(spark, arrivals):
    """assign_punctuated_watermarks must classify lateness exactly like
    a sequential replay: wm = max punctuation event-time seen STRICTLY
    before the row, late iff ts < wm."""
    import datetime

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.triggers import (
        assign_punctuated_watermarks)

    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(seconds=ts),
             "mark" if is_m else "data")
            for i, (ts, is_m) in enumerate(arrivals)]
    # replay
    wm = None
    expect = []
    for i, t_, kind in rows:
        expect.append(wm is not None and t_ < wm)
        if kind == "mark":
            wm = t_ if wm is None or t_ > wm else wm

    df = spark.createDataFrame(
        [(i, t_, k, 1) for (i, t_, k) in rows],
        "arrival long, ts timestamp, kind string, part int")
    out = assign_punctuated_watermarks(
        df, F.col("kind") == "mark", "ts", "arrival", "part")
    got = [r.is_late for r in out.orderBy("arrival").collect()]
    assert got == expect


_VSHAPE_MR_SQL = """
SELECT user_id, CAST(match_no AS BIGINT) AS match_no,
       strt_val, bottom_val, up_val, n_down
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts
  MEASURES FIRST(STRT.value) AS strt_val,
           LAST(DOWN.value) AS bottom_val,
           LAST(UP.value) AS up_val,
           COUNT(DOWN.*) AS n_down,
           MATCH_NUMBER() AS match_no
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (STRT DOWN+ UP)
  DEFINE STRT AS TRUE,
         DOWN AS (LAST(DOWN.value, 1) IS NULL AND DOWN.value < STRT.value)
                 OR DOWN.value < LAST(DOWN.value, 1),
         UP AS UP.value > LAST(DOWN.value)
) AS m
"""


@given(vals=st.lists(st.integers(min_value=0, max_value=6),
                     min_size=3, max_size=14))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mr_vshape_navigation_matches_backtracking_bruteforce(spark, vals):
    """The navigated V-shape DEFINE (own-variable LAST(DOWN,1) with NULL
    seed + bare STRT cross-reference) must equal a literal backtracking
    matcher for PATTERN (STRT DOWN+ UP), greedy DOWN+, SKIP TO NEXT ROW."""
    import datetime

    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)

    # brute force with greedy backtracking: longest DOWN run first, then
    # shorter, until UP (> last DOWN) matches the next row
    n = len(vals)
    found = []
    for p in range(n):
        e = p
        while e + 1 < n and vals[e + 1] < vals[e]:
            e += 1
        for end in range(e, p, -1):
            if end + 1 < n and vals[end + 1] > vals[end]:
                found.append(
                    (vals[p], vals[end], vals[end + 1], end - p, end + 1, p))
                break
    # MATCH_NUMBER orders by completion position then start
    expect = [t[:4] for t in sorted(found, key=lambda t: (t[4], t[5]))]

    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(seconds=i), 1, "e", float(v), "")
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    out = execute_match_recognize_sql(spark, _VSHAPE_MR_SQL, batch_df=df)
    got = [(r.strt_val, r.bottom_val, r.up_val, r.n_down)
           for r in sorted(out.collect(), key=lambda r: r.match_no)]
    assert got == [(float(a), float(b), float(c), d)
                   for a, b, c, d in expect]


@given(syms=st.lists(st.sampled_from("abx"), min_size=1, max_size=10),
       quant=st.sampled_from(["?", "+", "*"]))
@settings(**_SETTINGS)
def test_nfa_trailing_emission_matches_bruteforce(spark, syms, quant):
    """Trailing-stage emission (round-7 closers) vs a brute-force model:
    pattern ``a b{quant}`` with a NON-greedy trailing quantifier under
    no-skip/relaxed contiguity emits, per ``a``, the short match (for ?
    and *) and one match per consumed-``b`` prefix (the b's are the
    successive b-events after the a) — Pattern.java:246/:306
    partial-match semantics."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.nfa import NfaStage, match_nfa

    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, s, 0.0)
            for i, s in enumerate(syms, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_prop_trail_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    mn, mx = {"?": (0, 1), "+": (1, None), "*": (0, None)}[quant]
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=mn, max_times=mx)]
    out = run_to_completion(match_nfa(sdf, stages), "append")
    got = sorted(tuple(r.ev_ids) for r in out.collect())

    expect = []
    for i, s in enumerate(syms):
        if s != "a":
            continue
        if mn == 0:
            expect.append((i + 1,))                     # short match
        bs = [j + 1 for j in range(i + 1, len(syms)) if syms[j] == "b"]
        limit = len(bs) if mx is None else min(mx, len(bs))
        for k in range(1, limit + 1):
            expect.append((i + 1, *bs[:k]))             # per-extension
    assert got == sorted(expect)


def _ref_loop_nfa(syms: list[str], mn: int, mx):
    """Independent reference simulator for A B{mn,mx} C (all relaxed,
    non-greedy), written in the NFACompiler state-machine style —
    explicit TAKE / IGNORE / PROCEED edge walking per branch
    (NFACompiler.java:827; NFA.java createDecisionGraph) — rather than
    the engine's cand-chain formulation.  Branch = (node, k, consumed):
    node 'B' is the looping state after k takes, node 'C' the
    proceeded/closed state."""
    branches: set[tuple] = set()
    out: set[tuple] = set()
    for eid, s in enumerate(syms, 1):
        nxt: set[tuple] = set()
        for node, k, ev in branches:
            if node == "B":
                if s == "b" and (mx is None or k < mx):     # TAKE at loop
                    if mx is not None and k + 1 == mx:
                        # the reference's times chain wires the FINAL
                        # take edge directly into the next pattern's
                        # state (NFACompiler.createTimesState): a
                        # SATURATED bounded loop has no resting ignore
                        # edge — the branch sits at C after the take
                        nxt.add(("C", 0, ev + (eid,)))
                    else:
                        nxt.add(("B", k + 1, ev + (eid,)))
                if s != "b":                                # IGNORE at loop
                    nxt.add(("B", k, ev))
                if k >= mn:                                 # PROCEED
                    if s == "c":                            # TAKE at C
                        out.add(ev + (eid,))
                    else:                                   # IGNORE at C
                        nxt.add(("C", 0, ev))
            else:                                           # closed at C
                if s == "c":
                    out.add(ev + (eid,))
                else:
                    nxt.add(("C", 0, ev))
        if s == "a":                                        # start state
            nxt.add(("B", 0, (eid,)))
        branches = nxt
    return out


@given(syms=st.lists(st.sampled_from(["a", "b", "c", "x"]),
                     min_size=1, max_size=10),
       mn=st.integers(min_value=1, max_value=2),
       mx=st.sampled_from([None, 2, 3]))
@settings(**_SETTINGS)
def test_nfa_loop_edge_set_matches_reference_machine(spark, syms, mn, mx):
    """The engine's loop edge semantics (PROCEED prefixes, loop IGNORE
    survival) must equal an independent simulator of the reference's
    compiled state machine on random inputs."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.nfa import NfaStage, match_nfa

    if mx is not None and mx < mn:
        mx = mn
    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, s, 0.0)
            for i, s in enumerate(syms, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_loopprop_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=mn, max_times=mx),
              NfaStage(pred="event_type = 'c'")]
    out = run_to_completion(match_nfa(sdf, stages), "append")
    got = {tuple(r.ev_ids) for r in out.collect()}
    assert got == _ref_loop_nfa(syms, mn, mx)


def _ref_group_nfa(syms: list[str], gmn: int, gmx, has_y: bool):
    """Independent reference simulator for X ((A B))Q [Y] (relaxed
    seams, non-greedy), written in the NFACompiler group-middle-state
    style — explicit TAKE / IGNORE / PROCEED / LOOP-BACK edge walking
    per branch (GroupPattern.java:30 compiled via NFACompiler middle
    states) — rather than the engine's cand-chain formulation.
    Branch = (node, reps, consumed): 'E' entered-awaiting-first-rep,
    'A' mid-rep (took a, awaiting b), 'R' at a completed-rep boundary
    (loop-back | proceed), 'F' past a full group awaiting y."""
    branches: set[tuple] = set()
    out: set[tuple] = set()
    for eid, s in enumerate(syms, 1):
        nxt: set[tuple] = set()
        for node, k, ev in branches:
            if node == "E":
                if s == "a":
                    nxt.add(("A", 0, ev + (eid,)))    # TAKE: consumed
                else:
                    nxt.add((node, k, ev))            # IGNORE: stays
            elif node == "A":
                if s == "b":
                    done, ev2 = k + 1, ev + (eid,)
                    if not has_y and done >= gmn:
                        out.add(ev2)                  # trailing prefix
                    if gmx is None or done < gmx:
                        nxt.add(("R", done, ev2))
                    elif has_y:
                        nxt.add(("F", done, ev2))
                else:
                    nxt.add((node, k, ev))            # relaxed IGNORE
            elif node == "R":
                took = False
                if s == "a" and (gmx is None or k < gmx):
                    nxt.add(("A", k, ev + (eid,)))    # LOOP-BACK
                    took = True
                if has_y and s == "y" and k >= gmn:
                    out.add(ev + (eid,))              # PROCEED + TAKE
                if not took:
                    nxt.add((node, k, ev))            # seam IGNORE
            else:                                     # F: past the group
                if has_y and s == "y":
                    out.add(ev + (eid,))              # consumed; dies
                else:
                    nxt.add((node, k, ev))
        if s == "x":                                  # start state
            if not has_y and gmn == 0:
                out.add((eid,))                       # trailing optional
            nxt.add(("E", 0, (eid,)))
            if gmn == 0 and has_y:
                # the whole-group-skip PROCEED is materialized as its
                # own computation state at x-take time (it survives the
                # group branch consuming later a's)
                nxt.add(("F", 0, (eid,)))
        branches = nxt
    return out


@given(syms=st.lists(st.sampled_from(["a", "b", "x", "y", "q"]),
                     min_size=1, max_size=9),
       quant=st.sampled_from([(0, 1), (1, None), (1, 2), (2, 2)]),
       has_y=st.booleans())
@settings(**_SETTINGS)
def test_nfa_group_edges_match_reference_machine(spark, syms, quant, has_y):
    """Quantified group patterns X ((A B))Q [Y]: the engine's group
    loop-back / skip-over / proceed edges must equal an independent
    simulator of the reference's compiled group middle states on
    random inputs (optional, oneOrMore, times(from,to), times(n))."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.cep import Pattern
    from flink_release_1_10_0_spark.streaming.core import run_to_completion

    gmn, gmx = quant
    if gmn == 0 and not has_y and "x" not in syms:
        syms = syms + ["x"]   # keep at least one start candidate
    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, s, 0.0)
            for i, s in enumerate(syms, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_grpprop_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)

    pat = Pattern.begin("x").followed_by_pattern(
        Pattern.begin("a").followed_by("b"))
    if (gmn, gmx) == (0, 1):
        pat = pat.group_optional()
    elif (gmn, gmx) == (1, None):
        pat = pat.group_one_or_more()
    else:
        pat = pat.group_times(gmn, gmx)
    if has_y:
        pat = pat.followed_by("y")
    out = run_to_completion(pat.match_stream(sdf), "append")
    got = {tuple(r.ev_ids) for r in out.collect()}
    assert got == _ref_group_nfa(syms, gmn, gmx, has_y)


@given(vals=st.lists(st.integers(min_value=1, max_value=9),
                     min_size=1, max_size=14),
       thr=st.sampled_from([3, 5, 7]))
@settings(**_SETTINGS)
def test_mr_define_aggregate_matches_fold(spark, vals, thr):
    """Randomized RUNNING-aggregate DEFINE check (round 9): PATTERN
    (A+ B), A AS AVG(A.value) < thr, AFTER MATCH SKIP PAST LAST ROW —
    the engine (running accumulators + held start-order emission + EOS
    discard of matches blocked by an unwindowed partial) must equal the
    independent sequential fold: extend A while the average with the
    row appended stays under thr; the first breaking row after a
    non-empty A is B and the match emits; resume past it."""
    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)
    from pyspark.sql import functions as F

    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "m", float(v))
            for i, v in enumerate(vals, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    out = execute_match_recognize_sql(spark, f"""
        SELECT user_id, start_id, end_id, n_a FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS start_id,
                   LAST(B.event_id) AS end_id, COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+ B)
          DEFINE A AS AVG(A.value) < {thr}
        )""", batch_df=df)
    got = sorted((r.start_id, r.end_id, r.n_a) for r in out.collect())

    expect, cnt, sm, start = [], 0, 0.0, None
    for i, v in enumerate(vals, 1):
        if (sm + v) / (cnt + 1) < thr:
            cnt, sm = cnt + 1, sm + v
            start = start if start is not None else i
        elif cnt > 0:
            expect.append((start, i, cnt))
            cnt, sm, start = 0, 0.0, None
    assert got == sorted(expect)


# --------------------------------------------------------------------------
# As-of join (operators/joins.py asof_join — the union-and-carry-forward
# plan the round-10 temporal SQL surface rides): randomized probes and
# versions vs an independent brute-force per-row scan.
# --------------------------------------------------------------------------
_ASOF_PROBES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),     # key
              st.integers(min_value=0, max_value=50)),   # probe time
    min_size=1, max_size=15)
_ASOF_VERSIONS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),     # key
              st.integers(min_value=0, max_value=50),    # version time
              st.integers(min_value=-99, max_value=99)), # payload
    min_size=0, max_size=15, unique_by=lambda t: (t[0], t[1]))


@given(probes=_ASOF_PROBES, versions=_ASOF_VERSIONS)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, probes, versions):
    from flink_release_1_10_0_spark.operators.joins import asof_join

    probe_rows = [(k, t, i) for i, (k, t) in enumerate(probes)]
    p = spark.createDataFrame(probe_rows, "k int, pt int, pid int")
    b = spark.createDataFrame(
        versions or [(99, 0, 0)], "k int, vt int, payload int")
    out = {r.pid: r.payload
           for r in asof_join(p, b, keys=[("k", "k")], probe_ts="pt",
                              build_ts="vt",
                              build_cols=["payload"]).collect()}

    def brute(k, t):
        cand = [(vt, pl) for (vk, vt, pl) in (versions or [(99, 0, 0)])
                if vk == k and vt <= t]
        return max(cand)[1] if cand else None

    expect = {i: brute(k, t) for (k, t, i) in probe_rows}
    assert out == expect


# --------------------------------------------------------------------------
# SRP signatures (llm/dedup.py srp_signatures): the Spark SQL expression
# vs an independent pure-Python reimplementation of the integer contract
# (floor-quantize, Knuth-hash hyperplane signs, bit packing).
# --------------------------------------------------------------------------
_VECS = st.lists(
    st.lists(st.floats(min_value=-2.0, max_value=2.0,
                       allow_nan=False, allow_infinity=False,
                       width=32),
             min_size=8, max_size=8),
    min_size=1, max_size=10)


@given(vecs=_VECS)
@settings(**_SETTINGS)
def test_srp_signatures_match_python_reference(spark, vecs):
    from flink_release_1_10_0_spark.llm.dedup import srp_signatures

    dim, ppb, nb = 8, 4, 2
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.vec_id: (r.sk0, r.sk1)
           for r in srp_signatures(df, dim=dim, planes_per_band=ppb,
                                   n_bands=nb).collect()}

    import math
    import struct

    def quant(vec):
        # float32 round-trip first: Spark stores array<float>
        return [math.floor(struct.unpack("f", struct.pack("f", x))[0] * 1000)
                for x in vec]

    qs = [quant(v) for _, v in rows]
    n = len(qs)
    sv = [sum(q[i] for q in qs) for i in range(dim)]

    def py_sig(q):
        # mean-centered: sign(dot(s, q*N - S)) — srp_signatures contract
        sigs = []
        for b in range(nb):
            word = 0
            for j in range(b * ppb, (b + 1) * ppb):
                dot = 0
                for i in range(dim):
                    h = ((j * dim + i + 1) * 2654435761) % 4294967296
                    c = q[i] * n - sv[i]
                    dot += c if h < 2147483648 else -c
                if dot >= 0:
                    word |= 1 << (j - b * ppb)
            sigs.append(word)
        return tuple(sigs)

    expect = {rid: py_sig(quant(v)) for rid, v in rows}
    assert got == expect


@given(evs=st.lists(st.tuples(st.sampled_from([1, 2]),
                              st.sampled_from("abx")),
                    min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_nfa_watermark_timer_flush_matches_model(spark, evs):
    """Cross-key event-time timer flush vs a brute-force model: pattern
    ``a b+ GREEDY within W`` over two interleaved keys with
    watermark_timers.  A run (one per same-key ``a``) emits its maximal
    consumed-b match iff the run is satisfied (>= 1 b inside the
    window) AND its window closed under the GLOBAL clock — i.e. the
    corpus max event time exceeds a_ts + W (per-event same-key expiry
    is subsumed: any same-key closer also advances the global max).
    Runs whose window is still open at end of input stay pending,
    exactly like an open window on an unbounded stream."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.nfa import NfaStage, match_nfa

    W = 3  # minutes
    rows = [(i, f"2024-01-01 10:{i:02d}:00", u, s, 0.0)
            for i, (u, s) in enumerate(evs, 1)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="nfa_prop_wm_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    stages = [NfaStage(pred="event_type = 'a'"),
              NfaStage(pred="event_type = 'b'", min_times=1,
                       max_times=None, greedy=True)]
    out = run_to_completion(
        match_nfa(sdf, stages, within_minutes=W,
                  watermark_timers="0 seconds"), "append")
    got = sorted((r.user_id, tuple(r.ev_ids)) for r in out.collect())

    max_min = len(evs)  # event i is at minute i (1-based)
    expect = []
    for i, (u, s) in enumerate(evs, 1):
        if s != "a":
            continue
        bs = [j for j in range(i + 1, len(evs) + 1)
              if evs[j - 1][0] == u and evs[j - 1][1] == "b"
              and j <= i + W]
        if bs and max_min > i + W:    # satisfied AND globally closed
            expect.append((u, (i, *bs)))
    assert got == sorted(expect)


@given(toks=st.lists(st.integers(min_value=1, max_value=40),
                     min_size=1, max_size=25),
       budget=st.integers(min_value=8, max_value=64))
@settings(**_SETTINGS)
def test_best_fit_decreasing_matches_brute_reference(spark, toks, budget):
    """The bisect-based BFD bin choice must equal a brute-force scan
    reference (tightest fitting bin, ties -> lowest index, largest
    docs first) on random corpora — guards the O(n log b) rewrite and
    shrinks to a minimal counterexample if the tie-break ever drifts
    from the oracle's list_max + list_position rule."""
    import hashlib

    from flink_release_1_10_0_spark.llm.packing import pack_sequences_best_fit

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * t), "s") for i, t in enumerate(toks)],
        "doc_id bigint, text string, source string")
    got = {r.id: (r.seq_id, r.offset)
           for r in pack_sequences_best_fit(docs, budget=budget,
                                            n_buckets=1).collect()}
    order = sorted(range(len(toks)),
                   key=lambda i: (-toks[i],
                                  hashlib.md5(str(i).encode()).hexdigest(),
                                  i))
    fills: list[int] = []
    want = {}
    for i in order:
        n = toks[i]
        best = -1
        for j, f in enumerate(fills):
            if f + n <= budget and (best < 0 or f > fills[best]):
                best = j
        if best < 0:
            best = len(fills)
            fills.append(0)
        want[i] = (best, fills[best])
        fills[best] += n
    assert got == want


@given(toks=st.lists(st.integers(min_value=1, max_value=40),
                     min_size=1, max_size=25),
       budget=st.integers(min_value=8, max_value=64))
@settings(**_SETTINGS)
def test_next_fit_matches_brute_reference(spark, toks, budget):
    """Next-fit's single-stream layout equals the brute reference in
    the deterministic (md5(id), id) order."""
    import hashlib

    from flink_release_1_10_0_spark.llm.packing import pack_sequences_next_fit

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * t), "s") for i, t in enumerate(toks)],
        "doc_id bigint, text string, source string")
    got = {r.id: (r.seq_id, r.offset)
           for r in pack_sequences_next_fit(docs, budget=budget,
                                            n_buckets=1).collect()}
    order = sorted(range(len(toks)),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                  i))
    seq, fill = 0, 0
    first = True
    want = {}
    for i in order:
        n = toks[i]
        if not first and fill + n > budget:
            seq += 1
            fill = 0
        first = False
        want[i] = (seq, fill)
        fill += n
    assert got == want
