"""Extended operator coverage: UDAF/UDTF surface, cogroup, grouping_id,
and embedding near-duplicate detection (SURVEY.md §2.4/§2.8/§2.10 +
the LLM-pipeline mandate).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

from flink_release_1_10_0_spark.functions.udf import AggregateFunction, TableFunction
from flink_release_1_10_0_spark.operators.cogroup import cogroup_counts
from flink_release_1_10_0_spark.queries import register
from flink_release_1_10_0_spark.queries.helpers import dsum, t
from flink_release_1_10_0_spark.session import scratch_dir

# --------------------------------------------------------------------------
# AggregateFunction (UDAF): quantity-weighted average price per returnflag
# (AggregateFunction.java accumulate/merge/getValue surface -> applyInPandas)
# Money is accumulated as integer cents so the sums are exact and
# order-independent; the final division mirrors the oracle bit-for-bit.
# --------------------------------------------------------------------------
_UDAF_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
       / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS weighted_avg_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


class _WeightedAvgPrice(AggregateFunction):
    result_schema = "weighted_avg_price double, n bigint"

    def get_value(self, pdf: pd.DataFrame) -> dict:
        p = (pdf["l_extendedprice"] * 100).round().astype("int64")
        q = (pdf["l_quantity"] * 100).round().astype("int64")
        pq = int((p * q).sum())        # units of 1e-4, exact
        qs = int(q.sum())              # units of 1e-2, exact
        return {"weighted_avg_price": (float(pq) / 10000.0) / (float(qs) / 100.0),
                "n": len(pdf)}


@register("udaf_weighted_avg", _UDAF_ORACLE)
def udaf_weighted_avg(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity")
    return _WeightedAvgPrice().apply(li, ["l_returnflag"])


# --------------------------------------------------------------------------
# TableFunction (UDTF): tokenize document text laterally — one row per
# word with its length (TableFunction.java -> mapInPandas correlate)
# --------------------------------------------------------------------------
_UDTF_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
                     x -> x <> '') AS words
  FROM documents WHERE doc_id < 20)
SELECT doc_id, unnest(words) AS word,
       CAST(length(unnest(words)) AS BIGINT) AS wlen
FROM w
"""


class _Tokenize(TableFunction):
    result_schema = "word string, wlen bigint"

    def eval(self, row):
        for w in re.sub(r"[^a-z0-9 ]", " ", row.text.lower()).split():
            yield (w, len(w))


@register("udtf_tokenize_lateral", _UDTF_ORACLE)
def udtf_tokenize_lateral(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return _Tokenize().apply(docs.select("doc_id", "text"), ["doc_id"])


# --------------------------------------------------------------------------
# CoGroup (DataSet.java:1009): events per user × orders per customer —
# compiled to two aggregations + full outer join (no Python)
# --------------------------------------------------------------------------
_COGROUP_ORACLE = """
WITH e AS (SELECT user_id AS key, COUNT(*) AS n_left FROM events GROUP BY user_id),
o AS (SELECT o_custkey AS key, COUNT(*) AS n_right FROM orders GROUP BY o_custkey)
SELECT COALESCE(e.key, o.key) AS key,
       COALESCE(n_left, 0) AS n_left,
       COALESCE(n_right, 0) AS n_right
FROM e FULL OUTER JOIN o ON e.key = o.key
"""


@register("cogroup_events_orders", _COGROUP_ORACLE)
def cogroup_events_orders(spark, sf_dir):
    return cogroup_counts(t(spark, sf_dir, "events"), "user_id",
                          t(spark, sf_dir, "orders"), "o_custkey")


# --------------------------------------------------------------------------
# GROUPING / GROUPING_ID (FlinkSqlOperatorTable GROUPING, GROUPING_ID;
# DecomposeGroupingSetsRule -> Expand)
# --------------------------------------------------------------------------
_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("agg_grouping_id", _GROUPING_ID_ORACLE)
def agg_grouping_id(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gid")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n
        FROM _li_gid
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """)


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs — brute force (the exactness
# baseline: broadcast self-join, map-side dot products, no corpus shuffle)
# --------------------------------------------------------------------------
_DOT = ("aggregate(zip_with(a_vec, b_vec, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)")
_NORM_A = ("sqrt(aggregate(zip_with(a_vec, a_vec, (x, y) -> cast(x as double) * cast(y as double)), "
           "cast(0.0 as double), (acc, v) -> acc + v))")
_NORM_B = ("sqrt(aggregate(zip_with(b_vec, b_vec, (x, y) -> cast(x as double) * cast(y as double)), "
           "cast(0.0 as double), (acc, v) -> acc + v))")

_NEAR_DUP_ORACLE = """
WITH n AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM n WHERE cosine >= 0.4
"""


@register("embedding_near_dup_pairs", _NEAR_DUP_ORACLE)
def embedding_near_dup_pairs(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("a_vec"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("b_vec"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    cos = F.expr(f"round({_DOT} / ({_NORM_A} * {_NORM_B}), 6)")
    return (pairs.select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= 0.4))


# --------------------------------------------------------------------------
# Embedding near-dup via sign-LSH buckets — the scale path: bucket on an
# 8-bit hyperplane-sign signature (deterministic, SQL-expressible), then
# verify cosine only within buckets.  Candidate set is ~n/2^bits per
# bucket, so the join is linear-ish, not quadratic.
# --------------------------------------------------------------------------
_LSH_ORACLE = """
WITH sig AS (
  SELECT vec_id, embedding,
         list_transform(range(1, 9), i -> CASE WHEN embedding[i] >= 0 THEN 1 ELSE 0 END) AS s
  FROM embeddings),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
  FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM cand WHERE cosine >= 0.3
"""


@register("embedding_lsh_near_dup", _LSH_ORACLE)
def embedding_lsh_near_dup(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    # the signature is 8 inline CASE terms, NOT a transform() lambda:
    # Spark's relation dedup does not rewrite lambda-bound attributes in
    # a duplicated below-join subtree (ATTRIBUTE_NOT_FOUND at execution
    # under AQE), so the duplicated side of a self-join must be
    # lambda-free; post-join lambdas (the cosine) are unaffected
    sig = F.concat(*[
        F.expr(f"CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END")
        for i in range(8)])
    s = emb.select("vec_id", "embedding", sig.alias("s"))
    a = s.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("a_vec"),
                 F.col("s").alias("s_a"))
    b = s.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("b_vec"),
                 F.col("s").alias("s_b"))
    # equi-join on the signature: shuffles hash-partition by bucket — at
    # scale this is the linear candidate-generation join
    cand = a.join(b, (F.col("s_a") == F.col("s_b")) & (F.col("id_a") < F.col("id_b")))
    cos = F.expr(f"round({_DOT} / ({_NORM_A} * {_NORM_B}), 6)")
    return (cand.select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= 0.3))


# --------------------------------------------------------------------------
# Distinct-agg split (SplitAggregateRule, FlinkStreamRuleSets.scala:329-340)
# — two-level COUNT(DISTINCT) partitioned by value-hash bucket; exact and
# skew-proof.  Must equal the single-level COUNT(DISTINCT).
# --------------------------------------------------------------------------
_SPLIT_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type
"""


@register("agg_split_count_distinct", _SPLIT_DISTINCT_ORACLE)
def agg_split_count_distinct(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.skew import split_distinct_agg
    ev = t(spark, sf_dir, "events")
    return split_distinct_agg(ev, ["event_type"], "user_id", n_buckets=32)


# --------------------------------------------------------------------------
# COLLECT -> MULTISET (FlinkSqlOperatorTable COLLECT; MULTISET type
# emulated as map<value, count> per SURVEY.md §1.2) — represented sorted
# for a deterministic cross-engine comparison.
# --------------------------------------------------------------------------
_MULTISET_ORACLE = """
WITH m AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag,
       array_to_string(list_sort(list_transform(
         list_zip(list(l_linestatus ORDER BY l_linestatus), list(cnt ORDER BY l_linestatus)),
         p -> p[1] || ':' || CAST(p[2] AS VARCHAR))), ',') AS multiset_repr
FROM m GROUP BY l_returnflag
"""


@register("agg_collect_multiset", _MULTISET_ORACLE)
def agg_collect_multiset(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    # COLLECT(l_linestatus) per returnflag == multiset {value -> count};
    # canonical form: sorted "value:count" CSV
    per_val = (li.groupBy("l_returnflag", "l_linestatus")
               .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_val.groupBy("l_returnflag")
            .agg(F.array_join(
                F.array_sort(F.collect_list(
                    F.concat_ws(":", "l_linestatus", F.col("cnt").cast("string")))),
                ",").alias("multiset_repr")))


# --------------------------------------------------------------------------
# STDDEV / VARIANCE family (FlinkSqlOperatorTable STDDEV_POP/SAMP,
# VAR_POP/SAMP).  Computed from exact decimal power sums on BOTH sides so
# the result is order-independent (a naive stddev over doubles is not).
# --------------------------------------------------------------------------
_STATS_ORACLE = """
WITH s AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type)
SELECT event_type, n,
       round((s2 - s1 * s1 / n) / n, 6) AS var_pop,
       round((s2 - s1 * s1 / n) / (n - 1), 6) AS var_samp,
       round(sqrt((s2 - s1 * s1 / n) / n), 6) AS stddev_pop,
       round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS stddev_samp
FROM s
"""


@register("agg_stddev_variance", _STATS_ORACLE)
def agg_stddev_variance(spark, sf_dir):
    from flink_release_1_10_0_spark.queries.helpers import MONEY
    ev = t(spark, sf_dir, "events")
    v = F.col("value").cast(MONEY)
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"))
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return s.select(
        "event_type", "n",
        F.round((s2 - s1 * s1 / n) / n, 6).alias("var_pop"),
        F.round((s2 - s1 * s1 / n) / (n - 1), 6).alias("var_samp"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / n), 6).alias("stddev_pop"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 6).alias("stddev_samp"))


# --------------------------------------------------------------------------
# TableAggregateFunction (emits MULTIPLE rows per group;
# StreamExecGroupTableAggregate / TableAggregateFunction.java) — top-2
# values per key, via applyInPandas returning a frame per group.
# --------------------------------------------------------------------------
_TABLEAGG_ORACLE = """
SELECT event_type, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events) q
WHERE rn <= 2
"""


@register("tableagg_top2_per_group", _TABLEAGG_ORACLE)
def tableagg_top2_per_group(spark, sf_dir):
    import pandas as pd

    def top2(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["value", "event_id"],
                              ascending=[False, True]).head(2)
        pdf = pdf.assign(rn=range(1, len(pdf) + 1))
        return pdf[["event_type", "event_id", "value", "rn"]]

    ev = t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return (ev.groupBy("event_type")
            .applyInPandas(top2, "event_type string, event_id bigint, value double, rn bigint"))


# --------------------------------------------------------------------------
# ScalarFunction (Python, vectorized pandas_udf; ScalarFunction.java ->
# the PyFlink scalar-UDF surface without the Beam detour)
# --------------------------------------------------------------------------
_SCALAR_UDF_ORACLE = """
SELECT doc_id,
       CASE WHEN n_chars < 200 THEN 'short'
            WHEN n_chars < 1000 THEN 'medium'
            ELSE 'long' END AS size_bucket
FROM documents
"""


@register("scalar_python_udf", _SCALAR_UDF_ORACLE)
def scalar_python_udf(spark, sf_dir):
    import pandas as pd

    from flink_release_1_10_0_spark.functions.udf import ScalarFunction

    class SizeBucket(ScalarFunction):
        result_type = "string"

        def eval(self, n_chars: pd.Series) -> pd.Series:
            return pd.cut(n_chars, bins=[-1, 199, 999, float("inf")],
                          labels=["short", "medium", "long"]).astype(str)

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", SizeBucket().to_pandas_udf()("n_chars").alias("size_bucket"))


# --------------------------------------------------------------------------
# Join strategy hints (DataSet joinWithTiny/joinWithHuge + DriverStrategy
# -> Spark SQL join hints): same result, explicitly-chosen physical join.
# --------------------------------------------------------------------------
_HINT_ORACLE = """
SELECT o_orderkey, c_name
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
"""


@register("join_hint_shuffle_merge", _HINT_ORACLE)
def join_hint_shuffle_merge(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    cust = t(spark, sf_dir, "customer")
    # MERGE hint pins sort-merge (joinWithHuge analog: both sides shuffled)
    return (orders.join(cust.hint("merge"), orders.o_custkey == cust.c_custkey)
            .select("o_orderkey", "c_name"))


# --------------------------------------------------------------------------
# Graph: vertex degrees (Gelly Graph.java inDegrees/outDegrees) over the
# customer->supplier bipartite graph derived from lineitem+orders
# --------------------------------------------------------------------------
_DEGREES_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 30),
o AS (SELECT src AS id, COUNT(*) AS out_degree FROM edges GROUP BY src),
i AS (SELECT dst AS id, COUNT(*) AS in_degree FROM edges GROUP BY dst)
SELECT COALESCE(o.id, i.id) AS id,
       COALESCE(out_degree, 0) AS out_degree,
       COALESCE(in_degree, 0) AS in_degree,
       COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS degree
FROM o FULL OUTER JOIN i ON o.id = i.id
"""


def _cust_supp_edges(spark, sf_dir, max_cust: int):
    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < max_cust)
    li = t(spark, sf_dir, "lineitem")
    return (orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(F.col("o_custkey").alias("src"),
                    (F.lit(100000) + F.col("l_suppkey")).alias("dst"))
            .distinct())


@register("graph_degrees", _DEGREES_ORACLE)
def graph_degrees(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import degrees
    return degrees(_cust_supp_edges(spark, sf_dir, 30))


# --------------------------------------------------------------------------
# Graph: connected components (Gelly library/ConnectedComponents.java) —
# min-label propagation driver loop vs a recursive-CTE closure oracle
# --------------------------------------------------------------------------
_CC_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 12),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
SELECT a AS id, LEAST(a, MIN(b)) AS component
FROM reach GROUP BY a
"""


@register("graph_connected_components", _CC_ORACLE)
def graph_connected_components(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import connected_components
    return connected_components(_cust_supp_edges(spark, sf_dir, 12))


# --------------------------------------------------------------------------
# PARSE_URL / STR_TO_MAP / OVERLAY / TIMESTAMP_DIFF/ADD
# (FlinkSqlOperatorTable PARSE_URL, STR_TO_MAP, OVERLAY, TIMESTAMP_ADD,
# TIMESTAMP_DIFF; impls SqlFunctionUtils.java / SqlDateTimeUtils.java) —
# the remaining scalar-function rows exercised over synthesized inputs.
# --------------------------------------------------------------------------
_URLMAP_ORACLE = """
WITH u AS (
  SELECT doc_id,
         'https://example.com/d/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url,
         'k1=' || lang || ',k2=' || source AS kv,
         ts_base + INTERVAL (doc_id) MINUTE AS t1,
         ts_base + INTERVAL (doc_id * 2) MINUTE AS t2
  FROM (SELECT doc_id, lang, source, TIMESTAMP '2024-01-01 00:00:00' AS ts_base
        FROM documents WHERE doc_id < 50) q)
SELECT doc_id,
       'example.com' AS url_host,
       '/d/' || CAST(doc_id AS VARCHAR) AS url_path,
       'lang=' || string_split(kv, ',')[1][4:] AS url_query,
       map_from_entries(list_transform(string_split(kv, ','),
         s -> {'k': string_split(s, '=')[1], 'v': string_split(s, '=')[2]}))['k2'][1] AS k2_val,
       substr('abcdefgh', 1, 2) || 'XY' || substr('abcdefgh', 5) AS overlaid,
       CAST(date_diff('minute', t1, t2) AS BIGINT) AS minutes_between,
       t1 + INTERVAL 90 SECOND AS t1_plus_90s
FROM u
"""


@register("scalar_url_map_overlay", _URLMAP_ORACLE)
def scalar_url_map_overlay(spark, sf_dir):
    docs = (t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
            .select("doc_id", "lang", "source",
                    F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts_base")))
    u = docs.select(
        "doc_id",
        F.concat(F.lit("https://example.com/d/"), F.col("doc_id").cast("string"),
                 F.lit("?lang="), F.col("lang")).alias("url"),
        F.concat(F.lit("k1="), F.col("lang"), F.lit(",k2="), F.col("source")).alias("kv"),
        (F.col("ts_base") + F.col("doc_id") * F.expr("INTERVAL 1 MINUTE")).alias("t1"),
        (F.col("ts_base") + F.col("doc_id") * 2 * F.expr("INTERVAL 1 MINUTE")).alias("t2"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("url_host"),
        F.parse_url("url", F.lit("PATH")).alias("url_path"),
        F.parse_url("url", F.lit("QUERY")).alias("url_query"),
        F.str_to_map("kv", F.lit(","), F.lit("="))["k2"].alias("k2_val"),
        F.overlay(F.lit("abcdefgh"), F.lit("XY"), F.lit(3), F.lit(2)).alias("overlaid"),
        (F.unix_timestamp("t2") - F.unix_timestamp("t1")).cast("bigint")
            .__div__(60).cast("bigint").alias("minutes_between"),
        (F.col("t1") + F.expr("INTERVAL 90 SECONDS")).alias("t1_plus_90s"))


# --------------------------------------------------------------------------
# SQL-callable Python UDTF via LATERAL (Table.java:476 joinLateral /
# StreamExecCorrelate; PyFlink's table-function path without Beam):
# Spark-native @udtf registered in the session catalog.
# --------------------------------------------------------------------------
_SQL_UDTF_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
                     x -> x <> '') AS words
  FROM documents WHERE doc_id < 10)
SELECT doc_id, unnest(words) AS word FROM w
"""


@register("udtf_sql_lateral", _SQL_UDTF_ORACLE)
def udtf_sql_lateral(spark, sf_dir):
    from flink_release_1_10_0_spark.functions.udf import register_sql_table_function

    def tokenize(text: str):
        for w in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split():
            yield (w,)

    register_sql_table_function(spark, "py_tokenize", tokenize, "word: string")
    t(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql("""
        SELECT doc_id, word
        FROM _docs_udtf, LATERAL py_tokenize(text)
        WHERE doc_id < 10
    """)


# --------------------------------------------------------------------------
# TPC-DS-style report shapes (the reference validates TPC-DS 103/103 at
# SF=1; these reproduce its two most common report shapes on the
# available schema)
# --------------------------------------------------------------------------
_DS_ROLLUP_ORACLE = """
SELECT n_name, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY ROLLUP (n_name, o_orderpriority)
"""


@register("tpcds_style_star_rollup", _DS_ROLLUP_ORACLE)
def tpcds_style_star_rollup(spark, sf_dir):
    from flink_release_1_10_0_spark.queries.helpers import money
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    star = (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    return (star.rollup("n_name", "o_orderpriority")
            .agg(F.sum(money("o_totalprice")).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))


_DS_PIVOT_ORACLE = """
SELECT n_name,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS rev_fulfilled,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS rev_open,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS rev_pending
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register("tpcds_style_case_pivot", _DS_PIVOT_ORACLE)
def tpcds_style_case_pivot(spark, sf_dir):
    from flink_release_1_10_0_spark.queries.helpers import MONEY, money
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    star = (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))

    def rev(status, alias):
        return (F.sum(F.when(F.col("o_orderstatus") == status, money("o_totalprice"))
                      .otherwise(F.lit(0).cast(MONEY))).cast("double").alias(alias))

    return star.groupBy("n_name").agg(
        rev("F", "rev_fulfilled"), rev("O", "rev_open"), rev("P", "rev_pending"))


# --------------------------------------------------------------------------
# Distribution window functions: NTILE / PERCENT_RANK / CUME_DIST
# (FlinkSqlOperatorTable ranking block)
# --------------------------------------------------------------------------
_NTILE_ORACLE = """
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cdist
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


@register("window_ntile_percent_rank", _NTILE_ORACLE)
def window_ntile_percent_rank(spark, sf_dir):
    from pyspark.sql import Window
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"))


# --------------------------------------------------------------------------
# Collection functions: CARDINALITY, ITEM (a[i]), ELEMENT, ARRAY/MAP
# constructors (FlinkSqlOperatorTable collections block)
# --------------------------------------------------------------------------
_COLLECTION_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
                     x -> x <> '') AS words
  FROM documents WHERE doc_id < 50)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS cardinality,
       words[1] AS first_item,
       words[len(words)] AS last_item,
       CAST(len(list_distinct(words)) AS BIGINT) AS distinct_cardinality,
       CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END AS has_the,
       array_to_string(list_slice(words, 1, 3), '|') AS first3
FROM w
"""


@register("scalar_collection_functions", _COLLECTION_ORACLE)
def scalar_collection_functions(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.dedup import with_words
    docs = with_words(t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50))
    return docs.select(
        "doc_id",
        F.size("words").cast("bigint").alias("cardinality"),
        F.element_at("words", 1).alias("first_item"),
        F.element_at("words", -1).alias("last_item"),
        F.size(F.array_distinct("words")).cast("bigint").alias("distinct_cardinality"),
        F.when(F.array_contains("words", "the"), 1).otherwise(0).alias("has_the"),
        F.array_join(F.slice("words", 1, 3), "|").alias("first3"))


# --------------------------------------------------------------------------
# Percentiles (exact, interpolated) — Spark percentile == DuckDB
# quantile_cont; rounded to 6dp to absorb interpolation-formula fp drift
# --------------------------------------------------------------------------
_PERCENTILE_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


@register("agg_percentiles", _PERCENTILE_ORACLE)
def agg_percentiles(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"))


# --------------------------------------------------------------------------
# Correlation / covariance from exact decimal power sums (CORR, COVAR_POP
# in the reference's agg table) — order-independent, unlike native
# streaming covar over doubles
# --------------------------------------------------------------------------
_CORR_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       round((sxy - sx * sy / n) / n, 6) AS covar_pop,
       round((sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6) AS corr
FROM s
"""


@register("agg_corr_covar", _CORR_ORACLE)
def agg_corr_covar(spark, sf_dir):
    from flink_release_1_10_0_spark.queries.helpers import money
    li = t(spark, sf_dir, "lineitem")
    x, y = money("l_quantity"), money("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag", "n",
        F.round((sxy - sx * sy / n) / n, 6).alias("covar_pop"),
        F.round((sxy - sx * sy / n)
                / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)), 6)
         .alias("corr"))


# --------------------------------------------------------------------------
# Encoding scalar functions: ASCII, CHR, HEX, BIN, ENCODE/DECODE,
# TO_BASE64/FROM_BASE64 (FlinkSqlOperatorTable string block;
# SqlFunctionUtils.java impls)
# --------------------------------------------------------------------------
_ENCODING_ORACLE = """
SELECT doc_id,
       ascii(substr(lang, 1, 1)) AS first_ascii,
       chr(65 + CAST(doc_id % 26 AS INT)) AS letter,
       upper(hex(CAST(doc_id AS BIGINT))) AS hex_id,
       bin(CAST(doc_id AS BIGINT)) AS bin_id,
       to_base64(CAST(lang AS BLOB)) AS b64,
       CAST(from_base64(to_base64(CAST(lang AS BLOB))) AS VARCHAR) AS roundtrip
FROM documents WHERE doc_id < 64
"""


@register("scalar_encoding_functions", _ENCODING_ORACLE)
def scalar_encoding_functions(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    return docs.select(
        "doc_id",
        F.ascii(F.substring("lang", 1, 1)).alias("first_ascii"),
        F.chr(F.lit(65) + (F.col("doc_id") % 26).cast("int")).alias("letter"),
        F.upper(F.hex(F.col("doc_id").cast("bigint"))).alias("hex_id"),
        F.bin(F.col("doc_id").cast("bigint")).alias("bin_id"),
        F.base64(F.col("lang").cast("binary")).alias("b64"),
        F.unbase64(F.base64(F.col("lang").cast("binary"))).cast("string")
         .alias("roundtrip"))


# --------------------------------------------------------------------------
# INTERVAL_YEAR_MONTH arithmetic (LogicalTypeRoot.INTERVAL_YEAR_MONTH):
# add_months / months_between over order dates
# --------------------------------------------------------------------------
_YM_INTERVAL_ORACLE = """
SELECT o_orderkey,
       o_orderdate + INTERVAL 3 MONTH AS plus_3m,
       o_orderdate - INTERVAL 1 YEAR AS minus_1y,
       CAST(datediff('month', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS months_since_epoch
FROM orders WHERE o_orderkey < 200
"""


@register("scalar_interval_year_month", _YM_INTERVAL_ORACLE)
def scalar_interval_year_month(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    # datediff('month') counts month-boundary crossings; floor(months_between)
    # matches only for day-1 anchors, so derive it from year/month fields
    months = ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
    return orders.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTHS")).alias("plus_3m"),
        (F.col("o_orderdate") - F.expr("INTERVAL 1 YEAR")).alias("minus_1y"),
        months.cast("bigint").alias("months_since_epoch"))


# --------------------------------------------------------------------------
# TIME_WITHOUT_TIME_ZONE emulation (SURVEY §1.2 gap: millis-of-day BIGINT)
# --------------------------------------------------------------------------
_TIME_ORACLE = """
SELECT event_id,
       CAST(EXTRACT(hour FROM ts) * 3600000 + EXTRACT(minute FROM ts) * 60000
            + EXTRACT(second FROM ts) * 1000 AS BIGINT) AS millis_of_day,
       lpad(CAST(EXTRACT(hour FROM ts) AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(EXTRACT(minute FROM ts) AS VARCHAR), 2, '0') AS hhmm
FROM events WHERE event_id < 500
"""


@register("scalar_time_of_day", _TIME_ORACLE)
def scalar_time_of_day(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    millis = (F.hour("ts") * 3600000 + F.minute("ts") * 60000
              + F.second("ts") * 1000)
    return ev.select(
        "event_id",
        millis.cast("bigint").alias("millis_of_day"),
        F.date_format("ts", "HH:mm").alias("hhmm"))


# --------------------------------------------------------------------------
# IS [NOT] DISTINCT FROM (null-safe comparison, <=>)
# --------------------------------------------------------------------------
_DISTINCT_FROM_ORACLE = """
WITH x AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS s
  FROM orders WHERE o_orderkey < 1000)
SELECT a.o_orderkey AS k_a, b.o_orderkey AS k_b
FROM x a JOIN x b
  ON a.s IS NOT DISTINCT FROM b.s AND a.o_orderkey < b.o_orderkey
WHERE a.o_orderkey < 30
"""


@register("join_null_safe_equal", _DISTINCT_FROM_ORACLE)
def join_null_safe_equal(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    x = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
         .otherwise(F.col("o_orderstatus")).alias("s"))
    a = x.select(F.col("o_orderkey").alias("k_a"), F.col("s").alias("s_a"))
    b = x.select(F.col("o_orderkey").alias("k_b"), F.col("s").alias("s_b"))
    return (a.join(b, F.col("s_a").eqNullSafe(F.col("s_b"))
                   & (F.col("k_a") < F.col("k_b")))
            .filter(F.col("k_a") < 30)
            .select("k_a", "k_b"))


# --------------------------------------------------------------------------
# NTH_VALUE / FIRST_VALUE / LAST_VALUE over a window frame
# --------------------------------------------------------------------------
_NTH_ORACLE = """
SELECT event_id, user_id,
       first_value(value) OVER w AS first_v,
       last_value(value) OVER w AS last_v,
       nth_value(value, 2) OVER w AS second_v
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_first_last_nth_value", _NTH_ORACLE)
def window_first_last_nth_value(spark, sf_dir):
    from pyspark.sql import Window
    ev = t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return ev.select(
        "event_id", "user_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w).alias("last_v"),
        F.nth_value("value", 2).over(w).alias("second_v"))


# --------------------------------------------------------------------------
# Graph: triangle count per vertex (Gelly library/TriangleEnumerator.java)
# over the supplier co-occurrence graph (suppliers sharing an order).
# Wedge join + closure probe; a<b<c canonical ordering counts each
# triangle once.
# --------------------------------------------------------------------------
_TRI_EDGES = """
  SELECT DISTINCT l1.l_suppkey AS src, l2.l_suppkey AS dst
  FROM lineitem l1
  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
                  AND l1.l_suppkey < l2.l_suppkey
  JOIN orders ON o_orderkey = l1.l_orderkey
  WHERE o_custkey < 200
"""

_TRIANGLE_ORACLE = f"""
WITH edges AS ({_TRI_EDGES}),
canon AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM edges WHERE src <> dst),
tri AS (SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
        FROM canon e1
        JOIN canon e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN canon c  ON c.a = e1.b AND c.b = e2.b)
SELECT id, COUNT(*) AS triangles
FROM (SELECT v1 AS id FROM tri
      UNION ALL SELECT v2 FROM tri
      UNION ALL SELECT v3 FROM tri)
GROUP BY id
"""


def _supplier_cooccurrence_edges(spark, sf_dir, max_cust: int):
    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < max_cust)
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    return (l1.join(l2, (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
                    & (F.col("l1.l_suppkey") < F.col("l2.l_suppkey")))
            .join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
            .select(F.col("l1.l_suppkey").alias("src"),
                    F.col("l2.l_suppkey").alias("dst"))
            .distinct())


@register("graph_triangle_count", _TRIANGLE_ORACLE)
def graph_triangle_count(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import triangle_count
    return triangle_count(_supplier_cooccurrence_edges(spark, sf_dir, 200))


# --------------------------------------------------------------------------
# Graph: single-source shortest paths, unit weights (Gelly
# library/SingleSourceShortestPaths.java with weight 1 == BFS hop count)
# over the customer->supplier bipartite graph; oracle walks the graph
# with a recursive CTE and takes MIN(depth) per vertex.
# --------------------------------------------------------------------------
_SSSP_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 12),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
walk(id, d) AS (
  SELECT CAST(1 AS BIGINT), 0
  UNION
  SELECT s.b, w.d + 1 FROM walk w JOIN sym s ON s.a = w.id WHERE w.d < 30)
SELECT id, MIN(d) AS distance FROM walk GROUP BY id
"""


@register("graph_sssp", _SSSP_ORACLE)
def graph_sssp(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import sssp
    return sssp(_cust_supp_edges(spark, sf_dir, 12), source=1)


# --------------------------------------------------------------------------
# Graph: deterministic label propagation (Gelly library/LabelPropagation
# .java): each superstep a vertex adopts its neighbors' most frequent
# label, ties to the smallest label; fixed 3 supersteps, oracle unrolled.
# --------------------------------------------------------------------------
def _lpa_step(prev: str) -> str:
    return f"""(SELECT vid AS id, label FROM (
  SELECT s.a AS vid, l.label, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY s.a
                            ORDER BY COUNT(*) DESC, l.label) AS rn
  FROM sym s JOIN {prev} l ON s.b = l.id
  GROUP BY s.a, l.label) q WHERE rn = 1)"""


_LPA_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 30),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
l0 AS (SELECT DISTINCT a AS id, a AS label FROM sym),
l1 AS {_lpa_step('l0')},
l2 AS {_lpa_step('l1')},
l3 AS {_lpa_step('l2')}
SELECT id, label FROM l3
"""


@register("graph_label_propagation", _LPA_ORACLE)
def graph_label_propagation(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import label_propagation
    return label_propagation(_cust_supp_edges(spark, sf_dir, 30), iterations=3)


# --------------------------------------------------------------------------
# Graph: PageRank, fixed 3 iterations (Gelly library/linkanalysis/
# PageRank.java, symmetric-edge variant — no dangling mass) over the
# customer->supplier bipartite graph; oracle unrolls the supersteps.
# --------------------------------------------------------------------------
def _pr_step(prev: str) -> str:
    return f"""(SELECT v.id,
  0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(c.s, 0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.b AS id, SUM(p.pr / o.od) AS s
    FROM sym e JOIN {prev} p ON p.id = e.a JOIN outdeg o ON o.id = e.a
    GROUP BY e.b) c ON c.id = v.id)"""


_PAGERANK_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 30),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
verts AS (SELECT DISTINCT a AS id FROM sym),
nn AS (SELECT COUNT(*) AS n FROM verts),
outdeg AS (SELECT a AS id, COUNT(*) AS od FROM sym GROUP BY a),
p0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM verts),
p1 AS {_pr_step('p0')},
p2 AS {_pr_step('p1')},
p3 AS {_pr_step('p2')}
SELECT id, round(pr, 6) AS pagerank FROM p3
"""


@register("graph_pagerank", _PAGERANK_ORACLE)
def graph_pagerank(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import pagerank
    return pagerank(_cust_supp_edges(spark, sf_dir, 30), iterations=3)


# --------------------------------------------------------------------------
# Graph: neighborhood Jaccard similarity (Gelly library/similarity/
# JaccardIndex.java): shared-neighbor counts from wedges + degrees via
# inclusion-exclusion.
# --------------------------------------------------------------------------
_JACCARD_IDX_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 30),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
deg AS (SELECT a AS id, COUNT(*) AS d FROM sym GROUP BY a),
shared AS (
  SELECT e1.b AS u, e2.b AS v, COUNT(*) AS shared
  FROM sym e1 JOIN sym e2 ON e1.a = e2.a AND e1.b < e2.b
  GROUP BY e1.b, e2.b)
SELECT u, v,
       round(shared / CAST(du.d + dv.d - shared AS DOUBLE), 6) AS jaccard
FROM shared
JOIN deg du ON du.id = u
JOIN deg dv ON dv.id = v
"""


@register("graph_jaccard_index", _JACCARD_IDX_ORACLE)
def graph_jaccard_index(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import jaccard_index
    return jaccard_index(_cust_supp_edges(spark, sf_dir, 30))


# --------------------------------------------------------------------------
# Graph: HITS hubs/authorities, 2 unnormalized iterations (Gelly
# library/linkanalysis/HITS.java) on the DIRECTED customer->supplier
# graph; oracle unrolls both half-steps per iteration.
# --------------------------------------------------------------------------
_HITS_ORACLE = """
WITH e AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 30),
verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
a1 AS (SELECT v.id, COALESCE(x.s, 0) AS auth FROM verts v LEFT JOIN
       (SELECT dst AS id, CAST(COUNT(*) AS DOUBLE) AS s FROM e GROUP BY dst) x
       USING (id)),
h1 AS (SELECT v.id, COALESCE(x.s, 0) AS hub FROM verts v LEFT JOIN
       (SELECT src AS id, SUM(a1.auth) AS s FROM e JOIN a1 ON a1.id = e.dst
        GROUP BY src) x USING (id)),
a2 AS (SELECT v.id, COALESCE(x.s, 0) AS auth FROM verts v LEFT JOIN
       (SELECT dst AS id, SUM(h1.hub) AS s FROM e JOIN h1 ON h1.id = e.src
        GROUP BY dst) x USING (id)),
h2 AS (SELECT v.id, COALESCE(x.s, 0) AS hub FROM verts v LEFT JOIN
       (SELECT src AS id, SUM(a2.auth) AS s FROM e JOIN a2 ON a2.id = e.dst
        GROUP BY src) x USING (id))
SELECT h2.id, round(h2.hub, 6) AS hub, round(a2.auth, 6) AS authority
FROM h2 JOIN a2 ON a2.id = h2.id
"""


@register("graph_hits", _HITS_ORACLE)
def graph_hits(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import hits
    return hits(_cust_supp_edges(spark, sf_dir, 30), iterations=2)


# --------------------------------------------------------------------------
# Graph: local clustering coefficient (Gelly library/clustering/
# undirected/LocalClusteringCoefficient.java) over the supplier
# co-occurrence graph: triangles(v) / C(deg(v), 2).
# --------------------------------------------------------------------------
_LCC_ORACLE = f"""
WITH edges AS ({_TRI_EDGES}),
canon AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM edges WHERE src <> dst),
deg AS (SELECT id, COUNT(*) AS d FROM
        (SELECT a AS id FROM canon UNION ALL SELECT b FROM canon)
        GROUP BY id),
tri AS (SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
        FROM canon e1
        JOIN canon e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN canon c  ON c.a = e1.b AND c.b = e2.b),
tc AS (SELECT id, COUNT(*) AS triangles
       FROM (SELECT v1 AS id FROM tri
             UNION ALL SELECT v2 FROM tri
             UNION ALL SELECT v3 FROM tri)
       GROUP BY id)
SELECT deg.id,
       round(CASE WHEN deg.d < 2 THEN 0
                  ELSE COALESCE(tc.triangles, 0) / (deg.d * (deg.d - 1) / 2.0)
             END, 6) AS coefficient
FROM deg LEFT JOIN tc ON tc.id = deg.id
"""


@register("graph_clustering_coefficient", _LCC_ORACLE)
def graph_clustering_coefficient(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import local_clustering_coefficient
    return local_clustering_coefficient(
        _supplier_cooccurrence_edges(spark, sf_dir, 200))


# --------------------------------------------------------------------------
# Graph: Adamic-Adar similarity (Gelly library/similarity/AdamicAdar
# .java): per vertex pair, sum of 1/ln(deg(w)) over shared neighbors w.
# --------------------------------------------------------------------------
_ADAMIC_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 30),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
deg AS (SELECT a AS id, COUNT(*) AS d FROM sym GROUP BY a)
SELECT e1.b AS u, e2.b AS v,
       round(SUM(1.0 / ln(deg.d)), 6) AS adamic_adar
FROM sym e1
JOIN sym e2 ON e1.a = e2.a AND e1.b < e2.b
JOIN deg ON deg.id = e1.a
WHERE deg.d >= 2
GROUP BY e1.b, e2.b
"""


@register("graph_adamic_adar", _ADAMIC_ORACLE)
def graph_adamic_adar(spark, sf_dir):
    from flink_release_1_10_0_spark.operators.graph import adamic_adar
    return adamic_adar(_cust_supp_edges(spark, sf_dir, 30))


# --------------------------------------------------------------------------
# Generic InputFormat source (StreamExecutionEnvironment.createInput,
# StreamExecutionEnvironment.java:1434) — a custom Python Data Source
# whose partitions() are the input splits (GenericInputSplit) and whose
# read(split) is the record iterator.  StatefulSequenceSource.java range
# semantics; the id sum/count pin every split's content exactly.
# --------------------------------------------------------------------------
_SEQ_SOURCE_ORACLE = """
SELECT CAST(range AS BIGINT) AS id,
       CAST(range % 7 AS BIGINT) AS bucket
FROM range(0, 5000)
"""


@register("source_input_format_splits", _SEQ_SOURCE_ORACLE)
def source_input_format_splits(spark, sf_dir):
    from flink_release_1_10_0_spark.sources.datasource import register_sequence_source
    register_sequence_source(spark)
    df = (spark.read.format("flink_sequence")
          .option("end", "5000").option("numPartitions", "8").load())
    return df.select("id", (F.col("id") % 7).alias("bucket"))


# --------------------------------------------------------------------------
# Custom streaming source fn (StreamExecutionEnvironment.addSource,
# :1527 / StatefulSequenceSource.java): SimpleDataSourceStreamReader with
# a checkpointed {"next": n} offset, drained micro-batch by micro-batch.
# Exactly-once: the emitted set is exactly [0, end) with no duplicates.
# --------------------------------------------------------------------------
_SEQ_STREAM_ORACLE = """
SELECT CAST(range AS BIGINT) AS id FROM range(0, 3000)
"""


@register("source_custom_fn_stream", _SEQ_STREAM_ORACLE)
def source_custom_fn_stream(spark, sf_dir):
    from flink_release_1_10_0_spark.sources.datasource import run_sequence_stream_to_end
    return run_sequence_stream_to_end(spark, end=3000, rows_per_batch=700)


# --------------------------------------------------------------------------
# Format round-trips: parquet -> (csv | json | orc) -> read back through
# this engine's format layer -> aggregate; the oracle computes the same
# aggregate straight from the parquet.  This upgrades the CSV/JSON/ORC
# format rows from pytest-only evidence to oracle-gated evidence: any
# type-mapping, quoting, or header defect in the round trip flips the
# value hash.  (CSV/JSON carry ints and strings; ORC, being a typed
# columnar format, round-trips the full row including timestamps.)
# --------------------------------------------------------------------------
_CSV_RT_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer GROUP BY c_mktsegment
"""


@register("source_csv_roundtrip", _CSV_RT_ORACLE)
def source_csv_roundtrip(spark, sf_dir):
    """CsvRowDeserializationSchema.java round-trip analog."""
    from flink_release_1_10_0_spark.sources import formats as FMT
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = scratch_dir(spark, "csv_rt") + "/customer_csv"
    FMT.write_csv(cust, out)
    back = FMT.read_csv(spark, out,
                        schema="c_custkey bigint, c_mktsegment string")
    return (back.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("c_custkey").alias("key_sum")))


_JSON_RT_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


@register("source_json_roundtrip", _JSON_RT_ORACLE)
def source_json_roundtrip(spark, sf_dir):
    """JsonRowDeserializationSchema.java:77 round-trip analog."""
    from flink_release_1_10_0_spark.sources import formats as FMT
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    out = scratch_dir(spark, "json_rt") + "/orders_json"
    FMT.write_json(orders, out)
    back = FMT.read_json(
        spark, out,
        schema="o_orderkey bigint, o_orderstatus string, o_orderpriority string")
    return (back.groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("key_sum")))


_ORC_RT_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
       CAST(MAX(l_shipdate) AS TIMESTAMP) AS max_shipdate
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


@register("source_orc_roundtrip", _ORC_RT_ORACLE)
def source_orc_roundtrip(spark, sf_dir):
    """OrcColumnarRowSplitReader.java round-trip analog — full typed rows
    including timestamps and doubles through the ORC vectorized path."""
    from flink_release_1_10_0_spark.queries.helpers import money
    li = t(spark, sf_dir, "lineitem")
    out = scratch_dir(spark, "orc_rt") + "/lineitem_orc"
    li.write.mode("overwrite").orc(out)
    from flink_release_1_10_0_spark.sources import formats as FMT
    back = FMT.read_orc(spark, out)
    return (back.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(money("l_extendedprice")).cast("double").alias("price_sum"),
                 F.max("l_shipdate").alias("max_shipdate")))


# --------------------------------------------------------------------------
# Flink 1.10 SQL DDL end-to-end: CREATE TABLE ... WITH (filesystem/csv),
# INSERT INTO from a SELECT, then aggregate FROM the DDL table.  The
# oracle computes the same aggregate straight from the parquet, so the
# whole DDL -> insert -> format -> read-back chain is value-hashed.
# --------------------------------------------------------------------------
_DDL_PIPELINE_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderkey % 4 = 0
GROUP BY o_orderstatus
"""


@register("ddl_filesystem_pipeline", _DDL_PIPELINE_ORACLE)
def ddl_filesystem_pipeline(spark, sf_dir):
    """SqlCreateTable.java + TableEnvironmentImpl.sqlUpdate:483 analog."""
    from flink_release_1_10_0_spark.environment import TableEnvironment
    env = TableEnvironment(spark)
    base = scratch_dir(spark, "ddl_pipeline")
    t(spark, sf_dir, "orders").createOrReplaceTempView("_ddl_orders_src")
    env.sql_update(f"""
        CREATE TABLE orders_ddl (
            o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE
        ) WITH (
            'connector.type' = 'filesystem',
            'connector.path' = '{base}/orders_ddl',
            'format.type' = 'csv'
        )
    """)
    env.sql_update("""
        INSERT INTO orders_ddl
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM _ddl_orders_src WHERE o_orderkey % 4 = 0
    """)
    return spark.sql("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders_ddl GROUP BY o_orderstatus
    """)


# --------------------------------------------------------------------------
# Text source round-trip: table -> pipe-delimited text lines -> read_text
# -> parse -> aggregate (readTextFile analog with oracle-grade evidence).
# --------------------------------------------------------------------------
_TEXT_RT_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer GROUP BY c_mktsegment
"""


@register("source_text_roundtrip", _TEXT_RT_ORACLE)
def source_text_roundtrip(spark, sf_dir):
    """StreamExecutionEnvironment.java:1072 readTextFile analog: lines
    are opaque strings; parsing is an explicit downstream map."""
    from flink_release_1_10_0_spark.sources import formats as FMT
    cust = t(spark, sf_dir, "customer")
    out = scratch_dir(spark, "text_rt") + "/customer_txt"
    (cust.select(F.concat_ws("|", F.col("c_custkey"), F.col("c_mktsegment"))
         .alias("value"))
     .write.mode("overwrite").text(out))
    lines = FMT.read_text(spark, out)
    parsed = lines.select(
        F.split("value", r"\|").getItem(0).cast("bigint").alias("c_custkey"),
        F.split("value", r"\|").getItem(1).alias("c_mktsegment"))
    return (parsed.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("c_custkey").alias("key_sum")))


# --------------------------------------------------------------------------
# Collection/element source: a literal in-memory dimension (fromElements)
# joined against a scanned fact — the oracle reproduces the literals as
# a VALUES clause.
# --------------------------------------------------------------------------
_ELEMENTS_ORACLE = """
WITH bands(band_name, lo, hi) AS (
  VALUES ('LOW', 0.0, 100000.0), ('MID', 100000.0, 250000.0),
         ('HIGH', 250000.0, 1000000000.0)
)
SELECT band_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_name
"""


@register("source_elements_join", _ELEMENTS_ORACLE)
def source_elements_join(spark, sf_dir):
    """StreamExecutionEnvironment.fromElements / fromCollection analog:
    the literal dimension broadcasts into a range (theta) join."""
    from flink_release_1_10_0_spark.environment import TableEnvironment
    env = TableEnvironment(spark)
    bands = env.from_elements(
        [("LOW", 0.0, 100000.0), ("MID", 100000.0, 250000.0),
         ("HIGH", 250000.0, 1000000000.0)],
        "band_name string, lo double, hi double").df
    orders = t(spark, sf_dir, "orders")
    return (orders.join(F.broadcast(bands),
                        (orders.o_totalprice >= bands.lo)
                        & (orders.o_totalprice < bands.hi))
            .groupBy("band_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice", "revenue")))


# --------------------------------------------------------------------------
# DataStream <-> Table round-trip: table scan -> DataStream transforms
# (map / filter / flat_map) -> back to a table aggregate.  The oracle is
# the equivalent relational pipeline in SQL.
# --------------------------------------------------------------------------
_DS_TABLE_ORACLE = """
WITH words AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')) AS word
  FROM documents WHERE lang = 'en'
)
SELECT lang, COUNT(*) AS n_words,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct
FROM words GROUP BY lang
"""


@register("datastream_table_roundtrip", _DS_TABLE_ORACLE)
def datastream_table_roundtrip(spark, sf_dir):
    """StreamTableEnvironment.fromDataStream/toAppendStream analog
    (flink-table-api-java-bridge): Table -> DataStream ops -> Table."""
    from flink_release_1_10_0_spark.streaming.datastream import DataStream
    docs = t(spark, sf_dir, "documents")
    ds = (DataStream(docs)
          .filter("lang = 'en'")
          .map("doc_id", "lang",
               "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), "
               "' +'), x -> x != '') as words")
          .flat_map("words", "word", "doc_id", "lang"))
    return (ds.df.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.countDistinct("word").alias("n_distinct")))


# --------------------------------------------------------------------------
# Flink group-window SQL accepted verbatim: TUMBLE / HOP / SESSION in
# GROUP BY with *_START/*_END selectors (FlinkSqlOperatorTable group
# window functions), rewritten to Spark window()/session_window() by
# sql_windows.py.  The oracle expresses the same tumble with
# date_trunc (1-hour tumble == hour truncation).
# --------------------------------------------------------------------------
_FLINK_TUMBLE_SQL_ORACLE = """
SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id, date_trunc('hour', ts)
"""


@register("flink_sql_tumble_group_window", _FLINK_TUMBLE_SQL_ORACLE)
def flink_sql_tumble_group_window(spark, sf_dir):
    from flink_release_1_10_0_spark.environment import TableEnvironment
    env = TableEnvironment(spark)
    t(spark, sf_dir, "events").createOrReplaceTempView("_fw_events")
    return env.sql_query("""
        SELECT user_id, TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM _fw_events
        GROUP BY user_id, TUMBLE(ts, INTERVAL '1' HOUR)
    """).df


# --------------------------------------------------------------------------
# Avro round-trip through the pure-Python container codec (avro_py.py):
# parquet -> avro container files (one per partition, deflate codec) ->
# binaryFile + mapInPandas decode -> aggregate; oracle aggregates the
# parquet directly.  (No external Avro implementation exists in this
# environment to cross-validate interop; the codec is spec-derived —
# zigzag varints, raw-deflate blocks, sync markers — and the write/read
# halves are validated against each other at the byte level in
# tests/test_sources.py.)
# --------------------------------------------------------------------------
_AVRO_RT_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
"""


@register("source_avro_roundtrip", _AVRO_RT_ORACLE)
def source_avro_roundtrip(spark, sf_dir):
    """AvroRowDeserializationSchema.java:79 round-trip analog."""
    from flink_release_1_10_0_spark.sources import formats as FMT
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    out = scratch_dir(spark, "avro_rt") + "/orders_avro"
    FMT.write_avro(orders, out)
    back = FMT.read_avro(
        spark, out,
        schema="o_orderkey bigint, o_orderstatus string, o_totalprice double")
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("key_sum"),
                 dsum("o_totalprice", "total")))


# --------------------------------------------------------------------------
# Partitioned OVERWRITE table sink round trip (OverwritableTableSink +
# PartitionableTableSink, physical/stream/StreamExecSink.scala): write
# orders partitioned by status, dynamically overwrite ONLY the 'F'
# partition with a filtered replacement, read the committed table back
# and aggregate.  Untouched partitions must survive byte-identical;
# the rewritten partition must reflect exactly the replacement rows —
# INSERT OVERWRITE ... PARTITION semantics.
# --------------------------------------------------------------------------
_SINK_OVERWRITE_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus <> 'F' OR o_totalprice > 100000
GROUP BY o_orderstatus
"""


@register("sink_partition_overwrite_roundtrip", _SINK_OVERWRITE_ORACLE)
def sink_partition_overwrite_roundtrip(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    out = scratch_dir(spark, "sink_ovw") + "/orders_part"
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    replacement = orders.filter(
        "o_orderstatus = 'F' AND o_totalprice > 100000")
    # dynamic overwrite touches ONLY partitions present in the write: an
    # empty replacement would leave the old 'F' partition intact and
    # silently diverge from the oracle — fail loudly instead (ADVICE r5)
    if replacement.isEmpty():
        raise AssertionError(
            "partition-overwrite replacement is empty at this scale; the "
            "round trip needs >=1 'F' row above 100000 to rewrite the "
            "partition (use an explicit static overwrite for empties)")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (replacement
         .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("total")))


# --------------------------------------------------------------------------
# JDBC connector analog round-trip (flink-jdbc): orders -> DB-API sink
# (append half, then keyed upsert of the full set: INSERT OR REPLACE on
# the primary key must leave exactly one row per key —
# JDBCUpsertTableSink.java's contract) -> partitioned stride read-back
# (JDBCInputFormat.java + JDBCNumericBetweenParametersProvider.java:
# 8 splits on o_orderkey, first/last stride unbounded) -> aggregate.
# The oracle computes the same aggregate straight from the parquet, so
# any dropped stride row, double-applied append, or type-mapping defect
# flips the hash.
# --------------------------------------------------------------------------
_DBAPI_RT_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
"""


@register("source_dbapi_roundtrip", _DBAPI_RT_ORACLE)
def source_dbapi_roundtrip(spark, sf_dir):
    """JDBC-family connector analog: executor-side DB-API cursors, one
    Arrow stage per write and per read (sources/dbapi.py)."""
    from flink_release_1_10_0_spark.sources import dbapi

    url = scratch_dir(spark, "dbapi_rt") + "/orders.db"
    dbapi.create_table(url, "CREATE TABLE IF NOT EXISTS orders_t ("
                            "o_orderkey BIGINT PRIMARY KEY, "
                            "o_orderstatus TEXT, o_totalprice DOUBLE)")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"))
    half = orders.filter(F.col("o_orderkey") % 2 == 0)
    dbapi.write(half, url, "orders_t", mode="append")
    # keyed upsert of EVERYTHING: the even keys appended above must be
    # replaced in place, not duplicated
    dbapi.write(orders, url, "orders_t", mode="upsert")
    back = dbapi.read(
        spark, url, table="orders_t",
        schema="o_orderkey bigint, o_orderstatus string, o_totalprice double",
        columns="o_orderkey, o_orderstatus, o_totalprice",
        partition_column="o_orderkey", lower_bound=1, upper_bound=1000000,
        num_partitions=8)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("key_sum"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("total")))


# --------------------------------------------------------------------------
# Bucketed co-located join (the §4 scale lever; reference analog:
# pre-partitioned inputs via DataSet.partitionByHash + hint NO_SHUFFLE /
# Table bucketing in the Blink planner's shuffle-removal rules
# BatchExecExchangeRemove): both sides written bucketBy(8, key) into the
# session catalog, joined WITHOUT a broadcast — the bucketed layout must
# co-locate the keys so the join result still equals the plain parquet
# join.  tests/test_plans.py:82 asserts the no-Exchange plan property;
# this query oracle-gates the RESULT through the same layout.
# --------------------------------------------------------------------------
_BUCKETED_JOIN_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@register("join_bucketed_colocated", _BUCKETED_JOIN_ORACLE)
def join_bucketed_colocated(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    # external-location bucketed tables: a fresh temp path per run, and
    # an explicit drop so a stale catalog entry (or a previous session's
    # warehouse dir) never collides
    base = scratch_dir(spark, "bucketed_join")
    spark.sql("DROP TABLE IF EXISTS _bj_lineitem")
    spark.sql("DROP TABLE IF EXISTS _bj_orders")
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").option("path", base + "/lineitem")
     .saveAsTable("_bj_lineitem"))
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").option("path", base + "/orders")
     .saveAsTable("_bj_orders"))
    lb = spark.table("_bj_lineitem")
    ob = spark.table("_bj_orders").filter(F.col("o_orderstatus") == "F")
    joined = ob.join(lb, lb.l_orderkey == ob.o_orderkey)
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("total")))


# --------------------------------------------------------------------------
# Custom partitioner routing (DataStream.java:361 partitionCustom /
# DataSet.partitionCustom): every record must land in the partition the
# USER function chooses.  The oracle recomputes the routing arithmetic
# ((key * 2 + 1) % 8) per row and aggregates per target partition —
# if the RDD-tier exchange misroutes anything, counts and sums diverge.
# --------------------------------------------------------------------------
_PARTITION_CUSTOM_ORACLE = """
SELECT CAST((user_id * 2 + 1) % 8 AS BIGINT) AS pid,
       COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events
GROUP BY 1
"""


@register("partition_custom_routing", _PARTITION_CUSTOM_ORACLE)
def partition_custom_routing(spark, sf_dir):
    from pyspark.sql import functions as SF

    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    ev = t(spark, sf_dir, "events").select("event_id", "user_id")
    routed = DataStream(ev).partition_custom(
        lambda k: k * 2 + 1, "user_id", 8)
    return (routed.df
            .withColumn("pid", SF.spark_partition_id().cast("bigint"))
            .groupBy("pid")
            .agg(SF.count(SF.lit(1)).alias("n"),
                 SF.sum("event_id").alias("id_sum")))


_SEQ_RT_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
"""


@register("source_sequence_file_roundtrip", _SEQ_RT_ORACLE)
def source_sequence_file_roundtrip(spark, sf_dir):
    """SequenceFileWriterFactory.java round-trip analog: orders written
    as (key, JSON Text) SequenceFile records, read back with an explicit
    schema, aggregated — the whole write/read chain value-hashed."""
    from flink_release_1_10_0_spark.queries.helpers import money
    from flink_release_1_10_0_spark.sources import formats as FMT

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    out = scratch_dir(spark, "seq_rt") + "/orders_seq"
    FMT.write_sequence_file(orders, out, key_col="o_orderkey",
                            value_cols=["o_orderstatus", "o_totalprice"])
    back = FMT.read_sequence_file(
        spark, out, key_field="o_orderkey",
        value_schema="o_orderstatus string, o_totalprice double")
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("key_sum"),
                 F.sum(money("o_totalprice")).cast("double").alias("total")))
