"""Operator-level correctness vs DuckDB oracles at sf0.001 — mirrors the
reference's per-operator ITCases (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from tests.conftest import compare_query

RELATIONAL = [
    "calc_project_filter", "values_literal",
    "setop_union_all", "setop_union_distinct", "setop_intersect",
    "setop_intersect_all", "setop_except", "setop_except_all",
    "join_inner_equi", "join_left_outer", "join_full_outer",
    "join_semi_exists", "join_anti_not_exists", "join_theta_nonequi",
    "join_cross",
    "agg_count_distinct", "agg_min_max_sumsq", "agg_grouping_sets",
    "agg_cube", "agg_rollup", "agg_listagg_sorted", "agg_first_last_value",
    "sort_limit_topk", "sort_limit_offset",
    "unnest_explode_words", "subquery_scalar",
    "scalar_string_functions", "scalar_datetime_functions",
    "scalar_math_functions", "scalar_case_coalesce_nullif",
    "scalar_flink_compat_functions", "scalar_similar_to_overlaps",
]

WINDOWS = [
    "over_rows_running_sum", "over_rows_moving_avg", "over_range_cumulative",
    "rank_dense_rank_row_number", "lead_lag", "topn_per_key",
    "dedup_keep_first", "dedup_keep_last",
    "window_tumble_1h", "window_hop_1h_30m", "window_hop_paned", "window_session_30m",
    "window_count_tumble_10", "window_session_dynamic_gap",
]

TEMPORAL = [
    "interval_join_clicks_before_purchase",
    "asof_join_last_error_before_purchase",
]

EXTENDED = [
    "udaf_weighted_avg", "udtf_tokenize_lateral", "cogroup_events_orders",
    "agg_grouping_id", "embedding_near_dup_pairs", "embedding_lsh_near_dup",
    "agg_split_count_distinct", "agg_collect_multiset",
    "agg_stddev_variance", "tableagg_top2_per_group",
    "scalar_python_udf", "join_hint_shuffle_merge",
    "graph_degrees", "graph_connected_components",
    "graph_triangle_count", "graph_sssp", "graph_label_propagation",
    "graph_pagerank", "graph_jaccard_index", "graph_hits",
    "graph_clustering_coefficient", "graph_adamic_adar",
    "scalar_url_map_overlay", "udtf_sql_lateral",
    "tpcds_style_star_rollup", "tpcds_style_case_pivot",
    "window_ntile_percent_rank", "scalar_collection_functions",
    "agg_percentiles", "agg_corr_covar", "scalar_encoding_functions",
    "scalar_interval_year_month", "scalar_time_of_day",
    "join_null_safe_equal", "window_first_last_nth_value",
    "source_csv_roundtrip", "source_json_roundtrip", "source_orc_roundtrip",
    "ddl_filesystem_pipeline", "source_text_roundtrip",
    "source_elements_join", "datastream_table_roundtrip",
    "flink_sql_tumble_group_window", "source_avro_roundtrip",
]


TPCDS = [
    "tpcds_q_aging_buckets",
    "tpcds_q_avg_qty_rollup",
    "tpcds_q_below_avg_quantity",
    "tpcds_q_best_segment_per_year",
    "tpcds_q_channel_union",
    "tpcds_q_cohort_stats",
    "tpcds_q_count_panel",
    "tpcds_q_cov_filter",
    "tpcds_q_cross_channel_ratio",
    "tpcds_q_cross_sell",
    "tpcds_q_cte_reuse_above_avg",
    "tpcds_q_cumulative_channel_compare",
    "tpcds_q_date_brand_topn",
    "tpcds_q_exists_segmentation",
    "tpcds_q_frequent_items_revenue",
    "tpcds_q_grouping_sets_channels",
    "tpcds_q_high_value_pct",
    "tpcds_q_market_share",
    "tpcds_q_mom_decline",
    "tpcds_q_month_align_yoy",
    "tpcds_q_monthly_distinct_counts",
    "tpcds_q_moving_avg_deviation",
    "tpcds_q_multi_fact_star",
    "tpcds_q_net_minus_returns",
    "tpcds_q_not_in_inactive",
    "tpcds_q_order_count_band",
    "tpcds_q_order_count_histogram",
    "tpcds_q_orders_no_returns",
    "tpcds_q_over_nation_avg",
    "tpcds_q_price_band_case",
    "tpcds_q_quarter_pivot",
    "tpcds_q_rank_in_category",
    "tpcds_q_repeat_customers_intersect",
    "tpcds_q_return_ratio_topn",
    "tpcds_q_returns_adjusted_revenue",
    "tpcds_q_revenue_share",
    "tpcds_q_rollup_hierarchy",
    "tpcds_q_rollup_subtotals_only",
    "tpcds_q_share_shift",
    "tpcds_q_snowflake_trade_flow",
    "tpcds_q_spend_histogram",
    "tpcds_q_supplier_late_counts",
    "tpcds_q_time_hierarchy_rollup",
    "tpcds_q_topn_then_detail",
    "tpcds_q_union_rank_channels",
    "tpcds_q_year_over_year",
]


@pytest.mark.parametrize("name", TPCDS)
def test_tpcds(spark, duck, name):
    compare_query(spark, duck, name)


@pytest.mark.parametrize("name", EXTENDED)
def test_extended(spark, duck, name):
    compare_query(spark, duck, name)


@pytest.mark.parametrize("name", RELATIONAL)
def test_relational(spark, duck, name):
    compare_query(spark, duck, name)


@pytest.mark.parametrize("name", WINDOWS)
def test_windows(spark, duck, name):
    compare_query(spark, duck, name)


@pytest.mark.parametrize("name", TEMPORAL)
def test_temporal(spark, duck, name):
    compare_query(spark, duck, name)


def test_table_api_facade(spark):
    """Fluent Table API shell compiles to the same results as SQL."""
    from flink_release_1_10_0_spark import TableEnvironment
    env = TableEnvironment.create(spark)
    env.register_parquet_tables("/root/testdata/sf0.001")
    t = (env.from_path("orders")
         .filter("o_totalprice > 100000")
         .group_by("o_orderpriority")
         .select("o_orderpriority", "count(*) as n")
         .order_by("o_orderpriority"))
    via_sql = env.sql_query(
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "WHERE o_totalprice > 100000 GROUP BY o_orderpriority ORDER BY o_orderpriority")
    assert [tuple(r) for r in t.df.collect()] == [tuple(r) for r in via_sql.df.collect()]


def test_asof_join_no_match_is_null(spark):
    """Probe rows with no preceding build version keep null build cols."""
    from flink_release_1_10_0_spark.operators.joins import asof_join
    probe = spark.createDataFrame(
        [(1, 100, "p1"), (1, 50, "p0")], "k int, ts int, tag string")
    build = spark.createDataFrame(
        [(1, 75, 7.5)], "k int, vts int, rate double")
    out = asof_join(probe, build, [("k", "k")], "ts", "vts", ["rate"]).collect()
    by_tag = {r["tag"]: r["rate"] for r in out}
    assert by_tag == {"p0": None, "p1": 7.5}


def test_table_api_group_windows(spark):
    """Tumble/Session builders equal direct window()/session_window()."""
    from pyspark.sql import functions as F
    from flink_release_1_10_0_spark import TableEnvironment
    from flink_release_1_10_0_spark.environment import Session, Tumble

    env = TableEnvironment.create(spark)
    env.register_parquet_tables("/root/testdata/sf0.001")
    ev = env.from_path("events")

    via_api = (ev.window(Tumble.over("1 hour").on("ts"))
               .group_by("event_type")
               .select("count(*) as n").df)
    direct = (ev.df.groupBy(F.window("ts", "1 hour"), "event_type")
              .agg(F.count("*").alias("n"))
              .select(F.col("window.start").alias("w_start"),
                      F.col("window.end").alias("w_end"), "event_type", "n"))
    assert sorted(map(tuple, via_api.select("w_start", "w_end", "event_type", "n").collect())) == \
           sorted(map(tuple, direct.collect()))

    sess = (ev.window(Session.with_gap("30 minutes").on("ts"))
            .group_by("user_id").select("count(*) as n").df)
    assert sess.count() > 0


def test_table_api_over_select(spark):
    from pyspark.sql import functions as F
    from flink_release_1_10_0_spark import Table
    from flink_release_1_10_0_spark.environment import Over

    ev = Table(spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (2, 3, 5.0)],
        "k bigint, seq bigint, v double"))
    out = ev.over_select(Over.partition_by("k").order_by("seq"),
                         running=F.sum("v"), n=F.count(F.lit(1))).df
    got = {(r["k"], r["seq"]): (r["running"], r["n"]) for r in out.collect()}
    assert got == {(1, 1): (10.0, 1), (1, 2): (30.0, 2), (2, 3): (5.0, 1)}


def test_temporal_table_function_facade(spark):
    """Table.createTemporalTableFunction + temporal join (Table.java:139,
    TemporalRowTimeJoinOperator semantics) — each probe row gets the
    version valid as of its timestamp."""
    from flink_release_1_10_0_spark.environment import Table
    rates = Table(spark.createDataFrame(
        [("eur", 10, 1.10), ("eur", 50, 1.20), ("usd", 10, 1.00)],
        "ccy string, rts int, rate double"))
    ttf = rates.create_temporal_table_function("rts", "ccy")
    probe = Table(spark.createDataFrame(
        [("eur", 5, "a"), ("eur", 30, "b"), ("eur", 60, "c"), ("usd", 20, "d")],
        "ccy string, ts int, tag string"))
    out = probe.temporal_join(ttf, "ts", "ccy", ["rate"]).df.collect()
    by_tag = {r["tag"]: r["rate"] for r in out}
    assert by_tag == {"a": None, "b": 1.10, "c": 1.20, "d": 1.00}


def test_bulk_iterate_converges(spark):
    """DataSet.iterate facade: doubling until the termination criterion
    trips (closeWith(result, terminationCriterion) shape)."""
    from pyspark.sql import functions as F
    from flink_release_1_10_0_spark.operators.iterate import bulk_iterate
    init = spark.createDataFrame([(1,), (2,)], "v int")
    out = bulk_iterate(
        init, lambda df: df.select((F.col("v") * 2).alias("v")),
        max_iterations=10,
        converged=lambda old, new: new.agg(F.max("v")).collect()[0][0] >= 100)
    assert sorted(r.v for r in out.collect()) == [64, 128]


def test_delta_iterate_reachability(spark):
    """DataSet.iterateDelta facade: frontier-driven reachability — the
    workset shrinks to empty, solution rows are replaced by key."""
    from pyspark.sql import functions as F
    from flink_release_1_10_0_spark.operators.iterate import delta_iterate
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src int, dst int").persist()
    solution = spark.createDataFrame([(1, 0)], "id int, dist int")
    workset = solution

    def step(sol, ws):
        nxt = (edges.join(ws, edges.src == ws.id)
               .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist")))
        fresh = nxt.join(sol.select("id"), "id", "left_anti").distinct()
        return fresh, fresh

    out = delta_iterate(solution, workset, step, max_iterations=10,
                        key_cols=["id"])
    assert {(r.id, r.dist) for r in out.collect()} == {(1, 0), (2, 1), (3, 2), (4, 3)}


def test_connected_components_long_chain(spark):
    """A 120-vertex path graph: plain min-label propagation would need 120
    supersteps; pointer doubling must converge in O(log d) rounds (~10)
    with lineage checkpointed every 4 rounds."""
    from flink_release_1_10_0_spark.operators.graph import connected_components
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "src bigint, dst bigint")
    out = connected_components(chain, max_iterations=15)
    rows = out.collect()
    assert len(rows) == 121
    assert {r.component for r in rows} == {0}


def test_connected_components_releases_superseded_checkpoints(spark):
    """Each round's local checkpoint replaces the previous round's: the
    run leaves one new persistent RDD (the result's checkpoint) however
    many rounds it takes."""
    from flink_release_1_10_0_spark.operators.graph import connected_components
    sc = spark.sparkContext
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src bigint, dst bigint")

    def new_persistent(rounds):
        before = set(sc._jsc.getPersistentRDDs().keys())
        connected_components(chain, max_iterations=rounds).collect()
        return set(sc._jsc.getPersistentRDDs().keys()) - before

    assert len(new_persistent(2)) == len(new_persistent(6)) == 1


def test_sssp_long_chain(spark):
    """BFS distance down a 12-hop path — one superstep per hop (inherent
    for BFS), lineage checkpointed every 8 hops."""
    from flink_release_1_10_0_spark.operators.graph import sssp
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src bigint, dst bigint")
    out = sssp(chain, source=0, max_iterations=20)
    got = {r.id: r.distance for r in out.collect()}
    assert got[12] == 12 and got[0] == 0 and got[6] == 6


def test_sssp_releases_superseded_checkpoints(spark):
    """Per-hop frontier checkpoints are released at each re-cut and at
    the end: the run leaves one new persistent RDD (the result's
    checkpoint) however many hops it takes."""
    from flink_release_1_10_0_spark.operators.graph import sssp
    sc = spark.sparkContext

    def new_persistent(hops):
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(hops)], "src bigint, dst bigint")
        before = set(sc._jsc.getPersistentRDDs().keys())
        assert sssp(chain, source=0).count() == hops + 1
        return set(sc._jsc.getPersistentRDDs().keys()) - before

    assert len(new_persistent(3)) == len(new_persistent(13)) == 1


def test_partition_custom_routes_by_user_partitioner(spark):
    """DataStream.partitionCustom (DataStream.java:361): an arbitrary
    Python partitioner decides each record's partition; verified with
    spark_partition_id against the same function driver-side."""
    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    df = spark.range(0, 1000).withColumnRenamed("id", "k")

    def odd_even_mod(key):
        # deliberately NOT a plain hash: odds to low half, evens to high
        return (key % 5) if key % 2 else 5 + (key % 3)

    out = (DataStream(df).partition_custom(odd_even_mod, "k", 8)
           .df.withColumn("pid", F.spark_partition_id()))
    rows = out.collect()
    assert len(rows) == 1000
    for r in rows:
        assert r.pid == odd_even_mod(r.k) % 8


def test_env_explain_and_stream_bridges(spark):
    """TableEnvironment.explain + toAppendStream/toRetractStream."""
    from flink_release_1_10_0_spark.environment import TableEnvironment
    env = TableEnvironment(spark)
    t = env.from_elements([(1, "a"), (2, "b")], "id bigint, s string")
    assert "Scan" in env.explain(t) or "LocalTableScan" in env.explain(t)
    assert len(env.to_append_stream(t).df.collect()) == 2
    rows = env.to_retract_stream(t).df.collect()
    assert all(r.add for r in rows) and len(rows) == 2


def test_routing_partitioners_full_family(spark):
    """shuffle/forward/global/broadcast close the DataStream.java
    361-505 routing family: shuffle spreads uniformly without a key,
    forward is the identity (no new exchange), global lands on one
    partition, broadcast returns a broadcast-hinted frame that joins
    without a shuffle on the probe side."""
    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    df = spark.range(100).withColumnRenamed("id", "k")
    ds = DataStream(df)
    assert ds.shuffle(8).df.rdd.getNumPartitions() == 8
    assert ds.forward() is ds
    assert ds.global_().df.rdd.getNumPartitions() == 1
    probe = spark.range(1000).withColumnRenamed("id", "k")
    plan = probe.join(ds.broadcast(), "k")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_async_unordered_same_set_and_timeout_fallback(spark):
    """unorderedWait: same result SET as ordered mode (order is the only
    difference, and Spark frames are unordered); a request exceeding the
    timeout resolves to the fallback instead of failing the job."""
    import asyncio

    from flink_release_1_10_0_spark.streaming.async_io import (
        async_enrich, async_enrich_unordered)

    async def svc(k: int) -> str:
        await asyncio.sleep(0.01 if k % 2 else 0.0)
        return f"v{k}"

    df = spark.range(20).withColumnRenamed("id", "k")
    ordered = {(r.k, r.v) for r in
               async_enrich(df, "k", "v", svc, capacity=4).collect()}
    unordered = {(r.k, r.v) for r in
                 async_enrich_unordered(df, "k", "v", svc,
                                        capacity=4).collect()}
    assert ordered == unordered == {(k, f"v{k}") for k in range(20)}

    # wide margin (2s timeout vs 30s slow path) so a loaded CI host
    # cannot flip a fast request into TIMEOUT (ADVICE r5)
    async def slow(k: int) -> str:
        if k == 3:
            await asyncio.sleep(30.0)
        return f"v{k}"

    got = {(r.k, r.v) for r in
           async_enrich_unordered(df, "k", "v", slow, capacity=4,
                                  timeout_s=2.0,
                                  on_timeout="TIMEOUT").collect()}
    assert (3, "TIMEOUT") in got
    assert all(v == f"v{k}" for k, v in got if k != 3)


def test_async_table_function_lateral_expansion(spark):
    """AsyncTableFunction analog: 1-to-N lateral join in input order;
    keys with zero matches drop out (inner semantics)."""
    from pyspark.sql.types import LongType

    from flink_release_1_10_0_spark.streaming.async_io import (
        async_table_enrich)

    df = spark.createDataFrame([(1,), (2,), (3,), (4,)], "k long")

    async def svc(k: int):
        # k matches -> k rows (k*10+i); k=3 -> no matches
        if k == 3:
            return []
        return [(k * 10 + i,) for i in range(k)]

    out = async_table_enrich(df, "k", svc, [("v", LongType())], capacity=2)
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [(1, 10), (2, 20), (2, 21), (4, 40), (4, 41),
                   (4, 42), (4, 43)]


def test_ensure_min_parallelism_scale_adaptive(spark):
    """Guide §2.5 input rebalance: a scan narrower than the session
    parallelism is round-robin repartitioned up to it; an input already
    at-or-above it passes through UNTOUCHED (the 100 TB contract — no
    shuffle is ever added at scale)."""
    from flink_release_1_10_0_spark.llm.text import ensure_min_parallelism

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    out = ensure_min_parallelism(narrow)
    assert out.rdd.getNumPartitions() == target
    # content identical (round-robin only moves rows)
    assert out.count() == 1000
    assert sorted(r.id for r in out.collect()) == list(range(1000))

    wide = spark.range(1000).repartition(target + 3)
    same = ensure_min_parallelism(wide)
    # identity: the SAME DataFrame object, no added exchange
    assert same is wide
