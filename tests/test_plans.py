"""Physical-plan quality gates — the 100 TB checklist from SURVEY.md §4:
filters reach the parquet scan, projections prune the read schema, small
dimensions broadcast, hot paths stay inside whole-stage codegen, and no
TPC-H query ever drops into row-at-a-time Python."""

from __future__ import annotations

import pytest

from flink_release_1_10_0_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return all_queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q6_pushdown_and_pruning(spark):
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    # range predicates pushed into the parquet reader
    assert "PushedFilters:" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:400]
    # column pruning: untouched wide columns never read
    read_schema = plan.split("ReadSchema:")[1][:300]
    assert "l_returnflag" not in read_schema
    assert "l_extendedprice" in read_schema


def test_q3_broadcasts_dimension(spark):
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q5_broadcasts_nation_region(spark):
    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastExchange") >= 2


def test_tpch_plans_have_no_python(spark):
    """Every TPC-H query must compile to pure JVM operators."""
    for name in all_queries():
        if not name.startswith("tpch_"):
            continue
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_q1_wholestage_codegen(spark):
    df = all_queries()["tpch_q1_pricing_summary"](spark, SF)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # whole-stage-codegen'd operators carry the `*(n)` marker
    assert "*(" in plan


def test_lsh_join_is_not_cartesian(spark):
    """The LSH candidate join must hash on the signature, not cross-join."""
    plan = plan_of(spark, "embedding_lsh_near_dup")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_partial_aggregation_present(spark):
    """Catalyst plans map-side partial aggregation (the reference's
    two-stage local/global agg, TwoStageOptimizedAggregateRule)."""
    plan = plan_of(spark, "tpch_q1_pricing_summary")
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_salted_join_equivalence(spark):
    from flink_release_1_10_0_spark.operators.skew import salted_join
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = (spark.read.parquet(f"{SF}/orders.parquet")
              .select("o_orderkey", "o_totalprice")
              .withColumnRenamed("o_orderkey", "l_orderkey"))
    plain = li.join(orders, "l_orderkey").count()
    salted = salted_join(li, orders, "l_orderkey", n_salts=4).count()
    assert plain == salted


def test_bucketed_join_avoids_shuffle(spark):
    """Bucketing co-locates join keys: a join of two tables bucketed on
    the same key must plan with NO Exchange on either side (the
    pre-partitioned-join layout for repeated 100 TB joins)."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice")
    lt, ot = f"li_bkt_{suffix}", f"ord_bkt_{suffix}"
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable(lt))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable(ot))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the co-located (bucketed) path is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(lt).join(
            spark.table(ot),
            spark.table(lt).l_orderkey == spark.table(ot).o_orderkey)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {ot}")


def test_broadcast_rules_join_broadcasts_rules(spark):
    """The broadcast-state pattern must never shuffle the event side:
    the rules side shows up as a BroadcastExchange/BroadcastHashJoin."""
    from pyspark.sql import functions as F
    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.streaming.broadcast import broadcast_rules_apply
    ev = load(spark, SF, "events")
    rules = ev.groupBy("event_type").agg(F.avg("value").alias("threshold"))
    out = broadcast_rules_apply(ev, rules, "event_type",
                                F.col("value") >= F.col("threshold"),
                                "event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_triangle_wedge_join_not_cartesian(spark):
    """Triangle counting's wedge join must be an equi-join on the shared
    vertex (shuffle/broadcast hash or sort-merge), never a cartesian
    product with a filter."""
    plan = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stateful_ops_prune_payload_before_shuffle(spark):
    """Catalyst cannot prune columns through a Python state function, so
    keyed_state projects every keyed operator explicitly: the
    executed micro-batch plan (and its parquet ReadSchema) must not
    carry the wide `props` payload into the keyed exchange."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern
    from flink_release_1_10_0_spark.streaming.core import read_stream_table
    from flink_release_1_10_0_spark.streaming.stateful import topn_per_key
    from flink_release_1_10_0_spark.streaming.triggers import (
        delta_trigger_firings)

    import tempfile

    ev = read_stream_table(spark, "/root/testdata/sf0.001", "events")
    # ts surfaces as bigint (legacy nanos) or timestamp_ntz depending on
    # Spark version; either way only the needed columns may be read
    cases = [
        (topn_per_key(ev, n=3), "update",
         ["struct<event_id:bigint,user_id:bigint,value:double>"]),
        (Pattern.begin("error").followed_by("purchase").within(30)
         .match_stream(ev), "append",
         [f"struct<event_id:bigint,ts:{t},user_id:bigint,event_type:string>"
          for t in ("bigint", "timestamp_ntz")]),
        (delta_trigger_firings(ev, threshold=50.0), "append",
         [f"struct<event_id:bigint,ts:{t},user_id:bigint,value:double>"
          for t in ("bigint", "timestamp_ntz")]),
    ]
    for i, (out, mode, schemas) in enumerate(cases):
        ckpt = tempfile.mkdtemp(prefix="plan_ckpt_")
        q = (out.writeStream.format("memory").queryName(f"_plan_prune{i}")
             .outputMode(mode).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
            plan = q._jsq.explainInternal(True)
        finally:
            q.stop()
        phys = plan.split("== Physical Plan ==")[-1]
        assert "FlatMapGroupsInPandasWithState" in phys
        # the parquet scan itself must be pruned, so the keyed exchange
        # carries only the columns the state function reads
        assert "props" not in phys, "payload column leaked into the stateful plan"
        assert any(f"ReadSchema: {s}" in phys for s in schemas), phys[-1500:]


def test_ivf_index_search_uses_partition_pruning(spark):
    """Searching the cell-partitioned IVF index must prune at the
    partition level: the routed cell reaches the scan as a dynamic
    partition pruning filter (directory skip), not a row filter."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.llm import similarity as S
    from flink_release_1_10_0_spark.queries.helpers import t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_plan_")
    S.ivf_build_index(emb, path)
    df = S.ivf_topk_indexed(spark, path, emb.filter(F.col("vec_id") == 1), k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "dynamicpruningexpression" in plan.lower()
    # the probe must route via the materialized _centroids codebook, not
    # re-aggregate the full index: no aggregate anywhere in the probe plan
    assert "HashAggregate" not in plan and "ObjectHashAggregate" not in plan, \
        "probe plan re-computes centroids from the full index"
    # and the result matches the logical-filter variant
    logical = {(r.vec_id, r.cosine)
               for r in S.ivf_topk(emb, emb.filter(F.col("vec_id") == 1), k=5).collect()}
    indexed = {(r.vec_id, r.cosine) for r in df.collect()}
    assert indexed == logical


def test_dataframe_tier_partitioners_stay_rdd_free(spark):
    """partition_by_hash / partition_by_range / rebalance compile to
    Catalyst Exchange nodes (hashpartitioning / rangepartitioning /
    roundrobin) with NO RDD hop — only partition_custom (the arbitrary
    Python partitioner escape hatch) is allowed to sever lineage into
    an ExistingRDD scan."""
    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    df = spark.range(1000).withColumnRenamed("id", "k")

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    hashed = plan(DataStream(df).partition_by_hash(8, "k").df)
    assert "hashpartitioning" in hashed and "ExistingRDD" not in hashed
    ranged = plan(DataStream(df).partition_by_range(8, "k").df)
    assert "rangepartitioning" in ranged and "ExistingRDD" not in ranged
    rr = plan(DataStream(df).rebalance(8).df)
    assert "RoundRobinPartitioning" in rr.replace(" ", "") or "roundrobin" in rr.lower()
    assert "ExistingRDD" not in rr


def test_tpcds_plans_have_no_python(spark):
    """Every TPC-DS-shaped report must compile to pure JVM operators."""
    for name in all_queries():
        if not name.startswith("tpcds_"):
            continue
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_tpcds_date_filter_pushdown(spark):
    """The date-dim-driven scan must push its predicate into parquet —
    the local analog of date-partition pruning at 100 TB."""
    plan = plan_of(spark, "tpcds_q_date_brand_topn")
    assert "PushedFilters:" in plan
    assert "o_orderdate" in plan.split("PushedFilters:")[1][:400]


def test_tpcds_rollup_broadcasts_dims(spark):
    """nation/region joins in the rollup report must broadcast."""
    plan = plan_of(spark, "tpcds_q_rollup_hierarchy")
    assert plan.count("BroadcastExchange") >= 2


def test_repetition_stats_single_token_shuffle(spark):
    """Repetition stats must stay JVM-side and shuffle the exploded
    token stream at most twice (token count + per-doc reduce) — never a
    per-row O(len^2) array expression or a Python stage."""
    plan = plan_of(spark, "text_repetition_stats")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_quantize_int8_is_map_only(spark):
    """int8 quantization is a pure map-side projection: no shuffle at all."""
    plan = plan_of(spark, "embedding_quantize_int8")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_segment_boilerplate_uniform_shuffle(spark):
    """Segment boilerplate detection: JVM-only, shuffles keyed on the
    segment string / doc_id (uniform), never a cartesian pair join."""
    plan = plan_of(spark, "dedup_segment_boilerplate")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_curation_windows_are_partitioned(spark):
    """Quota sampling and shard packing must window per-source — a
    global (unpartitioned) window would single-thread the corpus."""
    for name in ("sample_quota_per_source", "pack_token_budget_shards"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        # every Window operator carries the source partition key
        for frag in plan.split("\n"):
            if frag.strip().startswith(("Window ", "+- Window", ":- Window")):
                assert "source" in frag, (name, frag)
        assert "Window" in plan, name


def test_scrub_and_survivors_stay_jvm_side(spark):
    """The removal-side curation ops (boilerplate scrub, LSH survivors)
    compile to pure JVM plans: no Python eval, no cartesian product,
    and the survivors anti-join stays an equi-join on doc_id."""
    for name in ("dedup_scrub_boilerplate", "dedup_lsh_survivors"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_continuous_trigger_no_global_window(spark):
    """Continuous-trigger firings must never use an unpartitioned
    window or a Python path: the cumulative roll-up is a keyed
    re-aggregation, so the plan is pure JVM exchanges on (key, window)."""
    plan = plan_of(spark, "stream_continuous_trigger")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window " not in plan  # re-aggregation, not a window function
    assert "CartesianProduct" not in plan


def test_cluster_quality_broadcasts_centroids(spark):
    """The cross-modal cluster-quality roll-up: the centroid codebook is
    a broadcast (never a shuffled join side), and the whole plan stays
    JVM-side with no cartesian product."""
    plan = plan_of(spark, "curation_cluster_quality")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_leakage_audit_equi_joins_only(spark):
    """Split-leakage audit: the label lookups join on doc ids (equi),
    no cartesian, no Python."""
    plan = plan_of(spark, "split_leakage_audit")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dbapi_read_has_stride_partitions(spark):
    """dbapi scans parallelize by stride splits, not a single cursor
    (JDBCInputFormat split contract)."""
    import tempfile

    from flink_release_1_10_0_spark.sources import dbapi
    url = tempfile.mkdtemp(prefix="dbapi_plan_") + "/t.db"
    dbapi.create_table(url, "CREATE TABLE kv (k BIGINT PRIMARY KEY)")
    con = dbapi._connect(url)
    con.executemany("INSERT INTO kv VALUES (?)", [(k,) for k in range(100)])
    con.commit()
    con.close()
    df = dbapi.read(spark, url, table="kv", schema="k bigint",
                    partition_column="k", lower_bound=0, upper_bound=100,
                    num_partitions=8)
    assert df.rdd.getNumPartitions() == 8


def test_punctuated_watermark_keyed_window(spark):
    """The punctuated-watermark classifier must be a KEYED window (one
    hash exchange on the stream partition), never a global sort."""
    plan = plan_of(spark, "stream_punctuated_watermark_lateness")
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(user_id" in plan
    # a partition-less window would show 'SinglePartition' feeding Window
    assert "Window" in plan


def test_evictor_windows_are_partitioned(spark):
    for name in ("stream_time_evictor_window", "stream_delta_evictor_window"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "hashpartitioning(user_id" in plan, name


def test_sort_partition_no_global_exchange_after_sort(spark):
    """sortPartition is partition-local: exactly one hash exchange (the
    explicit partitioner), then Sort with global=false."""
    plan = plan_of(spark, "dataset_sort_partition_first_per_key")
    # 'Sort [...], false, 0' — the trailing false IS global=false
    import re
    sorts = re.findall(r"Sort \[[^\]]*\], (\w+), \d+", plan)
    assert sorts and all(g == "false" for g in sorts)
    # the only exchange is the explicit repartition on user_id
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_incremental_dedup_broadcasts_batch_no_cartesian(spark):
    """Incremental LSH dedup: the new batch joins the persisted index
    through per-band equi-joins (broadcastable small side), never a
    cartesian; verification stays JVM-side."""
    plan = plan_of(spark, "dedup_incremental_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BatchEvalPython" not in plan


def test_intra_batch_ingest_decision_plan(spark):
    """The full per-ingest dedup decision (corpus near-dups + intra-batch
    near-dups + two anti-joins) stays JVM-side with no cartesian — the
    composition adds joins, not new scan mechanics."""
    plan = plan_of(spark, "dedup_incremental_intra_batch")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_srp_embedding_incremental_plan(spark):
    """SRP incremental embedding dedup: per-band equi-joins against the
    index (broadcastable batch side), no cartesian, cosine verify stays
    JVM-side (no Python in the plan)."""
    plan = plan_of(spark, "dedup_embedding_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BatchEvalPython" not in plan


def test_srp_verify_broadcast_size_gate(spark):
    """embedding_srp_pairs' verify stage is size-gated: a corpus under
    the limit broadcasts the vector table (the measured anti-spill
    posture), one over the limit falls back to shuffle joins (the
    anti-OOM posture at 100 TB).  Both branches plan without a
    cartesian or Python."""
    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.llm.dedup import embedding_srp_pairs

    emb = load(spark, SF, "embeddings")
    pexec = lambda df: df._jdf.queryExecution().executedPlan().toString()
    # auto decision on a tiny corpus -> broadcast branch (hinted)
    small = pexec(embedding_srp_pairs(emb))
    assert "BroadcastHashJoin" in small
    assert "CartesianProduct" not in small and "BatchEvalPython" not in small
    # over-threshold decision must DROP the hint.  On a tiny test table
    # Catalyst's own autoBroadcastJoinThreshold would re-broadcast it (as
    # it should), so disable that to observe the hint's absence: the
    # verify joins then plan as shuffle joins — the anti-OOM posture a
    # 100 TB corpus gets, where Catalyst's estimate also exceeds its
    # threshold and no side forces a broadcast.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = pexec(embedding_srp_pairs(emb, broadcast_limit_bytes=1))
        assert "SortMergeJoin" in big or "ShuffledHashJoin" in big
        assert "CartesianProduct" not in big and "BatchEvalPython" not in big
        # explicit overrides beat the estimate in both directions
        forced = pexec(embedding_srp_pairs(emb, broadcast_verify=False))
        assert "SortMergeJoin" in forced or "ShuffledHashJoin" in forced
        hinted = pexec(embedding_srp_pairs(emb, broadcast_verify=True))
        assert "BroadcastHashJoin" in hinted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_scrub_duplicate_spans_plan(spark):
    """ExactSubstr scrub: span table, keeper rule, coverage explode and
    the (doc, index) anti-join all stay JVM-side equi-joins — no
    cartesian, no Python, and the dup-span aggregation is partial
    (map-side combine) before its shuffle."""
    plan = plan_of(spark, "dedup_scrub_duplicate_spans")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan or "partial_min" in plan


def test_system_time_lookup_plan_broadcasts_snapshot(spark):
    """FOR SYSTEM_TIME AS OF: the dimension snapshot is broadcast (the
    lookup-join batch equivalent) and the probe filter reaches its scan."""
    plan = plan_of(spark, "flink_sql_system_time_lookup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_state_processor_savepoint_scan_is_pruned(spark):
    """State Processor range reads prune key-group partitions at the
    scan (KeyGroupRangeInputSplit analog)."""
    import tempfile

    from flink_release_1_10_0_spark.streaming.state_processor import (
        create_savepoint, load_savepoint)

    df = spark.createDataFrame([(i, i) for i in range(64)],
                               "k bigint, v bigint")
    path = tempfile.mkdtemp(prefix="sp_plan_")
    (create_savepoint(spark, max_parallelism=16)
     .with_keyed_operator("agg", df, ["k"]).write(path))
    lo = load_savepoint(spark, path).read_keyed_state("agg",
                                                      key_groups=(0, 3))
    plan = lo._jdf.queryExecution().executedPlan().toString()
    # partition filters on the key-group column, no post-scan Filter node
    assert "__key_group" in plan and "PartitionFilters" in plan


def test_pack_next_fit_single_shuffle_arrow(spark):
    """The packer is ONE groupBy shuffle into an Arrow-batched pandas
    stage: no extra exchange, no row-at-a-time Python, and the text
    column never reaches the shuffle (token counts are computed
    map-side before the exchange)."""
    plan = plan_of(spark, "pack_sequences_next_fit")
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert "BatchEvalPython" not in plan
    # exactly one exchange feeds the pandas stage (AQE may add a final
    # read, so count the shuffle writes)
    assert plan.count("Exchange hashpartitioning") == 1
    # projection pruning: the shuffled row is (grp,bucket,id,n_tok,h) —
    # the raw text column exists only BELOW the exchange (map side); the
    # post-shuffle operators (printed above it) never carry it
    assert "text#" not in plan.split("Exchange hashpartitioning")[0]


def test_pq_encode_is_map_only_broadcast(spark):
    """PQ encode = broadcast codebook + per-row argmin: no Python, and
    the corpus is never shuffled (the only exchanges build the tiny
    codebook aggregate)."""
    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.llm import similarity as S

    emb = load(spark, SF, "embeddings")
    cb = S.pq_train(emb, m=4, k=8, iterations=2)
    codes = S.pq_encode(emb, cb, m=4)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_adc_topk_no_global_window(spark):
    """The ADC top-k must use the salted two-stage aggregation — never a
    row_number window that funnels the scored corpus into #queries
    partitions, and never a cartesian product."""
    plan = plan_of(spark, "similarity_pq_topk_recall")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_temperature_sampling_broadcasts_rates(spark):
    """The per-stratum rate table joins in as a broadcast (it is
    #strata rows); the corpus is filtered map-side, not shuffled."""
    plan = plan_of(spark, "sample_temperature_mixture")
    assert "BroadcastHashJoin" in plan


def test_gopher_battery_is_pure_scan(spark):
    """The rule battery is a map-only projection over the scan: no
    exchange before the flags are computed, no Python anywhere."""
    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.llm.text import gopher_quality_flags

    flagged = gopher_quality_flags(load(spark, SF, "documents"))
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_incremental_plan(spark):
    """SemDeDup per-ingest: cid-keyed equi-join against the index (no
    cartesian), the batch's assignment + verify sides broadcast (the
    batch is small by the incremental contract), everything JVM-side."""
    plan = plan_of(spark, "dedup_semantic_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_postings_only_no_global_window(spark):
    """BM25: the query-term IN filter prunes postings before any
    aggregation, top-k is TakeOrderedAndProject (never a corpus-wide
    window), the rank window runs over <= k rows."""
    plan = plan_of(spark, "ir_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_tfidf_pairs_inverted_index_join(spark):
    """TF-IDF pairs: the per-term self-join is an equi-join on word (a
    hash/sort-merge exchange), never a cartesian, and the whole plan
    stays JVM-side."""
    plan = plan_of(spark, "ir_tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pack_best_fit_single_shuffle_arrow(spark):
    """BFD packing rides the same shape as next-fit: ONE exchange into
    the (grp, bucket) shards, one Arrow-batched FlatMapGroupsInPandas,
    no Python row-at-a-time evaluation."""
    plan = plan_of(spark, "pack_sequences_best_fit")
    assert plan.count("Exchange") <= 2  # shard shuffle (+AQE read)
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_bm25_batch_salted_topk_no_global_window(spark):
    """Batched BM25: postings pruned by a broadcast vocabulary join,
    per-query top-k is the salted two-stage aggregate — no window
    function in the plan at all, no Python."""
    plan = plan_of(spark, "ir_bm25_topk_batch")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# Wave-5 plan gates
# ---------------------------------------------------------------------------


def test_sq8_scan_is_map_side(spark):
    """SQ8 search: quantize + distance are map-side over the corpus
    scan; the only exchanges are the two bounded top-k aggregations and
    the query-batch broadcast — never a corpus-wide join shuffle."""
    plan = plan_of(spark, "similarity_sq8_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the query batch
    assert "SortMergeJoin" not in plan
    # both top-k stages are hash aggregations, not global windows
    assert "Window" not in plan


def test_matryoshka_rerank_joins_broadcast(spark):
    """Matryoshka cascade: the candidate re-rank attach must broadcast
    the (q_id, vec_id) candidate frame, never shuffle the corpus."""
    plan = plan_of(spark, "similarity_matryoshka_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2  # queries + candidates
    assert "Window" not in plan


def test_unimax_single_corpus_scan(spark):
    """UniMax: one corpus scan (the token-count agg); the water-filling
    runs entirely on the L-row language table."""
    plan = plan_of(spark, "sample_unimax_allocation")
    assert plan.count("FileScan") == 1


def test_bpe_encode_is_pure_projection(spark):
    """BPE encoding is a map-only expression chain: no exchange, no
    Python, one scan."""
    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.llm.bpe import bpe_encode_stats, bpe_train
    docs = load(spark, SF, "documents")
    merges = bpe_train(docs, n_merges=3)
    plan = (bpe_encode_stats(docs, merges)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "FileScan" in plan and plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ccnet_thresholds_broadcast_back(spark):
    """CCNet bucketing: the per-lang threshold table joins back via
    broadcast; the histogram window is partitioned (no single-partition
    global window)."""
    plan = plan_of(spark, "text_ccnet_ppl_buckets")
    assert "BroadcastExchange" in plan
    assert "Window [" not in plan or "windowspecdefinition(" in plan.lower()


def test_ivf_index_write_salts_hot_cells(spark):
    """The IVF index write distributes by (cell, in-cell hash salt):
    n_salts derives from the largest cell vs target_rows_per_file, so a
    hot cell is split across ~ceil(cell/target) tasks/files instead of
    one unbounded task (r10 verdict item 4), while small cells keep one
    file each."""
    import glob
    import tempfile

    from flink_release_1_10_0_spark.llm import similarity as S
    from flink_release_1_10_0_spark.queries.helpers import t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_salt_")
    # force the salt: target below any cell size
    S.ivf_build_index(emb, path, target_rows_per_file=10)
    per_cell = {d: len(glob.glob(d + "/part-*"))
                for d in glob.glob(path + "/label=*")}
    assert per_cell and max(per_cell.values()) > 1, \
        f"hot cell not split: {per_cell}"
    # contents identical to the unsalted layout
    n = spark.read.parquet(path).count()
    assert n == emb.count()
    # default target: small cells stay single-file
    path2 = tempfile.mkdtemp(prefix="ivf_salt1_")
    S.ivf_build_index(emb, path2)
    per_cell2 = {d: len(glob.glob(d + "/part-*"))
                 for d in glob.glob(path2 + "/label=*")}
    assert per_cell2 and max(per_cell2.values()) == 1, \
        f"unexpected multi-file small cells: {per_cell2}"
