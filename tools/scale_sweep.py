"""Scale sweep: measure how the headline plans scale from sf0.01 to
sf0.1 to a synthesized ~sf1, and write SCALE_SWEEP_r{N}.md.

The sf1 tier is built by replicating sf0.1 facts 10x with key offsets:
- lineitem/orders: l_orderkey/o_orderkey offset per copy (new orders),
  o_custkey/l_partkey/l_suppkey unchanged — dimensions deliberately stay
  fixed, matching how fact tables outgrow dimensions in a real warehouse
  (and keeping the broadcast-ability the plans rely on honest);
- documents: doc_id offset per copy; each copy's text goes through a
  copy-specific letter rotation so the copies' vocabularies are
  disjoint — the corpus becomes 10x of the *same dup-cluster
  structure* (cluster widths unchanged), which is the linear-scaling
  regime.  Simply suffixing a tag would instead widen every near-dup
  cluster 10x and grow the PAIR OUTPUT quadratically — correct
  semantics for dup pairs, but it would measure output cardinality,
  not plan scaling.

A plan that is linear in the fact size should show ~10x wall-clock per
tier (modulo fixed overhead at the small end); anything super-linear
(all-pairs, unpartitioned windows, driver loops) shows up immediately.

Usage:  python tools/scale_sweep.py [out_md]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.metrics import measure
from flink_release_1_10_0_spark.queries import all_queries
from flink_release_1_10_0_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
COPIES = 10
# (head, expected bound at 10x facts) — the bound is what the md table
# prints so super-linear tripwires are judged against the right slope
HEADS = [
    ("tpch_q1_pricing_summary", "linear"),       # scan-heavy agg
    ("tpch_q3_shipping_priority", "linear"),     # fact-fact join
    ("tpch_q18_large_volume_customer", "linear"),  # agg + semi join
    ("tpcds_q_multi_fact_star", "linear"),       # two pre-aggregated facts
    ("minhash_lsh_dup_pairs_xxh", "linear"),     # LSH dedup (heavy head)
    ("text_repetition_stats", "linear"),         # explode + two-level agg
    ("dedup_segment_boilerplate", "linear"),     # segment freq join-back
    ("dedup_scrub_boilerplate", "linear"),       # freq join-back + reassembly
    # stateful/iterative families (round-6 ask): the applyInPandasWithState
    # operators are where super-linear per-key state blowups would hide —
    # the sf1 events tier multiplies the KEY COUNT 10x (user_id offset per
    # copy) with per-key depth unchanged, the keyed-state linear regime
    ("cep_nfa_four_stage", "linear (keyed NFA, runs/key bounded)"),
    ("stream_topn_per_key", "linear (keyed heap state, n=3 per key)"),
    # round-6 additions: the new operator families (punctuated
    # watermarks, evictors, partition-local sort, feedback iteration)
    # are all keyed-window / fixed-round shapes — the linear regime
    ("stream_punctuated_watermark_lateness",
     "linear (keyed arrival-order window)"),
    ("stream_time_evictor_window", "linear (keyed per-window max filter)"),
    ("dataset_sort_partition_first_per_key",
     "linear (hash exchange + partition-local sort)"),
    ("stream_iterate_feedback_halving",
     "linear (~9 fixed rounds, per-round map+filter)"),
    # round-7 additions: incremental dedup joins the batch against the
    # corpus index (batch fixed, index 10x -> per-band equi-joins stay
    # linear in the index); the MR SQL front end is the keyed-NFA
    # regime (runs/key bounded by the strict-contiguity pattern)
    ("dedup_incremental_lsh", "linear (bucketed band joins, batch fixed)"),
    ("flink_sql_match_recognize",
     "linear (keyed strict-contiguity NFA, runs/key bounded)"),
    # round-9 addition: DEFINE aggregates ride per-run O(1) accumulators
    # (count, sum, min, max) and the held-match queue is pruned at every
    # emission — the keyed-NFA linear regime with a constant-size state
    # increment per run
    ("flink_sql_mr_define_agg_avg",
     "linear (keyed NFA, O(1) aggregate accumulator per run)"),
    # round-10 additions: the temporal-join SQL surface rides the
    # union-and-carry-forward as-of join (one shuffle + one per-key
    # sort); the State Processor roundtrip is a key-group-partitioned
    # savepoint write + keyed partial merge; the ML pipeline is a fixed
    # k/iteration broadcast-codebook loop — all keyed/linear regimes
    ("flink_sql_temporal_table_function",
     "linear (union + per-key sort as-of; 7 currency keys -> skew-bound)"),
    ("state_processor_bootstrap_resume",
     "linear (key-group savepoint + keyed partial merge)"),
    ("ml_pipeline_scaler_kmeans",
     "linear (fixed k/iterations, broadcast codebook)"),
    # round-11 addition: the incremental embedding path (the production
    # per-ingest shape) — batch fixed, index 10x, per-band equi-joins
    # linear in the index exactly like dedup_incremental_lsh
    ("dedup_embedding_incremental",
     "linear (batch fixed, index 10x, per-band equi-joins)"),
    # SemDeDup: broadcast-codebook k-means (fixed k/iterations) + a
    # cid-keyed equi-self-join; the sf1 embeddings tier is 10 disjoint
    # copies of the same similarity structure, so cluster sizes grow
    # ~10x and the within-cluster pair space is the quadratic term —
    # the stated bound makes that explicit (k is the production lever)
    ("dedup_semantic_pairs",
     "sum(|c|^2) pair space; fixed k, clusters 10x -> up to ~100x"),
    # ExactSubstr scrub: span table via one groupBy on the gram, keeper
    # min(struct) aggregate, bounded n-row coverage explode, (doc, idx)
    # anti-join — everything linear in corpus size
    ("dedup_scrub_duplicate_spans",
     "linear (gram groupBy + bounded coverage explode + anti-join)"),
    # round-12 additions (wave-3 LLM ops): the packer is one shuffle +
    # an O(n) per-shard Arrow pass (sequential within a shard —
    # n_buckets is the parallelism lever at real scale); gopher is a
    # pure scan; temperature sampling is a count agg + broadcast
    # map-side filter; PQ is fixed k/m/iterations so train+encode+ADC
    # are all linear corpus scans; bigram ppl is two uniform-key
    # token shuffles
    ("pack_sequences_next_fit",
     "linear (one shuffle + O(n) per-shard Arrow pass)"),
    ("text_gopher_quality", "linear (map-only scan)"),
    ("sample_temperature_mixture",
     "linear (count agg + broadcast ppm filter)"),
    ("similarity_pq_topk_recall",
     "linear (fixed k/m/iters; train/encode/ADC all single-pass scans)"),
    ("text_bigram_perplexity",
     "linear (two uniform-key token shuffles + broadcast V)"),
    # round-14 additions (wave-5 LLM ops): BPE's only corpus-sized step
    # is the word-dict groupBy (the merge loop runs over the cached
    # dict — corpus-size independent); encode is a map-only replace
    # chain; CCNet is the bigram-ppl shape + a distinct-value histogram
    # window; UniMax is one count agg + L-row windows; the cascades are
    # map-side scans + bounded rerank joins; quality survivors ride the
    # LSH pair space (cluster widths fixed under the tier construction)
    ("text_bpe_train_merges",
     "linear (one word-dict groupBy; loop over cached dict)"),
    ("text_bpe_encode_stats", "linear (map-only replace-chain scan)"),
    ("text_ccnet_ppl_buckets",
     "linear (token shuffles + distinct-ppl histogram window)"),
    ("sample_unimax_allocation",
     "linear (one token-count agg; L-row windows)"),
    ("similarity_sq8_rerank",
     "linear (int8 map scan + bounded rerank join)"),
    ("similarity_matryoshka_topk",
     "linear (prefix-dim map scan + bounded rerank join)"),
    ("dedup_cluster_quality_survivors",
     "linear (bucketed LSH pairs + CC, cluster widths fixed)"),
]


# 100x tier (sf10-equivalent): built ONLY for the two riskiest heads'
# tables.  documents replicate 100x with per-copy word-prefix tagging
# — letter rotation caps at 26 disjoint vocabularies, the prefix keeps
# every copy's vocabulary disjoint at any copy count while preserving
# the dup-cluster structure per copy (the linear-scaling regime, same
# argument as the sf1 build).  The prefix must SURVIVE the dedup
# tokenizer (words_expr lowercases and replaces [^a-z0-9 ] with a
# space): an underscore separator gets split off and every copy
# re-shares the original vocabulary — clusters widen 100x and the
# pair output (and the candidate join) goes QUADRATIC, measuring the
# broken construction instead of the plan.  A fixed-width all-alnum
# prefix (c%03d, 4 chars) stays inside the token and is unambiguous:
# a token's first 4 chars identify its copy, so cross-copy word sets
# are disjoint by construction.  events replicate 100x by KEY COUNT
# (user_id offset per copy), per-key depth unchanged — the keyed-state
# linear regime.
COPIES_100 = 100
HEADS_100X = {
    "minhash_lsh_dup_pairs_xxh":
        "linear: bucketed LSH, cluster widths fixed, 100x unique sets",
    "cep_nfa_four_stage":
        "linear: keyed NFA, 100x keys, runs/key bounded",
    "dedup_incremental_lsh":
        "linear: per-band equi-joins vs the index, disjoint copy vocabularies",
    # round-8 additions (round-7 verdict ask #5): the steepest 10x
    # ratio (text_repetition_stats, explode + two-level agg — all
    # map-side + one shuffle on (doc, gram), output linear in corpus)
    # and the feedback iteration (fixed ~64-round cap, per-round
    # map+filter over the shrinking frontier — linear in row count)
    "text_repetition_stats":
        "linear: explode + two-level agg, one shuffle on (doc, gram)",
    "stream_iterate_feedback_halving":
        "linear: fixed round cap, per-round map+filter on the frontier",
    # round-9 addition: the DEFINE-aggregate NFA path (running-average
    # runs + held start-order emission) on 100x keys, per-key depth
    # unchanged — accumulators are O(1) per run, the pending queue is
    # pruned at every emission
    "flink_sql_mr_define_agg_avg":
        "linear: keyed NFA, 100x keys, O(1) accumulator per run",
    # round-11 additions (round-8 verdict ask #6): the two newest
    # stateful families.  Bootstrap-resume is a key-group-partitioned
    # savepoint write + keyed merge over 100x keys (state rows scale
    # with keys, per-key state O(1)); the temporal table function is
    # the union + per-key-sort as-of join — currency stays 7 keys, so
    # the bound is n log n per currency partition (skew-bound by
    # construction, stated so the ratio is judged against that slope)
    "state_processor_bootstrap_resume":
        "linear: key-group savepoint + keyed merge, 100x keys",
    "flink_sql_temporal_table_function":
        "n log n per currency partition (7 keys, skew-bound as-of sort)",
    # round-12 additions: the packer's sequential-within-shard risk at
    # 100x corpus (5 sources x ~50k docs/shard at n_buckets=1 — the
    # single-task O(n) pandas pass must stay linear, and n_buckets is
    # the documented lever beyond that); PQ's Lloyd loops + ADC scan
    # over 100x embeddings (fixed k/m/iterations -> linear scans)
    "pack_sequences_next_fit":
        "linear: O(n) per-shard pass; n_buckets is the parallel lever",
    "similarity_pq_topk_recall":
        "linear: fixed k/m/iters scans over 100x vectors",
    # round-13 addition (round-9 verdict ask #5): the ExactSubstr scrub
    # sat at 9.0x for 10x — the edge of linear — with the coverage
    # explode the suspect; the 100x row settles whether the slope holds
    "dedup_scrub_duplicate_spans":
        "linear: gram groupBy + bounded coverage explode + anti-join, "
        "disjoint copy vocabularies",
}


def build_sf10(spark, base: str) -> str:
    out = os.path.join(base, "sf10")
    os.makedirs(out, exist_ok=True)
    copies = spark.range(COPIES_100).select(F.col("id").alias("copy"))
    OFF = 1_000_000_000

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    (docs.crossJoin(copies)
       .withColumn("doc_id", F.col("doc_id") + F.col("copy") * OFF)
       .withColumn("text", F.regexp_replace(
           F.col("text"), F.lit(r"(\S+)"),
           F.concat(F.format_string("c%03d", F.col("copy")),
                    F.lit("$1"))))
       .drop("copy")
       .repartition(32)
       .write.mode("overwrite").parquet(f"{out}/documents.parquet"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    (ev.crossJoin(copies)
       .withColumn("event_id", F.col("event_id") + F.col("copy") * OFF)
       .withColumn("user_id", F.col("user_id") + F.col("copy") * 1_000_000)
       .drop("copy")
       .repartition(32)
       .write.mode("overwrite").parquet(f"{out}/events.parquet"))

    # embeddings 100x: per-(copy, position) deterministic sign flips —
    # same construction (and same linear-regime argument) as the sf1
    # build above
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    flip = ("zip_with(embedding, sequence(0, size(embedding) - 1), "
            "(x, i) -> CASE WHEN pmod((copy * 64 + i) * 40503L, 65536) "
            "< 32768 THEN x ELSE -x END)")
    (emb.crossJoin(copies)
       .withColumn("vec_id", F.col("vec_id") + F.col("copy") * OFF)
       .withColumn("embedding", F.expr(flip))
       .drop("copy")
       .repartition(32)
       .write.mode("overwrite").parquet(f"{out}/embeddings.parquet"))
    return out


def build_sf1(spark, base: str) -> str:
    out = os.path.join(base, "sf1")
    os.makedirs(out, exist_ok=True)
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    OFF = 1_000_000_000

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    (li.crossJoin(copies)
       .withColumn("l_orderkey", F.col("l_orderkey") + F.col("copy") * OFF)
       .drop("copy")
       .write.mode("overwrite").parquet(f"{out}/lineitem.parquet"))

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    (orders.crossJoin(copies)
       .withColumn("o_orderkey", F.col("o_orderkey") + F.col("copy") * OFF)
       .drop("copy")
       .write.mode("overwrite").parquet(f"{out}/orders.parquet"))

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    alpha = "abcdefghijklmnopqrstuvwxyz"
    rotated = F.col("text")
    for c in range(COPIES):
        rot = alpha[c:] + alpha[:c]
        rotated = F.when(F.col("copy") == c,
                         F.translate("text", alpha, rot)).otherwise(rotated)
    (docs.crossJoin(copies)
       .withColumn("doc_id", F.col("doc_id") + F.col("copy") * OFF)
       .withColumn("text", rotated)
       .drop("copy")
       .write.mode("overwrite").parquet(f"{out}/documents.parquet"))

    # events: 10x the KEY COUNT (user_id offset per copy), per-key event
    # depth unchanged — the linear regime for keyed state (NFA runs,
    # top-n heaps, window panes are all per-key)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    (ev.crossJoin(copies)
       .withColumn("event_id", F.col("event_id") + F.col("copy") * OFF)
       .withColumn("user_id", F.col("user_id") + F.col("copy") * 1_000_000)
       .drop("copy")
       .write.mode("overwrite").parquet(f"{out}/events.parquet"))

    # embeddings: 10x rows with a per-(copy, position) deterministic
    # SIGN FLIP — intra-copy dot products are invariant (the two flips
    # cancel), cross-copy cosines decorrelate, so the corpus is 10
    # disjoint copies of the SAME similarity structure (the linear
    # regime for pair-emitting heads, same argument as the documents
    # letter rotation)
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    flip = ("zip_with(embedding, sequence(0, size(embedding) - 1), "
            "(x, i) -> CASE WHEN pmod((copy * 64 + i) * 40503L, 65536) "
            "< 32768 THEN x ELSE -x END)")
    (emb.crossJoin(copies)
       .withColumn("vec_id", F.col("vec_id") + F.col("copy") * OFF)
       .withColumn("embedding", F.expr(flip))
       .drop("copy")
       .write.mode("overwrite").parquet(f"{out}/embeddings.parquet"))

    for tbl in ["customer", "supplier", "part", "nation", "region"]:
        spark.read.parquet(f"{SRC}/{tbl}.parquet") \
             .write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
    return out


def time_cc(spark, tier_dir: str, replicate: bool, tier: str,
            name: str) -> float:
    """graph_connected_components at each tier.  CC is pointer-doubling:
    O(E) work per round, O(log diameter) rounds.  The sf1 tier
    replicates the sf0.1 edge set 10x with per-copy vertex offsets —
    10x disjoint copies of the SAME component structure, so the
    diameter (and the round count) is unchanged and the expected
    scaling is linear.  (The registered query's edge derivation
    dedups to the same graph at any fact scale — dimensions are fixed
    — so the operator is timed on the replicated edges directly.)"""
    from flink_release_1_10_0_spark.operators.graph import connected_components
    from flink_release_1_10_0_spark.queries.extended import _cust_supp_edges

    edges = _cust_supp_edges(spark, SRC if replicate else tier_dir, 12)
    if replicate:
        copies = spark.range(COPIES).select(F.col("id").alias("copy"))
        edges = (edges.crossJoin(copies)
                 .select((F.col("src") + F.col("copy") * 1_000_000).alias("src"),
                         (F.col("dst") + F.col("copy") * 1_000_000).alias("dst")))
    edges = edges.localCheckpoint()   # time the operator, not the edge build
    return warm_wall(spark, lambda: connected_components(edges), tier, name)


def warm_wall(spark, build, tier: str, name: str) -> float:
    """Wall seconds of the second (warmed) run of the frame ``build``
    returns, through the noop sink (``metrics.measure``); printed too."""
    measure(spark, build)
    secs = round(measure(spark, build)["wall_s"], 3)
    print(f"{tier:12s} {name:34s} {secs:8.3f}s", flush=True)
    return secs


def main():
    out_md = sys.argv[1] if len(sys.argv) > 1 else "SCALE_SWEEP.md"
    spark = get_spark("scale_sweep")
    qs = all_queries()
    base = tempfile.mkdtemp(prefix="scale_sweep_")
    print("building sf1 tier...", flush=True)
    sf1 = build_sf1(spark, base)

    tiers = [("sf0.01", "/root/testdata/sf0.01"),
             ("sf0.1", SRC), ("sf1 (synth)", sf1)]
    results: dict[str, dict[str, float]] = {n: {} for n, _ in HEADS}
    bounds = dict(HEADS)
    for tier_name, tier_dir in tiers:
        for name, _bound in HEADS:
            if name not in qs:
                continue
            results[name][tier_name] = warm_wall(
                spark, lambda: qs[name](spark, tier_dir), tier_name, name)

    print("building sf10 (100x) tier for the risky heads...", flush=True)
    sf10 = build_sf10(spark, base)
    results_100: dict[str, float] = {}
    for name in HEADS_100X:
        if name not in qs:
            continue
        results_100[name] = warm_wall(
            spark, lambda: qs[name](spark, sf10), "sf10 (synth)", name)

    cc_name = "graph_connected_components (operator)"
    bounds[cc_name] = "n·log(diameter); diameter fixed -> linear"
    results[cc_name] = {}
    for tier_name, tier_dir in tiers:
        results[cc_name][tier_name] = time_cc(
            spark, tier_dir, tier_name.startswith("sf1"), tier_name, cc_name)

    # SRP embedding dedup: candidates scale as n^2 / 2^planes per band,
    # so the documented contract is planes_per_band ~ log2(n) — the
    # sweep sizes the geometry to the tier (4 bits at sf0.1, 8 at sf1:
    # 100x pair space / 16x buckets ≈ 6x candidates — the
    # geometry-scaled near-linear regime, same reasoning as the MinHash
    # _FIRST_MATCH_MAX_BANDS guard)
    srp_name = "dedup_embedding_srp (geometry-scaled)"
    bounds[srp_name] = "n^2/2^p candidates; p sized to log2(n) -> ~linear"
    results[srp_name] = {}
    from flink_release_1_10_0_spark.llm.dedup import embedding_srp_pairs
    for tier_name, tier_dir, planes in [("sf0.1", SRC, 4),
                                        ("sf1 (synth)", sf1, 8)]:
        emb = spark.read.parquet(f"{tier_dir}/embeddings.parquet")
        results[srp_name][tier_name] = warm_wall(
            spark, lambda: embedding_srp_pairs(
                emb, planes_per_band=planes, n_bands=4, threshold=0.35),
            tier_name, srp_name)

    # SemDeDup with the production lever: k derived from a fixed target
    # cluster size, so the within-cluster pair space stays ~n*target/2
    # (the fixed-k HEADS row shows the quadratic alternative —
    # 10x clusters -> up to 100x pairs).  Assignment itself is O(n*k)
    # under the broadcast codebook, hence "~linear", not exactly 10x.
    sem_name = "dedup_semantic_pairs (geometry-scaled)"
    bounds[sem_name] = ("k = ceil(n/250): pair space ~n*target/2, "
                        "assign O(n*k) -> ~linear")
    results[sem_name] = {}
    from flink_release_1_10_0_spark.llm.dedup import semantic_dedup_pairs
    for tier_name, tier_dir in [("sf0.1", SRC), ("sf1 (synth)", sf1)]:
        emb2 = spark.read.parquet(f"{tier_dir}/embeddings.parquet")
        results[sem_name][tier_name] = warm_wall(
            spark, lambda: semantic_dedup_pairs(
                emb2, k=None, target_cluster_size=250, threshold=0.35),
            tier_name, sem_name)

    # SemDeDup SURVIVORS with the production lever (round-9 verdict ask
    # #5: the survivors head had no sweep row): pairs + CC + keep-min +
    # anti-join on top of the geometry-scaled pair plan.  The sf1 tier
    # is 10 disjoint copies of the same similarity structure, so the
    # CC edge set and the loser set both scale ~10x — linear on top of
    # the ~linear pair stage.
    surv_name = "dedup_semantic_survivors (geometry-scaled)"
    bounds[surv_name] = ("pairs ~linear (k=ceil(n/250)) + CC on "
                         "O(dup) edges + anti-join -> ~linear")
    results[surv_name] = {}
    from flink_release_1_10_0_spark.llm.dedup import dedup_clusters
    for tier_name, tier_dir in [("sf0.1", SRC), ("sf1 (synth)", sf1)]:
        emb3 = spark.read.parquet(f"{tier_dir}/embeddings.parquet")

        def run_surv():
            pairs = semantic_dedup_pairs(emb3, k=None,
                                         target_cluster_size=250,
                                         threshold=0.35)
            clusters = dedup_clusters(pairs)
            losers = (clusters
                      .filter(F.col("doc_id") != F.col("cluster_id"))
                      .select(F.col("doc_id").alias("vec_id")))
            return emb3.join(losers, "vec_id", "left_anti").select("vec_id")
        results[surv_name][tier_name] = warm_wall(
            spark, run_surv, tier_name, surv_name)

    # SemDeDup INCREMENTAL (round-9 verdict ask #4's sweep row): corpus
    # index 10x (geometry-scaled k), batch = the %17 slice of the same
    # tier.  Assignment is one broadcast-codebook map pass over the
    # batch; candidates are a cid-keyed equi-join against the index —
    # the per-ingest linear regime (the semantic mirror of
    # dedup_embedding_incremental).
    inc_name = "semantic_incremental_pairs (geometry-scaled)"
    bounds[inc_name] = ("index build ~linear; per-ingest assign+join "
                        "linear in index")
    results[inc_name] = {}
    from flink_release_1_10_0_spark.llm.dedup import (
        semantic_incremental_pairs, semantic_index)
    for tier_name, tier_dir in [("sf0.1", SRC), ("sf1 (synth)", sf1)]:
        emb4 = spark.read.parquet(f"{tier_dir}/embeddings.parquet")
        old4 = emb4.filter("vec_id % 17 <> 0")
        new4 = emb4.filter("vec_id % 17 = 0")
        rows4, cents4 = semantic_index(old4, target_cluster_size=250)
        rows4 = rows4.localCheckpoint()   # the persisted-index standin:
        cents4 = cents4.localCheckpoint()  # time the INGEST, not the build

        results[inc_name][tier_name] = warm_wall(
            spark, lambda: semantic_incremental_pairs(
                rows4, cents4, new4, threshold=0.35),
            tier_name, inc_name)

    lines = [
        "# Scale sweep",
        "",
        "Second (warmed) run per head per tier; the sf1 tier is sf0.1",
        "facts replicated 10x with offset keys (dimensions fixed — see",
        "tools/scale_sweep.py for the construction and why).  The",
        "stateful heads (NFA, top-n, CC) scale by KEY COUNT with per-key",
        "depth/diameter fixed — the keyed-state linear regime; their",
        "expected bound is stated per head.",
        "",
        "| head | expected | sf0.01 | sf0.1 | sf1 (synth) | sf0.1→sf1 ratio |",
        "|---|---|---|---|---|---|",
    ]
    for name in results:
        r = results[name]
        if not r:
            continue
        ratio = (r["sf1 (synth)"] / r["sf0.1"]) if r.get("sf0.1") else float("nan")
        lines.append(
            f"| {name} | {bounds[name]} | {r.get('sf0.01', '')} "
            f"| {r.get('sf0.1', '')} "
            f"| {r.get('sf1 (synth)', '')} | {ratio:.1f}x |")
    lines += [
        "",
        "A plan linear in fact size shows ≈10x (minus fixed overhead",
        "amortized at the small end). Super-linear growth would flag an",
        "all-pairs/unpartitioned construct or per-key state blowup.",
    ]
    if results_100:
        lines += [
            "",
            "## 100x tier (sf10-equivalent, riskiest heads)",
            "",
            "The brief's bar is \"survive a 100x scale-up\": the heads",
            "with the most super-linear risk (pair-generating LSH,",
            "per-key NFA state, index-joining dedup) run on a 100x",
            "replication of their",
            "tables (tools/scale_sweep.py build_sf10 — word-prefix",
            "vocabulary disjointness / 100x key count).  At-or-below",
            "the stated bound = at most ~100x the sf0.1 wall-clock.",
            "",
            "| head | expected bound | sf0.1 | sf10 (synth, 100x) "
            "| ratio | verdict |",
            "|---|---|---|---|---|---|",
        ]
        for name, secs in results_100.items():
            base_t = results.get(name, {}).get("sf0.1")
            if not base_t:
                # no sf0.1 baseline measured for this head: report the
                # raw number, never a false SUPER-LINEAR verdict
                lines.append(
                    f"| {name} | {HEADS_100X[name]} | (no baseline) "
                    f"| {secs} | — | n/a (no sf0.1 measurement) |")
                continue
            ratio = secs / base_t
            verdict = "at-or-below linear" if ratio <= 100 else "SUPER-LINEAR"
            lines.append(
                f"| {name} | {HEADS_100X[name]} | {base_t} | {secs} "
                f"| {ratio:.1f}x | {verdict} |")
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
