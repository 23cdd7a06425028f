"""LLM training-data curation queries, wave 5 — CCNet perplexity
bucketing, UniMax language budgets, compressed-search cascades (SQ8
asymmetric scan, exact re-rank, Matryoshka prefix-dim routing),
quality-aware duplicate-cluster survivors, and distributed BPE
tokenizer training/encoding.

Like waves 1-4 these extend the reference beyond its own operator set
per the brief's LLM-pipeline mandate; every query carries a full DuckDB
oracle.  The BPE oracles unroll the merge loop as a CTE chain (the same
technique as the unrolled-Lloyd k-means replays) — each iteration is a
pair-count aggregation, a 1-row argmax, and a string replace both
engines execute with identical left-to-right semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.llm import bpe as B
from flink_release_1_10_0_spark.llm import dedup as D
from flink_release_1_10_0_spark.llm import similarity as S
from flink_release_1_10_0_spark.llm import text as T
from flink_release_1_10_0_spark.queries import register
from flink_release_1_10_0_spark.queries.helpers import t
from flink_release_1_10_0_spark.session import scratch_dir
from flink_release_1_10_0_spark.queries.llm import (_DWORDS, _band_selects,
                                                    _sig_cols_duck)

# --------------------------------------------------------------------------
# CCNet perplexity bucketing: per-language bigram LM, head/middle/tail
# terciles by rounded perplexity with VALUE-based cuts (integer
# inequality 3*cum >= n over the distinct-ppl histogram) — no tie order
# can leak between engines.
# --------------------------------------------------------------------------
_CCNET_ORACLE = f"""
WITH w AS (SELECT doc_id, lang, {_DWORDS} AS ws FROM documents),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ws)), i -> [ws[i], ws[i+1]])) AS b
  FROM w WHERE len(ws) >= 2
), bge AS (
  SELECT doc_id, lang, b[1] AS w1, b[2] AS w2 FROM bg
), c2 AS (
  SELECT lang, w1, w2, COUNT(*) AS c2 FROM bge GROUP BY lang, w1, w2
), c1 AS (
  SELECT lang, w AS w1, COUNT(*) AS c1
  FROM (SELECT lang, unnest(ws) AS w FROM w) x GROUP BY lang, w
), v AS (
  SELECT lang, COUNT(*) AS v FROM c1 GROUP BY lang
), ppl AS (
  SELECT bge.doc_id, bge.lang,
         round(exp(AVG(ln(CAST(c1.c1 + v.v AS DOUBLE))
                       - ln(CAST(c2.c2 + 1 AS DOUBLE)))), 6) AS ppl_r
  FROM bge
  JOIN c2 ON bge.lang = c2.lang AND bge.w1 = c2.w1 AND bge.w2 = c2.w2
  JOIN c1 ON bge.lang = c1.lang AND bge.w1 = c1.w1
  JOIN v ON bge.lang = v.lang
  GROUP BY bge.doc_id, bge.lang
), vals AS (
  SELECT lang, ppl_r, COUNT(*) AS cnt FROM ppl GROUP BY lang, ppl_r
), cum AS (
  SELECT lang, ppl_r,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY ppl_r
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS n
  FROM vals
), thr AS (
  SELECT lang,
         MIN(CASE WHEN 3 * cum >= n THEN ppl_r END) AS t1,
         MIN(CASE WHEN 3 * cum >= 2 * n THEN ppl_r END) AS t2
  FROM cum GROUP BY lang
)
SELECT p.doc_id, p.lang, p.ppl_r,
       CASE WHEN p.ppl_r <= thr.t1 THEN 'head'
            WHEN p.ppl_r <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ppl p JOIN thr ON p.lang = thr.lang
"""


@register("text_ccnet_ppl_buckets", _CCNET_ORACLE)
def text_ccnet_ppl_buckets(spark, sf_dir):
    return T.ccnet_ppl_buckets(t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# UniMax budgets: exact integer water-filling over per-language token
# counts; budget/cap chosen so sf0.01 exercises BOTH branches (small
# languages capped, the largest takes the equal share).
# --------------------------------------------------------------------------
_UNI_B, _UNI_E = 8000, 1

_UNIMAX_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(SUM(len({_DWORDS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), capd AS (
  SELECT lang, n_tokens,
         CAST({_UNI_E} AS BIGINT) * n_tokens AS cap_tokens
  FROM c
), r AS (
  SELECT lang, n_tokens, cap_tokens,
         CAST(row_number() OVER (ORDER BY cap_tokens, lang) AS BIGINT) AS i,
         SUM(cap_tokens) OVER (ORDER BY cap_tokens, lang
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS s_i,
         CAST(COUNT(*) OVER () AS BIGINT) AS L
  FROM capd
), f AS (
  SELECT *, cap_tokens * (L - i + 1) <= {_UNI_B} - (s_i - cap_tokens)
           AS capped
  FROM r
), kk AS (
  SELECT COALESCE(MAX(CASE WHEN capped THEN i END), 0) AS K,
         COALESCE(MAX(CASE WHEN capped THEN s_i END), 0) AS SK
  FROM f
), alloc AS (
  SELECT lang, n_tokens, cap_tokens,
         round(CASE WHEN i <= kk.K THEN CAST(cap_tokens AS DOUBLE)
               ELSE CAST({_UNI_B} - kk.SK AS DOUBLE) / (L - kk.K)
               END, 6) AS alloc_tokens
  FROM f CROSS JOIN kk
)
SELECT lang, n_tokens, cap_tokens, alloc_tokens,
       round(alloc_tokens / n_tokens, 6) AS epochs
FROM alloc
"""


@register("sample_unimax_allocation", _UNIMAX_ORACLE)
def sample_unimax_allocation(spark, sf_dir):
    return T.unimax_allocation(t(spark, sf_dir, "documents"),
                               budget=_UNI_B, epoch_cap=_UNI_E)


# --------------------------------------------------------------------------
# Compressed-search cascades over the embeddings table (dim 64).  Query
# batch = vec_id IN (0, 1, 2).  All ranks tie-break on vec_id.
# --------------------------------------------------------------------------
_SQ_K, _SQ_R = 5, 16

_DUCK_Q = ("q AS (SELECT vec_id AS q_id, "
           "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv "
           "FROM embeddings WHERE vec_id IN (0, 1, 2))")

_DUCK_CODES = """mx AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS mx
  FROM embeddings
), codes AS (
  SELECT e.vec_id,
         list_transform(e.embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx.mx + 0.5) AS INT))
           AS cd,
         mx.mx / 127.0 AS scale
  FROM embeddings e JOIN mx USING (vec_id)
  WHERE mx.mx > 0
), sc AS (
  SELECT q.q_id, codes.vec_id,
         list_sum(list_transform(range(1, 65), i ->
           (q.qv[i] - codes.cd[i] * codes.scale)
           * (q.qv[i] - codes.cd[i] * codes.scale))) AS adc
  FROM codes CROSS JOIN q
), rk AS (
  SELECT q_id, vec_id, adc,
         row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rnk
  FROM sc
)"""

_SQ8_ORACLE = f"""
WITH {_DUCK_Q},
{_DUCK_CODES}
SELECT q_id, vec_id, round(adc, 6) AS adc_r, CAST(rnk AS INT) AS rank
FROM rk WHERE rnk <= {_SQ_K}
"""


@register("similarity_sq8_topk", _SQ8_ORACLE)
def similarity_sq8_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(0, 1, 2)) \
            .select(F.col("vec_id").alias("q_id"), "embedding")
    return S.sq8_topk_adc(emb, qs, k=_SQ_K)


_DUCK_RERANK = f"""cand AS (
  SELECT q_id, vec_id FROM rk WHERE rnk <= {_SQ_R}
), ex AS (
  SELECT c.q_id, c.vec_id,
         list_sum(list_transform(range(1, 65), i ->
           (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
           * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))) AS dist
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.q_id = c.q_id
), rk2 AS (
  SELECT q_id, vec_id, dist,
         row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rnk
  FROM ex
)
SELECT q_id, vec_id, round(dist, 6) AS dist_r, CAST(rnk AS INT) AS rank
FROM rk2 WHERE rnk <= {_SQ_K}"""

_SQ8_RERANK_ORACLE = f"""
WITH {_DUCK_Q},
{_DUCK_CODES},
{_DUCK_RERANK}
"""


@register("similarity_sq8_rerank", _SQ8_RERANK_ORACLE)
def similarity_sq8_rerank(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(0, 1, 2)) \
            .select(F.col("vec_id").alias("q_id"), "embedding")
    return S.sq8_topk_rerank(emb, qs, k=_SQ_K, r=_SQ_R)


_MATRYOSHKA_P = 16

_MAT_ORACLE = f"""
WITH {_DUCK_Q},
sc AS (
  SELECT q.q_id, e.vec_id,
         list_sum(list_transform(range(1, {_MATRYOSHKA_P + 1}), i ->
           (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
           * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))) AS adc
  FROM embeddings e CROSS JOIN q
), rk AS (
  SELECT q_id, vec_id, adc,
         row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rnk
  FROM sc
),
{_DUCK_RERANK}
"""


@register("similarity_matryoshka_topk", _MAT_ORACLE)
def similarity_matryoshka_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(0, 1, 2)) \
            .select(F.col("vec_id").alias("q_id"), "embedding")
    return S.matryoshka_topk(emb, qs, k=_SQ_K, r=_SQ_R,
                             prefix_dim=_MATRYOSHKA_P)


# --------------------------------------------------------------------------
# Quality-aware duplicate-cluster survivors: MinHash LSH pairs ->
# connected components -> keep the HIGHEST-word-count doc per cluster
# (ties: smallest doc_id) — the "keep the best copy" decision a real
# dedup pipeline makes, not just keep-min-id.  Oracle replays the v2
# signature/banding chain (imported from the wave-1 oracle — lockstep
# by construction) plus the recursive-CTE components.
# --------------------------------------------------------------------------
_CLUSTER_Q_ORACLE = f"""
WITH RECURSIVE w AS (
  SELECT doc_id, list_distinct({_DWORDS}) AS ws, len({_DWORDS}) AS nw
  FROM documents WHERE doc_id < 1500
),
sig AS (SELECT doc_id, {_sig_cols_duck} FROM w),
bands AS ({_band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN w wa ON wa.doc_id = id_a
  JOIN w wb ON wb.doc_id = id_b
  WHERE round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(wa.ws, wb.ws))) AS DOUBLE), 6)
        >= 0.8
), edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
), sized AS (
  SELECT comp.doc_id, comp.cluster_id,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size,
         CAST(w.nw AS BIGINT) AS n_words
  FROM comp JOIN w ON w.doc_id = comp.doc_id
), kp AS (
  SELECT cluster_id,
         MIN(struct_pack(a := -n_words, b := doc_id)) AS kpr
  FROM sized GROUP BY cluster_id
)
SELECT s.doc_id, s.cluster_id, s.cluster_size, s.n_words,
       CAST(s.doc_id = kp.kpr.b AS BIGINT) AS is_keeper
FROM sized s JOIN kp ON s.cluster_id = kp.cluster_id
"""


@register("dedup_cluster_quality_survivors", _CLUSTER_Q_ORACLE)
def dedup_cluster_quality_survivors(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import words_expr
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    pairs = D.minhash_lsh_pairs(docs, "doc_id", k=8, band_rows=4,
                                threshold=0.8)
    clusters = D.dedup_clusters(pairs)
    nw = docs.select("doc_id", F.expr(f"size({words_expr('text')})")
                     .cast("bigint").alias("n_words"))
    j = clusters.join(nw, "doc_id")
    kp = (j.groupBy("cluster_id")
          .agg(F.min(F.struct((-F.col("n_words")).alias("a"),
                              F.col("doc_id").alias("b"))).alias("kp")))
    return (j.join(kp, "cluster_id")
            .select("doc_id", "cluster_id",
                    F.col("cluster_size").cast("bigint").alias("cluster_size"),
                    "n_words",
                    (F.col("doc_id") == F.col("kp.b")).cast("bigint")
                    .alias("is_keeper")))


# --------------------------------------------------------------------------
# BPE tokenizer training: the merge loop unrolled as a CTE chain.  Each
# iteration: pair counts over the word dict, argmax (count DESC, left,
# right), string-replace application.
# --------------------------------------------------------------------------
_BPE_MERGES = 10

_BPE_W0 = f"""w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS toks
  FROM (SELECT unnest({_DWORDS}) AS word FROM documents) x
  GROUP BY word
)"""


def _bpe_iter_ctes(i: int) -> str:
    """CTEs for merge iteration ``i`` (1-based): pair counts p{i} over
    w{i-1}, argmax m{i}, merged word dict w{i}."""
    return f""", p{i} AS (
  SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c
  FROM (SELECT cnt,
               unnest(list_transform(range(1, len(a)), j ->
                 struct_pack(l := a[j], r := a[j + 1]))) AS p
        FROM (SELECT cnt, string_split(trim(toks), ' ') AS a
              FROM w{i - 1}) t
        WHERE len(a) >= 2) u
  GROUP BY p.l, p.r
), m{i} AS (
  SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1
), w{i} AS (
  SELECT word, cnt,
         replace(toks, ' ' || m.l || ' ' || m.r || ' ',
                 ' ' || m.l || m.r || ' ') AS toks
  FROM w{i - 1} CROSS JOIN m{i} m
)"""


_BPE_CHAIN = "WITH " + _BPE_W0 + "".join(
    _bpe_iter_ctes(i) for i in range(1, _BPE_MERGES + 1))

_BPE_TRAIN_ORACLE = _BPE_CHAIN + "\n" + "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS INT) AS rank, l AS merge_left, r AS merge_right, "
    f"c AS pair_count FROM m{i}"
    for i in range(1, _BPE_MERGES + 1))


@register("text_bpe_train_merges", _BPE_TRAIN_ORACLE)
def text_bpe_train_merges(spark, sf_dir):
    return B.bpe_train(t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES)


# Encode with the trained merges: per-doc token stats.  The oracle
# re-derives the merges with the same chain (never reads Spark's
# output), then folds the replace chain over every word via the
# cross-joined 1-row m{i} CTEs.
_BPE_ENC_EXPR = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '</w> '"
for _i in range(1, _BPE_MERGES + 1):
    _BPE_ENC_EXPR = (f"replace({_BPE_ENC_EXPR}, "
                     f"' ' || mm{_i}.l || ' ' || mm{_i}.r || ' ', "
                     f"' ' || mm{_i}.l || mm{_i}.r || ' ')")

_BPE_ENC_CTES = f""", dw AS (
  SELECT doc_id, {_DWORDS} AS ws FROM documents
), docw AS (
  SELECT doc_id, unnest(ws) AS w FROM dw WHERE len(ws) > 0
), enc AS (
  SELECT doc_id,
         CAST(len(string_split(trim({_BPE_ENC_EXPR}), ' ')) AS BIGINT)
           AS nt,
         CAST(len(w) + 1 AS BIGINT) AS nc
  FROM docw {' '.join(f'CROSS JOIN m{i} mm{i}'
                      for i in range(1, _BPE_MERGES + 1))}
), agg AS (
  SELECT doc_id, CAST(SUM(nc) AS BIGINT) AS n_char_tokens,
         CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens
  FROM enc GROUP BY doc_id
)"""

_BPE_ENC_SELECT = """
SELECT dw.doc_id, CAST(len(dw.ws) AS BIGINT) AS n_words,
       agg.n_char_tokens, agg.n_bpe_tokens,
       round(agg.n_char_tokens / agg.n_bpe_tokens, 6) AS compression
FROM dw JOIN agg ON dw.doc_id = agg.doc_id
"""

_BPE_ENCODE_ORACLE = _BPE_CHAIN + _BPE_ENC_CTES + _BPE_ENC_SELECT


@register("text_bpe_encode_stats", _BPE_ENCODE_ORACLE)
def text_bpe_encode_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    merges = B.bpe_train(docs, n_merges=_BPE_MERGES)
    return B.bpe_encode_stats(docs, merges)


# --------------------------------------------------------------------------
# Vocabulary artifact: every distinct token of the trained tokenizer
# with its corpus frequency — read off the final merged word dict.
# --------------------------------------------------------------------------
_BPE_VOCAB_ORACLE = _BPE_CHAIN + f"""
SELECT token, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
  SELECT cnt, unnest(string_split(trim(toks), ' ')) AS token
  FROM w{_BPE_MERGES}) x
GROUP BY token
"""


@register("text_bpe_vocab", _BPE_VOCAB_ORACLE)
def text_bpe_vocab(spark, sf_dir):
    return B.bpe_vocab(t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES)


# Persisted tokenizer model round-trip: train -> write (fmt-stamped)
# -> read -> encode through the stored artifact.  Values identical to
# the in-memory encode, so the SAME oracle gates it — storage
# transparency is exactly the claim (the llm3 PQ-index pattern).
@register("text_bpe_model_roundtrip", _BPE_ENCODE_ORACLE)
def text_bpe_model_roundtrip(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    merges = B.bpe_train(docs, n_merges=_BPE_MERGES)
    path = scratch_dir(spark, "bpe_model_q")
    B.write_bpe_model(merges, path)
    stored = B.read_bpe_model(spark, path)
    return B.bpe_encode_stats(docs, stored)


# --------------------------------------------------------------------------
# SQ8 recall yardstick: top-10 of the int8 asymmetric scan vs the
# exact scan — the compression-quality metric a 100 TB deployment
# monitors (the PQ family's recall head, for the SQ8 path).
# --------------------------------------------------------------------------
_SQ8_RECALL_ORACLE = f"""
WITH {_DUCK_Q},
{_DUCK_CODES},
adc_top AS (
  SELECT q_id, vec_id FROM rk WHERE rnk <= 10
), exact AS (
  SELECT q.q_id, e.vec_id,
         list_sum(list_transform(range(1, 65), i ->
           (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
           * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))) AS dist
  FROM embeddings e CROSS JOIN q
), exact_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
    FROM exact) y WHERE rn <= 10
)
SELECT a.q_id, CAST(COUNT(x.vec_id) AS BIGINT) AS n_overlap,
       round(COUNT(x.vec_id) / 10.0, 6) AS recall_r
FROM adc_top a LEFT JOIN exact_top x
  ON a.q_id = x.q_id AND a.vec_id = x.vec_id
GROUP BY a.q_id
"""


@register("similarity_sq8_recall", _SQ8_RECALL_ORACLE)
def similarity_sq8_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(0, 1, 2)) \
            .select(F.col("vec_id").alias("q_id"), "embedding")
    adc = S.sq8_topk_adc(emb, qs, k=10)
    exact = S.exact_l2_topk(emb, qs, k=10)
    overlap = (adc.select("q_id", "vec_id")
               .join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"]))
    hits = overlap.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    return (adc.select("q_id").distinct()
            .join(hits, "q_id", "left")
            .select("q_id",
                    F.coalesce("n_overlap", F.lit(0)).cast("bigint")
                    .alias("n_overlap"))
            .withColumn("recall_r",
                        F.round(F.col("n_overlap") / F.lit(10.0), 6)))


# --------------------------------------------------------------------------
# Composition: pack by REAL tokenizer cost — BPE train -> encode ->
# next-fit pack budgeted on n_bpe_tokens (not the whitespace
# approximation).  The oracle chains the full BPE replay into the
# recursive-CTE packer over the same (md5(id), id) layout order.
# --------------------------------------------------------------------------
_BPE_PACK_BUDGET = 256

# ord MUST be MATERIALIZED: the recursive pack step references it every
# iteration, and DuckDB would otherwise inline the whole BPE chain +
# encode CTEs into the recursion and re-evaluate them ~1000x at sf0.1
_BPE_PACK_ORACLE = (_BPE_CHAIN.replace("WITH ", "WITH RECURSIVE ", 1)
                    + _BPE_ENC_CTES) + f""", tok AS MATERIALIZED (
  SELECT d.source AS grp, CAST(0 AS BIGINT) AS bucket, d.doc_id AS id,
         agg.n_bpe_tokens AS n_tok,
         md5(CAST(d.doc_id AS VARCHAR)) AS h
  FROM documents d JOIN agg ON d.doc_id = agg.doc_id
), ord AS MATERIALIZED (
  SELECT grp, bucket, id, n_tok,
         row_number() OVER (PARTITION BY grp ORDER BY h, id) AS rn
  FROM tok
), pack AS (
  SELECT grp, bucket, id, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
         n_tok AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.bucket, o.id, o.n_tok, o.rn,
         CASE WHEN p.fill + o.n_tok > {_BPE_PACK_BUDGET}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + o.n_tok > {_BPE_PACK_BUDGET}
              THEN CAST(0 AS BIGINT) ELSE p.fill END,
         CASE WHEN p.fill + o.n_tok > {_BPE_PACK_BUDGET}
              THEN o.n_tok ELSE p.fill + o.n_tok END
  FROM pack p JOIN ord o ON o.grp = p.grp AND o.rn = p.rn + 1
)
SELECT grp, bucket, id AS doc_id, n_tok, seq_id, seq_offset FROM pack
"""


@register("pipeline_bpe_pack", _BPE_PACK_ORACLE)
def pipeline_bpe_pack(spark, sf_dir):
    from flink_release_1_10_0_spark.llm import packing as P
    docs = t(spark, sf_dir, "documents")
    merges = B.bpe_train(docs, n_merges=_BPE_MERGES)
    enc = B.bpe_encode_stats(docs, merges).select("doc_id", "n_bpe_tokens")
    joined = docs.join(enc, "doc_id")
    plan = P.pack_sequences_next_fit(joined, budget=_BPE_PACK_BUDGET,
                                     n_tok_expr="n_bpe_tokens")
    return plan.select("grp", "bucket", F.col("id").alias("doc_id"),
                       "n_tok", "seq_id",
                       F.col("offset").alias("seq_offset"))


# --------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier: fit on the doc_id%5!=0
# split, predict the held-out docs — the distributed shape of CCNet's
# fastText langid / GPT-3's quality classifier.  Every log-probability
# is floor(1e6*ln(...))-quantized before integer summation, so both
# engines agree bit-for-bit (same convention as the TF-IDF weights).
# --------------------------------------------------------------------------
_NB_CTES = f"""tr AS (
  SELECT doc_id, lang, {_DWORDS} AS ws FROM documents WHERE doc_id % 5 <> 0
), ev AS (
  SELECT doc_id, lang, {_DWORDS} AS ws FROM documents WHERE doc_id % 5 = 0
), tw AS (
  SELECT l, w, COUNT(*) AS cw
  FROM (SELECT lang AS l, unnest(ws) AS w FROM tr) x GROUP BY l, w
), ct AS (
  SELECT l, CAST(SUM(cw) AS BIGINT) AS ct FROM tw GROUP BY l
), vv AS (
  SELECT COUNT(DISTINCT w) AS v FROM tw
), nd AS (
  SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS ndl FROM tr GROUP BY lang
), nt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM tr
), lab AS (
  SELECT ct.l,
         CAST(FLOOR(1e6 * ln(CAST(ndl AS DOUBLE) / nt)) AS BIGINT)
           AS prior_q,
         CAST(FLOOR(-1e6 * ln(CAST(ct + v AS DOUBLE))) AS BIGINT) AS dq,
         ct + v AS den
  FROM ct JOIN nd ON ct.l = nd.l CROSS JOIN vv CROSS JOIN nt
), wt AS (
  SELECT tw.l, tw.w,
         CAST(FLOOR(1e6 * (ln(CAST(cw + 1 AS DOUBLE))
                           - ln(CAST(den AS DOUBLE)))) AS BIGINT) AS wq
  FROM tw JOIN lab ON tw.l = lab.l
), et AS (
  SELECT doc_id, tru, w, COUNT(*) AS tf
  FROM (SELECT doc_id, lang AS tru, unnest(ws) AS w FROM ev) x
  GROUP BY doc_id, tru, w
), sc AS (
  SELECT et.doc_id, et.tru, lab.l,
         CAST(SUM(et.tf * COALESCE(wt.wq, lab.dq)) AS BIGINT) AS s
  FROM et CROSS JOIN lab
  LEFT JOIN wt ON wt.l = lab.l AND wt.w = et.w
  GROUP BY et.doc_id, et.tru, lab.l
), fin AS (
  SELECT sc.doc_id, sc.tru, sc.l, sc.s + lab.prior_q AS s
  FROM sc JOIN lab ON sc.l = lab.l
), best AS (
  SELECT doc_id, tru, MIN(struct_pack(a := -s, b := l)) AS bb
  FROM fin GROUP BY doc_id, tru
)"""

_NB_PREDICT_ORACLE = f"""
WITH {_NB_CTES}
SELECT doc_id, tru AS lang_true, bb.b AS lang_pred,
       CAST(tru = bb.b AS BIGINT) AS correct
FROM best
"""


def _nb_splits(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (docs.filter(F.col("doc_id") % 5 != 0),
            docs.filter(F.col("doc_id") % 5 == 0))


@register("text_nb_langid_predict", _NB_PREDICT_ORACLE)
def text_nb_langid_predict(spark, sf_dir):
    train, ev = _nb_splits(spark, sf_dir)
    return T.nb_classifier_predict(train, ev)


_NB_CONFUSION_ORACLE = f"""
WITH {_NB_CTES}
SELECT tru AS lang_true, bb.b AS lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n
FROM best GROUP BY tru, bb.b
"""


@register("text_nb_langid_confusion", _NB_CONFUSION_ORACLE)
def text_nb_langid_confusion(spark, sf_dir):
    train, ev = _nb_splits(spark, sf_dir)
    pred = T.nb_classifier_predict(train, ev)
    return (pred.groupBy("lang_true", "lang_pred")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


# --------------------------------------------------------------------------
# IVF-SQ8: route the single query to its nearest label-centroid cell,
# SQ8-asymmetric-scan only that cell — FAISS "IVF,SQ8".
# --------------------------------------------------------------------------
_IVFSQ8_ORACLE = """
WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS v
            FROM embeddings),
cent AS (SELECT label, pos,
                CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
         FROM ex GROUP BY label, pos),
cvec AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv
         FROM cent GROUP BY label),
q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 1),
routed AS (
  SELECT q_id, qv, cell FROM (
    SELECT q_id, qv, cell, row_number() OVER (ORDER BY qd, cell) AS rn
    FROM (SELECT q.q_id, q.qv, c_label AS cell,
                 round(sqrt(list_sum(list_transform(range(1, 65), i ->
                   (q.qv[i] - cv[i]) * (q.qv[i] - cv[i])))), 6) AS qd
          FROM q CROSS JOIN cvec) y) z
  WHERE rn = 1
), cellv AS (
  SELECT e.vec_id, e.embedding FROM embeddings e
  JOIN routed r ON e.label = r.cell
), mx AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS mx
  FROM cellv
), codes AS (
  SELECT e.vec_id,
         list_transform(e.embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx.mx + 0.5) AS INT))
           AS cd,
         mx.mx / 127.0 AS scale
  FROM cellv e JOIN mx USING (vec_id)
  WHERE mx.mx > 0
), sc AS (
  SELECT r.q_id, codes.vec_id,
         list_sum(list_transform(range(1, 65), i ->
           (r.qv[i] - codes.cd[i] * codes.scale)
           * (r.qv[i] - codes.cd[i] * codes.scale))) AS adc
  FROM codes CROSS JOIN routed r
), rk AS (
  SELECT q_id, vec_id, adc,
         row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rnk
  FROM sc
)
SELECT q_id, vec_id, round(adc, 6) AS adc_r, CAST(rnk AS INT) AS rank
FROM rk WHERE rnk <= 5
"""


@register("similarity_ivfsq8_topk", _IVFSQ8_ORACLE)
def similarity_ivfsq8_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id = 1").select(F.col("vec_id").alias("q_id"),
                                        "embedding")
    return S.ivfsq8_topk(emb, q, k=5)


# --------------------------------------------------------------------------
# Deterministic HyperLogLog: per-source distinct-word estimate from the
# corpus-canonical md5 hash — an AUDITABLE sketch (the oracle replays
# the registers bit-for-bit), unlike approx_count_distinct.
# --------------------------------------------------------------------------
_HLL_AMM = 2904.064
_HLL_ORACLE = f"""
WITH toks AS (SELECT source AS g, unnest({_DWORDS}) AS w FROM documents),
h AS (SELECT g, w,
             CAST(CAST(('0x' || substr(md5(w), 1, 15)) AS UBIGINT)
                  AS BIGINT) AS h
      FROM toks),
rr AS (SELECT g, h % 64 AS j, h // 64 AS rest FROM h),
rho AS (SELECT g, j,
               CASE WHEN rest = 0 THEN 55
                    ELSE length(regexp_extract(reverse(bin(rest)),
                                               '^0*', 0)) + 1 END AS rho
        FROM rr),
regs AS (SELECT g, j, CAST(MAX(rho) AS BIGINT) AS M
         FROM rho GROUP BY g, j),
agg AS (SELECT g, SUM(pow(CAST(2.0 AS DOUBLE), -M)) AS s,
               COUNT(*) AS nreg
        FROM regs GROUP BY g),
est AS (SELECT g, s + (64 - nreg) AS s2,
               CAST(64 - nreg AS BIGINT) AS V
        FROM agg),
fin AS (SELECT g, V, {_HLL_AMM} / s2 AS E FROM est),
hll AS (SELECT g,
               round(CASE WHEN E <= 160.0 AND V > 0
                          THEN 64.0 * ln(64.0 / V) ELSE E END, 6)
                 AS hll_estimate
        FROM fin),
exact AS (SELECT g, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
          FROM toks GROUP BY g)
SELECT exact.g AS source, n_exact, hll_estimate,
       round(abs(hll_estimate - n_exact) / n_exact, 6) AS rel_error_r
FROM exact JOIN hll ON exact.g = hll.g
"""


@register("sketch_hll_distinct_words", _HLL_ORACLE)
def sketch_hll_distinct_words(spark, sf_dir):
    return T.hll_distinct_words(t(spark, sf_dir, "documents"))
