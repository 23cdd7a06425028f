"""LLM training-data curation queries, wave 3 — next-fit sequence
packing, the Gopher quality-rule battery, temperature-flattened mixture
resampling, and product quantization (train / encode / ADC search).

Like waves 1-2 these extend the reference beyond its own operator set
per the brief's LLM-pipeline mandate; every query here carries a full
DuckDB oracle (the packing one replays the sequential packer with a
recursive CTE, the PQ ones replay per-sub-space Lloyd training
unrolled, the same convention as ``similarity_kmeans_fit``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.llm import packing as P
from flink_release_1_10_0_spark.llm import similarity as S
from flink_release_1_10_0_spark.llm import text as T
from flink_release_1_10_0_spark.queries import register
from flink_release_1_10_0_spark.queries.helpers import t
from flink_release_1_10_0_spark.session import scratch_dir

# --------------------------------------------------------------------------
# Next-fit sequence packing (document-boundary-respecting): the Spark
# side packs each source shard in one Arrow pass; the oracle replays
# the identical sequential decision with a recursive CTE over the same
# (md5(id), id) layout order.
# --------------------------------------------------------------------------
_BUDGET = 512

_PACK_NEXT_FIT_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT source AS grp, CAST(0 AS BIGINT) AS bucket, doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), ord AS (
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
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN CAST(0 AS BIGINT) ELSE p.fill END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN o.n_tok ELSE p.fill + o.n_tok END
  FROM pack p JOIN ord o ON o.grp = p.grp AND o.rn = p.rn + 1
)
SELECT grp, bucket, id AS doc_id, n_tok, seq_id, seq_offset FROM pack
"""


@register("pack_sequences_next_fit", _PACK_NEXT_FIT_ORACLE)
def pack_sequences_next_fit(spark, sf_dir):
    plan = P.pack_sequences_next_fit(t(spark, sf_dir, "documents"),
                                     budget=_BUDGET)
    return plan.select("grp", "bucket", F.col("id").alias("doc_id"),
                       "n_tok", "seq_id",
                       F.col("offset").alias("seq_offset"))


_PACK_FILL_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT source AS grp, CAST(0 AS BIGINT) AS bucket, doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), ord AS (
  SELECT grp, bucket, id, n_tok,
         row_number() OVER (PARTITION BY grp ORDER BY h, id) AS rn
  FROM tok
), pack AS (
  SELECT grp, bucket, id, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_id, n_tok AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.bucket, o.id, o.n_tok, o.rn,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN o.n_tok ELSE p.fill + o.n_tok END
  FROM pack p JOIN ord o ON o.grp = p.grp AND o.rn = p.rn + 1
), per_seq AS (
  SELECT grp, bucket, seq_id, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
  FROM pack GROUP BY grp, bucket, seq_id
)
SELECT grp, bucket, COUNT(*) AS n_sequences,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(seq_tokens) AS DOUBLE)
             / (COUNT(*) * {_BUDGET}.0), 6) AS mean_fill_ratio
FROM per_seq GROUP BY grp, bucket
"""


@register("pack_sequences_fill_stats", _PACK_FILL_ORACLE)
def pack_sequences_fill_stats(spark, sf_dir):
    plan = P.pack_sequences_next_fit(t(spark, sf_dir, "documents"),
                                     budget=_BUDGET)
    return P.packing_stats(plan, budget=_BUDGET)


# --------------------------------------------------------------------------
# Gopher quality-rule battery: per-doc boolean flags + keep decision.
# min_words tuned to the corpus (docs are ~20-40 words) so the rule is
# discriminative; the rest are the paper's defaults.
# --------------------------------------------------------------------------
_G_MIN_WORDS = 25
_G_STOP = "['the','be','to','of','and','that','have','with','a','in']"
_G_STOP_DUCK = _G_STOP

_DW = T.DUCK_WORDS.format(c="text")

_GOPHER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, text, {_DW} AS w,
         string_split(text, chr(10)) AS lines
  FROM documents
), rules AS (
  SELECT doc_id,
       len(w) BETWEEN {_G_MIN_WORDS} AND 100000 AS r1,
       list_sum(list_transform(w, x -> len(x)))
         / CAST(len(w) AS DOUBLE) BETWEEN 3.0 AND 10.0 AS r2,
       (len(regexp_extract_all(text, '#'))
        + len(regexp_extract_all(text, '\\.\\.\\.')))
         / CAST(len(w) AS DOUBLE) <= 0.1 AS r3,
       len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*\u2022]')))
         / CAST(len(lines) AS DOUBLE) <= 0.9 AS r4,
       len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$')))
         / CAST(len(lines) AS DOUBLE) <= 0.3 AS r5,
       len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
         / CAST(len(w) AS DOUBLE) >= 0.8 AS r6,
       len(list_intersect(list_distinct(w),
                          {_G_STOP_DUCK})) >= 2 AS r7
  FROM w
)
SELECT doc_id,
       CAST(r1 AS BIGINT) AS rule_word_count,
       CAST(r2 AS BIGINT) AS rule_mean_word_len,
       CAST(r3 AS BIGINT) AS rule_symbol_ratio,
       CAST(r4 AS BIGINT) AS rule_bullet_lines,
       CAST(r5 AS BIGINT) AS rule_ellipsis_lines,
       CAST(r6 AS BIGINT) AS rule_alpha_words,
       CAST(r7 AS BIGINT) AS rule_stopwords,
       CAST(r1 AND r2 AND r3 AND r4 AND r5 AND r6 AND r7 AS BIGINT)
         AS gopher_keep
FROM rules
"""


@register("text_gopher_quality", _GOPHER_ORACLE)
def text_gopher_quality(spark, sf_dir):
    flagged = T.gopher_quality_flags(t(spark, sf_dir, "documents"),
                                     min_words=_G_MIN_WORDS)
    cols = ["rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
            "rule_bullet_lines", "rule_ellipsis_lines", "rule_alpha_words",
            "rule_stopwords", "gopher_keep"]
    return flagged.select(
        "doc_id", *[F.col(c).cast("bigint").alias(c) for c in cols])


# --------------------------------------------------------------------------
# Temperature-flattened mixture resampling (alpha = 0.5): per-source
# keep rates from count^alpha weights, deterministic md5-ppm sampling.
# Output: per-source original vs sampled counts.
# --------------------------------------------------------------------------
_TEMP_ORACLE = """
WITH c AS (
  SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source
), w AS (
  SELECT s, c, round(power(CAST(c AS DOUBLE), 0.5), 6) AS wt FROM c
), tot AS (
  SELECT CAST(SUM(CAST(wt AS DECIMAL(28,12))) AS DOUBLE) AS T,
         CAST(SUM(c) AS BIGINT) AS N
  FROM w
), r AS (
  SELECT s, c,
         LEAST(CAST(1000000 AS BIGINT),
               CAST(FLOOR(1e6 * wt * N / (T * c)) AS BIGINT)) AS rate_ppm
  FROM w CROSS JOIN tot
), kept AS (
  SELECT d.source AS s, COUNT(*) AS n_sampled
  FROM documents d JOIN r ON d.source = r.s
  WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) % 1000000 AS BIGINT) < r.rate_ppm
  GROUP BY d.source
)
SELECT r.s AS source, r.c AS n_orig, r.rate_ppm,
       COALESCE(kept.n_sampled, 0) AS n_sampled
FROM r LEFT JOIN kept ON r.s = kept.s
"""


@register("sample_temperature_mixture", _TEMP_ORACLE)
def sample_temperature_mixture(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    kept = T.sample_temperature(docs, "doc_id", "source", alpha=0.5)
    n_kept = (kept.groupBy("source")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled")))
    base = (docs.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orig")))
    # recompute the rate table the same way sample_temperature does, so
    # the output exposes it for verification
    wts = base.withColumn("__wt", F.round(F.pow(F.col("n_orig").cast("double"),
                                                F.lit(0.5)), 6))
    tot = wts.agg(F.sum(F.col("__wt").cast("decimal(28,12)")).cast("double")
                  .alias("__T"),
                  F.sum("n_orig").cast("bigint").alias("__N"))
    rates = (wts.crossJoin(F.broadcast(tot))
             .withColumn("rate_ppm", F.least(
                 F.lit(1_000_000).cast("bigint"),
                 F.floor(F.lit(1e6) * F.col("__wt") * F.col("__N")
                         / (F.col("__T") * F.col("n_orig"))).cast("bigint")))
             .select("source", "n_orig", "rate_ppm"))
    return (rates.join(n_kept, "source", "left")
            .select("source", "n_orig", "rate_ppm",
                    F.coalesce("n_sampled", F.lit(0)).cast("bigint")
                    .alias("n_sampled")))


# --------------------------------------------------------------------------
# Product quantization: m=4 sub-spaces of 16 dims, k=8 codes, 2 Lloyd
# iterations per sub-space.  The oracle unrolls each sub-space's
# training exactly like the ``similarity_kmeans_fit`` oracle (same
# init / tie-break / DECIMAL-update conventions), generated
# programmatically below; an extra assignment pass against the final
# codebook is the encode step.
# --------------------------------------------------------------------------
_PQ_M, _PQ_K, _PQ_SD, _PQ_ITERS = 4, 8, 16, 2


def _pq_sub_ctes(s: int, src: str = "embeddings") -> tuple[str, str, str]:
    """CTE block for sub-space ``s``: training unroll + the encode
    assignment over relation ``src``.  Returns
    (cte_sql, final_cents_name, encode_asg_name)."""
    a, b = s * _PQ_SD + 1, s * _PQ_SD + _PQ_SD
    rng = f"range(1, {_PQ_SD + 1})"
    ctes = f"""sub{s} AS (
  SELECT vec_id, list_transform(embedding[{a}:{b}], x -> CAST(x AS DOUBLE)) AS sv
  FROM {src}
), init{s} AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid,
         sv AS cvec
  FROM (SELECT vec_id, sv FROM sub{s} ORDER BY vec_id LIMIT {_PQ_K}) q
)"""
    prev = f"init{s}"
    for i in range(_PQ_ITERS + 1):  # last pass = encode (no update after)
        sq = (f"list_sum(list_transform({rng}, i -> "
              f"(e.sv[i] - c.cvec[i]) * (e.sv[i] - c.cvec[i])))")
        ctes += f""", asg{s}_{i} AS (
  SELECT vec_id, sv, cid, sqdist FROM (
    SELECT e.vec_id, e.sv, c.cid, {sq} AS sqdist,
           min(struct_pack(s := {sq}, c := c.cid))
             OVER (PARTITION BY e.vec_id) AS b
    FROM sub{s} e CROSS JOIN {prev} c)
  WHERE sqdist = b.s AND cid = b.c
)"""
        if i < _PQ_ITERS:
            ctes += f""", upd{s}_{i} AS (
  SELECT cid, pos, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*) AS c
  FROM (SELECT cid, generate_subscripts(sv, 1) AS pos,
               unnest(sv) AS v FROM asg{s}_{i}) x
  GROUP BY cid, pos
), cents{s}_{i} AS (
  SELECT cid, list(c ORDER BY pos) AS cvec FROM upd{s}_{i} GROUP BY cid
)"""
            prev = f"cents{s}_{i}"
    return ctes, prev, f"asg{s}_{_PQ_ITERS}"


_PQ_BLOCKS = [_pq_sub_ctes(s) for s in range(_PQ_M)]
_PQ_ALL_CTES = ",\n".join(b[0] for b in _PQ_BLOCKS)

_PQ_CODEBOOK_ORACLE = "WITH " + _PQ_ALL_CTES + "\n" + "\nUNION ALL\n".join(
    f"""SELECT CAST({s} AS INTEGER) AS sub, cid,
       CAST(pos - 1 AS INTEGER) AS pos, round(c, 6) AS c_r
FROM upd{s}_{_PQ_ITERS - 1}"""
    for s in range(_PQ_M))


@register("similarity_pq_codebook", _PQ_CODEBOOK_ORACLE)
def similarity_pq_codebook(spark, sf_dir):
    cb = S.pq_train(t(spark, sf_dir, "embeddings"),
                    m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS)
    return cb.select("sub", "cid",
                     F.posexplode("cvec").alias("pos", "c")) \
             .select("sub", "cid", F.col("pos").cast("int").alias("pos"),
                     F.round("c", 6).alias("c_r"))


_PQ_ENCODE_ORACLE = "WITH " + _PQ_ALL_CTES + """
, enc AS (
""" + "\nUNION ALL\n".join(
    f"  SELECT CAST({s} AS INTEGER) AS sub, cid AS code FROM {_PQ_BLOCKS[s][2]}"
    for s in range(_PQ_M)) + """
)
SELECT sub, code, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM enc GROUP BY sub, code
"""


@register("similarity_pq_encode_hist", _PQ_ENCODE_ORACLE)
def similarity_pq_encode_hist(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    cb = S.pq_train(emb, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS)
    codes = S.pq_encode(emb, cb, m=_PQ_M)
    return (codes.select(F.posexplode("codes").alias("sub", "code"))
            .groupBy(F.col("sub").cast("int").alias("sub"), "code")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs")))


# ADC top-10 vs exact L2 top-10 recall for the 3 smallest query ids.
# The per-(query, vector) ADC distance is the explicit 4-term sum
# d0+d1+d2+d3 (left-to-right, same fold order as the Spark aggregate).
_PQ_SUBDISTS = ",\n".join(
    f"""d{s} AS (
  SELECT q.vec_id AS q_id, a.vec_id,
         list_sum(list_transform(range(1, {_PQ_SD + 1}), i ->
           (q.sv[i] - c.cvec[i]) * (q.sv[i] - c.cvec[i]))) AS d
  FROM {_PQ_BLOCKS[s][2]} a
  JOIN {_PQ_BLOCKS[s][1]} c ON a.cid = c.cid
  CROSS JOIN (SELECT vec_id, sv FROM sub{s} WHERE vec_id < 3) q
)""" for s in range(_PQ_M))

_PQ_RECALL_ORACLE = ("WITH " + _PQ_ALL_CTES + ",\n" + _PQ_SUBDISTS + """
, adc AS (
  SELECT d0.q_id, d0.vec_id, d0.d + d1.d + d2.d + d3.d AS dist
  FROM d0 JOIN d1 ON d0.q_id = d1.q_id AND d0.vec_id = d1.vec_id
          JOIN d2 ON d0.q_id = d2.q_id AND d0.vec_id = d2.vec_id
          JOIN d3 ON d0.q_id = d3.q_id AND d0.vec_id = d3.vec_id
), adc_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
    FROM adc) WHERE rn <= 10
), exact AS (
  SELECT q.vec_id AS q_id, e.vec_id,
         list_sum(list_transform(range(1, 65), i ->
           (CAST(e.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE))
           * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE)))) AS dist
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
), exact_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
    FROM exact) WHERE rn <= 10
)
SELECT a.q_id, CAST(COUNT(x.vec_id) AS BIGINT) AS n_overlap,
       round(COUNT(x.vec_id) / 10.0, 6) AS recall_r
FROM adc_top a LEFT JOIN exact_top x
  ON a.q_id = x.q_id AND a.vec_id = x.vec_id
GROUP BY a.q_id
""")


@register("similarity_pq_topk_recall", _PQ_RECALL_ORACLE)
def similarity_pq_topk_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    cb = S.pq_train(emb, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS)
    codes = S.pq_encode(emb, cb, m=_PQ_M)
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("q_id"),
                                        "embedding")
    adc = S.pq_topk_adc(codes, cb, q, k=10, m=_PQ_M)
    exact = S.exact_l2_topk(emb, q, k=10)
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
# IVFPQ: route the query to its nearest label-centroid cell, ADC-scan
# only that cell's codes.  Non-residual variant (codebooks trained on
# raw vectors) so the training CTEs are shared with the PQ queries.
# --------------------------------------------------------------------------
_IVFPQ_ROUTE = """
, ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v
         FROM embeddings),
cent AS (SELECT label, pos,
                CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
         FROM ex GROUP BY label, pos),
cvec AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv
         FROM cent GROUP BY label),
qv AS (SELECT vec_id AS q_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       FROM embeddings WHERE vec_id = 1),
routed AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, CAST(c_label AS BIGINT) AS cell,
           round(sqrt(list_sum(list_transform(range(1, 65), i ->
             (q.qv[i] - cv[i]) * (q.qv[i] - cv[i])))), 6) AS qd
    FROM cvec CROSS JOIN qv q) s
  ORDER BY qd, cell LIMIT 1),
cell_ids AS (
  SELECT e.vec_id FROM embeddings e JOIN routed r ON e.label = r.cell)
"""

_IVFPQ_SUBDISTS = ",\n".join(
    f"""pd{s} AS (
  SELECT q.vec_id AS q_id, a.vec_id,
         list_sum(list_transform(range(1, {_PQ_SD + 1}), i ->
           (q.sv[i] - c.cvec[i]) * (q.sv[i] - c.cvec[i]))) AS d
  FROM {_PQ_BLOCKS[s][2]} a
  JOIN cell_ids ci ON a.vec_id = ci.vec_id
  JOIN {_PQ_BLOCKS[s][1]} c ON a.cid = c.cid
  CROSS JOIN (SELECT vec_id, sv FROM sub{s} WHERE vec_id = 1) q
)""" for s in range(_PQ_M))

_IVFPQ_ORACLE = ("WITH " + _PQ_ALL_CTES + _IVFPQ_ROUTE + ",\n"
                 + _IVFPQ_SUBDISTS + """
, adc AS (
  SELECT pd0.q_id, pd0.vec_id, pd0.d + pd1.d + pd2.d + pd3.d AS dist
  FROM pd0 JOIN pd1 ON pd0.q_id = pd1.q_id AND pd0.vec_id = pd1.vec_id
           JOIN pd2 ON pd0.q_id = pd2.q_id AND pd0.vec_id = pd2.vec_id
           JOIN pd3 ON pd0.q_id = pd3.q_id AND pd0.vec_id = pd3.vec_id
)
SELECT q_id, vec_id, round(dist, 6) AS adc_r, CAST(rn AS INTEGER) AS rank
FROM (SELECT q_id, vec_id, dist,
             row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
      FROM adc)
WHERE rn <= 5
""")


@register("similarity_ivfpq_topk", _IVFPQ_ORACLE)
def similarity_ivfpq_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    cb = S.pq_train(emb, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS)
    codes = S.pq_encode(emb, cb, m=_PQ_M)
    q = emb.filter("vec_id = 1").select(F.col("vec_id").alias("q_id"),
                                        "embedding")
    return S.ivfpq_topk(emb, codes, cb, q, k=5, m=_PQ_M)


# --------------------------------------------------------------------------
# Bigram-LM perplexity proxy (the KenLM-style quality lever): train
# add-1-smoothed bigram conditionals on the corpus itself, score every
# document by avg -ln p(w2|w1) and its exp (perplexity).  High-ppl docs
# are the incoherent tail every pretraining pipeline trims; the unigram
# variant exists as text_unigram_logprob — the bigram model adds local
# word-order sensitivity.  Plan: two token shuffles (bigram + context
# counts, both uniform keys), one broadcast of the scalar (V), pure SQL.
# --------------------------------------------------------------------------
_BIGRAM_PPL_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
           x -> x <> '') AS ws
  FROM documents
), bg AS (
  SELECT doc_id, unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS b
  FROM w WHERE len(ws) >= 2
), bge AS (
  SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM bg
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bge GROUP BY w1, w2
), tok AS (
  SELECT unnest(ws) AS w FROM w
), c1 AS (
  SELECT w AS w1, COUNT(*) AS c1 FROM tok GROUP BY w
), v AS (
  SELECT COUNT(*) AS v FROM c1
)
SELECT bge.doc_id,
       COUNT(*) AS n_bigrams,
       round(AVG(ln(CAST(c1.c1 + v.v AS DOUBLE))
                 - ln(CAST(c2.c2 + 1 AS DOUBLE))), 6) AS avg_neg_logprob,
       round(exp(AVG(ln(CAST(c1.c1 + v.v AS DOUBLE))
                     - ln(CAST(c2.c2 + 1 AS DOUBLE)))), 6) AS perplexity
FROM bge
JOIN c2 ON bge.w1 = c2.w1 AND bge.w2 = c2.w2
JOIN c1 ON bge.w1 = c1.w1
CROSS JOIN v
GROUP BY bge.doc_id
"""


@register("text_bigram_perplexity", _BIGRAM_PPL_ORACLE)
def text_bigram_perplexity(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import words_expr
    docs = t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.expr(words_expr("text")).alias("ws"))
    bge = (w.filter("size(ws) >= 2")
           .select("doc_id", F.explode(F.expr(
               "transform(sequence(0, size(ws) - 2), i -> "
               "named_struct('w1', element_at(ws, i + 1), "
               "'w2', element_at(ws, i + 2)))")).alias("b"))
           .select("doc_id", F.col("b.w1").alias("w1"),
                   F.col("b.w2").alias("w2")))
    c2 = bge.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    tok = w.select(F.explode("ws").alias("w1"))
    c1 = tok.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = c1.groupBy().agg(F.count(F.lit(1)).alias("v"))
    nlp = (F.log((F.col("c1") + F.col("v")).cast("double"))
           - F.log((F.col("c2") + 1).cast("double")))
    return (bge.join(c2, ["w1", "w2"]).join(c1, "w1")
            .crossJoin(F.broadcast(v))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg(nlp), 6).alias("avg_neg_logprob"),
                 F.round(F.exp(F.avg(nlp)), 6).alias("perplexity")))


# Materialized sequences: the writer-side of the packing plan.  Output
# hashes the concatenated text (md5) so the oracle compares full
# sequence CONTENT without shipping megabyte strings through the
# comparator.
_PACK_MATERIALIZE_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT source AS grp, CAST(0 AS BIGINT) AS bucket, doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), ord AS (
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
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN CAST(0 AS BIGINT) ELSE p.fill END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN o.n_tok ELSE p.fill + o.n_tok END
  FROM pack p JOIN ord o ON o.grp = p.grp AND o.rn = p.rn + 1
)
SELECT p.grp, p.bucket, p.seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       md5(string_agg(d.text, '<|eos|>' ORDER BY p.seq_offset)) AS seq_md5
FROM pack p JOIN documents d ON p.id = d.doc_id
GROUP BY p.grp, p.bucket, p.seq_id
"""


@register("pack_sequences_materialize", _PACK_MATERIALIZE_ORACLE)
def pack_sequences_materialize(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    plan = P.pack_sequences_next_fit(docs, budget=_BUDGET)
    seqs = P.materialize_sequences(plan, docs)
    return seqs.select("grp", "bucket", "seq_id", "n_docs",
                       F.md5("seq_text").alias("seq_md5"))


# --------------------------------------------------------------------------
# End-to-end curation v2: Gopher rule battery -> temperature-flattened
# mixture resample (alpha=0.5 over the SURVIVORS' source counts) ->
# next-fit sequence packing of what remains.  The composition query for
# the wave-3 ops — one pipeline a pretraining data job would actually
# run, oracle-replayed end to end (rules as predicates, rates from the
# filtered counts, recursive-CTE packing over the sampled survivors).
# --------------------------------------------------------------------------
_CURATION_V2_ORACLE = f"""
WITH RECURSIVE w AS (
  SELECT doc_id, source, text, {_DW} AS w
  FROM documents
), kept AS (
  SELECT doc_id, source, text FROM w
  WHERE len(w) BETWEEN {_G_MIN_WORDS} AND 100000
    AND list_sum(list_transform(w, x -> len(x)))
          / CAST(len(w) AS DOUBLE) BETWEEN 3.0 AND 10.0
    AND (len(regexp_extract_all(text, '#'))
         + len(regexp_extract_all(text, '\\.\\.\\.')))
          / CAST(len(w) AS DOUBLE) <= 0.1
    AND len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
          / CAST(len(w) AS DOUBLE) >= 0.8
    AND len(list_intersect(list_distinct(w), {_G_STOP_DUCK})) >= 2
), c AS (
  SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS c FROM kept GROUP BY source
), wt AS (
  SELECT s, c, round(power(CAST(c AS DOUBLE), 0.5), 6) AS wt FROM c
), tot AS (
  SELECT CAST(SUM(CAST(wt AS DECIMAL(28,12))) AS DOUBLE) AS T,
         CAST(SUM(c) AS BIGINT) AS N
  FROM wt
), r AS (
  SELECT s, LEAST(CAST(1000000 AS BIGINT),
                  CAST(FLOOR(1e6 * wt * N / (T * c)) AS BIGINT)) AS rate_ppm
  FROM wt CROSS JOIN tot
), sampled AS (
  SELECT k.doc_id, k.source, k.text
  FROM kept k JOIN r ON k.source = r.s
  WHERE CAST(CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) % 1000000 AS BIGINT) < r.rate_ppm
), tok AS (
  SELECT source AS grp, CAST(0 AS BIGINT) AS bucket, doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM sampled
), ord AS (
  SELECT grp, bucket, id, n_tok,
         row_number() OVER (PARTITION BY grp ORDER BY h, id) AS rn
  FROM tok
), pack AS (
  SELECT grp, bucket, id, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_id, n_tok AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.bucket, o.id, o.n_tok, o.rn,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN o.n_tok ELSE p.fill + o.n_tok END
  FROM pack p JOIN ord o ON o.grp = p.grp AND o.rn = p.rn + 1
), per_seq AS (
  SELECT grp, bucket, seq_id, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
  FROM pack GROUP BY grp, bucket, seq_id
)
SELECT grp, bucket, COUNT(*) AS n_sequences,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(seq_tokens) AS DOUBLE)
             / (COUNT(*) * {_BUDGET}.0), 6) AS mean_fill_ratio
FROM per_seq GROUP BY grp, bucket
"""


@register("pipeline_curation_pack_v2", _CURATION_V2_ORACLE)
def pipeline_curation_pack_v2(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    kept = (T.gopher_quality_flags(docs, min_words=_G_MIN_WORDS)
            .filter("rule_word_count AND rule_mean_word_len AND "
                    "rule_symbol_ratio AND rule_alpha_words AND "
                    "rule_stopwords")
            .select("doc_id", "source", "text"))
    sampled = T.sample_temperature(kept, "doc_id", "source", alpha=0.5)
    plan = P.pack_sequences_next_fit(sampled, budget=_BUDGET)
    return P.packing_stats(plan, budget=_BUDGET)


# Persisted IVFPQ index round-trip: write the partitioned codes + the
# two sidecars, search through the artifact — values identical to the
# in-memory plan, so the SAME oracle gates it (storage transparency is
# exactly the claim).
@register("similarity_pq_index_topk", _IVFPQ_ORACLE)
def similarity_pq_index_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    cb = S.pq_train(emb, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS)
    codes = S.pq_encode(emb, cb, m=_PQ_M)
    path = scratch_dir(spark, "pq_index_q")
    S.write_pq_index(emb, codes, cb, path)
    q = emb.filter("vec_id = 1").select(F.col("vec_id").alias("q_id"),
                                        "embedding")
    return S.ivfpq_topk_indexed(spark, path, q, k=5, m=_PQ_M)


# Bucketed packing: the 100 TB parallelism lever exercised end to end —
# 4 shards per source via the engine-portable md5 bucket, sequences
# never cross shards, the oracle replays each (grp, bucket) stream
# independently.
_PACK_BUCKETED_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT source AS grp,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS UBIGINT) % 4 AS BIGINT) AS bucket,
         doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), ord AS (
  SELECT grp, bucket, id, n_tok,
         row_number() OVER (PARTITION BY grp, bucket ORDER BY h, id) AS rn
  FROM tok
), pack AS (
  SELECT grp, bucket, id, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
         n_tok AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.bucket, o.id, o.n_tok, o.rn,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN CAST(0 AS BIGINT) ELSE p.fill END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN o.n_tok ELSE p.fill + o.n_tok END
  FROM pack p JOIN ord o
    ON o.grp = p.grp AND o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT grp, bucket, id AS doc_id, n_tok, seq_id, seq_offset FROM pack
"""


@register("pack_sequences_bucketed", _PACK_BUCKETED_ORACLE)
def pack_sequences_bucketed(spark, sf_dir):
    plan = P.pack_sequences_next_fit(t(spark, sf_dir, "documents"),
                                     budget=_BUDGET, n_buckets=4,
                                     bucket_hash="md5")
    return plan.select("grp", "bucket", F.col("id").alias("doc_id"),
                       "n_tok", "seq_id",
                       F.col("offset").alias("seq_offset"))
