"""LLM training-data curation queries, wave 4 — sparse lexical IR
(TF-IDF cosine pairs over an inverted-index join, BM25 ranked
retrieval) and best-fit-decreasing sequence packing.

Like waves 1-3 these extend the reference beyond its own operator set
per the brief's LLM-pipeline mandate; every query carries a full DuckDB
oracle (the BFD packer is replayed with a recursive CTE that carries
the OPEN-BIN FILL LIST as a column — the bin-choice rule, tightest bin
then lowest index, is decided by pure list functions both engines
agree on).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.llm import ir as IR
from flink_release_1_10_0_spark.llm import packing as P
from flink_release_1_10_0_spark.queries import register
from flink_release_1_10_0_spark.queries.helpers import t
from flink_release_1_10_0_spark.session import scratch_dir
from flink_release_1_10_0_spark.queries.llm import _DWORDS

# --------------------------------------------------------------------------
# TF-IDF cosine pairs: quantized weights (floor(tf*idf*1e6) BIGINT) make
# every SUM order-independent; the oracle recomputes tf/df/idf/weights
# from the same tokenization and replays the inverted-index join.  The
# id_limit fence is the documented quadratic-yardstick contract (this
# corpus has a 31-word vocabulary — every term is a stop word, so there
# is no sparse structure; see llm/ir.py's scale-posture note).
# --------------------------------------------------------------------------
_TFIDF_PAIRS_ORACLE = f"""
WITH d AS (SELECT doc_id AS id, {_DWORDS} AS ws FROM documents
           WHERE doc_id < 200),
nn AS (SELECT count(*) AS n FROM d),
tf AS (SELECT id, word, count(*) AS tf
       FROM (SELECT id, unnest(ws) AS word FROM d) x GROUP BY id, word),
dfq AS (SELECT word, count(*) AS df_t FROM tf GROUP BY word),
w AS (SELECT id, tf.word, tf, df_t,
             CAST(FLOOR(tf * (ln((nn.n + 1) / (df_t + 1)) + 1) * 1000000)
                  AS BIGINT) AS wq
      FROM tf JOIN dfq USING (word) CROSS JOIN nn),
norms AS (SELECT id, CAST(SUM(CAST(wq * wq AS DECIMAL(38,0))) AS DOUBLE)
                 AS n2
          FROM w GROUP BY id),
dots AS (SELECT a.id AS id_a, b.id AS id_b,
                CAST(SUM(CAST(a.wq * b.wq AS DECIMAL(38,0))) AS DOUBLE)
                AS dot
         FROM (SELECT * FROM w WHERE df_t >= 2) a
         JOIN (SELECT * FROM w WHERE df_t >= 2) b
           ON a.word = b.word AND a.id < b.id
         GROUP BY a.id, b.id)
SELECT id_a, id_b,
       round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
FROM dots
JOIN norms na ON na.id = id_a
JOIN norms nb ON nb.id = id_b
WHERE round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= 0.5
"""


@register("ir_tfidf_cosine_pairs", _TFIDF_PAIRS_ORACLE)
def ir_tfidf_cosine_pairs(spark, sf_dir):
    return (IR.tfidf_cosine_pairs(t(spark, sf_dir, "documents"),
                                  threshold=0.5, id_limit=200)
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    "cosine"))


# --------------------------------------------------------------------------
# BM25 retrieval: the decontamination-audit shape (which training docs
# best match a query).  avgdl/N are scalar stats both engines derive
# from the same integers; per-term components are DECIMAL(28,12)-cast
# before the per-doc SUM.
# --------------------------------------------------------------------------
_BM25_TERMS = ["spark", "window", "merge"]
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_ORACLE = f"""
WITH d AS (SELECT doc_id AS id, {_DWORDS} AS ws FROM documents),
st AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM d),
tok AS (SELECT id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS word
        FROM d),
tf AS (SELECT id, word, count(*) AS tf, min(dl) AS dl FROM tok
       WHERE word IN ({", ".join("'" + w + "'" for w in _BM25_TERMS)})
       GROUP BY id, word),
dfq AS (SELECT word, count(*) AS df_t FROM tf GROUP BY word),
comp AS (SELECT id,
                CAST(ln(1 + (st.n - df_t + 0.5) / (df_t + 0.5))
                     * tf * ({_BM25_K1} + 1)
                     / (tf + {_BM25_K1} * (1 - {_BM25_B}
                                           + {_BM25_B} * dl / st.avgdl))
                     AS DECIMAL(28,12)) AS c
         FROM tf JOIN dfq USING (word) CROSS JOIN st),
scored AS (SELECT id, round(CAST(SUM(c) AS DOUBLE), 6) AS score_r
           FROM comp GROUP BY id)
SELECT id, score_r,
       CAST(row_number() OVER (ORDER BY score_r DESC, id) AS INTEGER)
       AS rank
FROM scored ORDER BY score_r DESC, id LIMIT 10
"""


@register("ir_bm25_topk", _BM25_ORACLE)
def ir_bm25_topk(spark, sf_dir):
    return IR.bm25_topk(t(spark, sf_dir, "documents"), _BM25_TERMS,
                        k=10, k1=_BM25_K1, b=_BM25_B)


# --------------------------------------------------------------------------
# Best-fit-decreasing packing: docs sorted by (n_tok DESC, h, id), each
# placed into the TIGHTEST open bin that fits (lowest index on ties),
# else a new bin.  The oracle's recursive CTE carries the open-bin fill
# list as a LIST column: the fitting bins are a list_filter, the chosen
# fill is list_max of that, its index list_position (first occurrence =
# lowest index — the exact Spark-side tie-break), the update a
# list_transform rebuild or list_append.
# --------------------------------------------------------------------------
_BUDGET = 512

_PACK_BFD_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT source AS grp, CAST(0 AS BIGINT) AS bucket, doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), ord AS (
  SELECT grp, bucket, id, n_tok,
         row_number() OVER (PARTITION BY grp, bucket
                            ORDER BY n_tok DESC, h, id) AS rn
  FROM tok
), pack AS (
  SELECT grp, bucket, id, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
         [n_tok] AS fills
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.bucket, o.id, o.n_tok, o.rn,
         CASE WHEN fit.bf IS NULL THEN CAST(len(p.fills) AS BIGINT)
              ELSE CAST(list_position(p.fills, fit.bf) - 1 AS BIGINT) END,
         CASE WHEN fit.bf IS NULL THEN CAST(0 AS BIGINT) ELSE fit.bf END,
         CASE WHEN fit.bf IS NULL THEN list_append(p.fills, o.n_tok)
              ELSE list_transform(
                     range(1, CAST(len(p.fills) AS BIGINT) + 1),
                     i -> CASE WHEN i = list_position(p.fills, fit.bf)
                               THEN p.fills[i] + o.n_tok
                               ELSE p.fills[i] END) END
  FROM pack p JOIN ord o
    ON o.grp = p.grp AND o.bucket = p.bucket AND o.rn = p.rn + 1,
  LATERAL (SELECT list_max(list_filter(p.fills,
                                       x -> x + o.n_tok <= {_BUDGET}))
           AS bf) fit
)
SELECT grp, bucket, id AS doc_id, n_tok, seq_id, seq_offset FROM pack
"""


@register("pack_sequences_best_fit", _PACK_BFD_ORACLE)
def pack_sequences_best_fit(spark, sf_dir):
    plan = P.pack_sequences_best_fit(t(spark, sf_dir, "documents"),
                                     budget=_BUDGET, n_buckets=1)
    return plan.select("grp", "bucket", F.col("id").alias("doc_id"),
                       "n_tok", "seq_id",
                       F.col("offset").alias("seq_offset"))


# Fill-ratio comparison: the packing metric BFD exists to improve.  One
# row per (grp, strategy) — next-fit vs best-fit-decreasing over the
# SAME corpus and budget, so the gain is directly readable.
_PACK_COMPARE_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT source AS grp, CAST(0 AS BIGINT) AS bucket, doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), ordn AS (
  SELECT grp, bucket, id, n_tok,
         row_number() OVER (PARTITION BY grp, bucket ORDER BY h, id) AS rn
  FROM tok
), packn AS (
  SELECT grp, bucket, id, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_id, n_tok AS fill
  FROM ordn WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.bucket, o.id, o.n_tok, o.rn,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + o.n_tok > {_BUDGET}
              THEN o.n_tok ELSE p.fill + o.n_tok END
  FROM packn p JOIN ordn o
    ON o.grp = p.grp AND o.bucket = p.bucket AND o.rn = p.rn + 1
), ordb AS (
  SELECT grp, bucket, id, n_tok,
         row_number() OVER (PARTITION BY grp, bucket
                            ORDER BY n_tok DESC, h, id) AS rn
  FROM tok
), packb AS (
  SELECT grp, bucket, id, n_tok, rn,
         CAST(0 AS BIGINT) AS seq_id, [n_tok] AS fills
  FROM ordb WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.bucket, o.id, o.n_tok, o.rn,
         CASE WHEN fit.bf IS NULL THEN CAST(len(p.fills) AS BIGINT)
              ELSE CAST(list_position(p.fills, fit.bf) - 1 AS BIGINT) END,
         CASE WHEN fit.bf IS NULL THEN list_append(p.fills, o.n_tok)
              ELSE list_transform(
                     range(1, CAST(len(p.fills) AS BIGINT) + 1),
                     i -> CASE WHEN i = list_position(p.fills, fit.bf)
                               THEN p.fills[i] + o.n_tok
                               ELSE p.fills[i] END) END
  FROM packb p JOIN ordb o
    ON o.grp = p.grp AND o.bucket = p.bucket AND o.rn = p.rn + 1,
  LATERAL (SELECT list_max(list_filter(p.fills,
                                       x -> x + o.n_tok <= {_BUDGET}))
           AS bf) fit
), stats AS (
  SELECT 'next_fit' AS strategy, grp, seq_id,
         CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
  FROM packn GROUP BY grp, seq_id
  UNION ALL
  SELECT 'best_fit_decreasing', grp, seq_id, CAST(SUM(n_tok) AS BIGINT)
  FROM packb GROUP BY grp, seq_id
)
SELECT strategy, grp, COUNT(*) AS n_sequences,
       ROUND(AVG(CAST(seq_tokens AS DOUBLE) / {_BUDGET}.0), 6)
       AS mean_fill_ratio
FROM stats GROUP BY strategy, grp
"""


@register("pack_fill_next_vs_best_fit", _PACK_COMPARE_ORACLE)
def pack_fill_next_vs_best_fit(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    nf = (P.pack_sequences_next_fit(docs, budget=_BUDGET, n_buckets=1)
          .withColumn("strategy", F.lit("next_fit")))
    bf = (P.pack_sequences_best_fit(docs, budget=_BUDGET, n_buckets=1)
          .withColumn("strategy", F.lit("best_fit_decreasing")))
    both = nf.unionByName(bf)
    per_seq = (both.groupBy("strategy", "grp", "seq_id")
               .agg(F.sum("n_tok").alias("seq_tokens")))
    return (per_seq.groupBy("strategy", "grp")
            .agg(F.count(F.lit(1)).alias("n_sequences"),
                 F.round(F.avg(F.col("seq_tokens").cast("double")
                               / F.lit(float(_BUDGET))), 6)
                 .alias("mean_fill_ratio")))


# --------------------------------------------------------------------------
# PQ index APPEND (the ANN mirror of the incremental-dedup contracts):
# a base IVFPQ index is built on the OLD corpus slice, the NEW batch is
# encoded with the persisted codebooks + routed to the persisted
# centroids and appended, then a probe searches the artifact.  The
# oracle trains the codebooks on old_pq only, assigns the batch's
# sub-slices against the FINAL centroids (the persisted-codebook
# replay), routes batch rows by the same rounded-distance/lowest-cell
# rule, and ADC-scans the routed cell over old + appended rows.
# --------------------------------------------------------------------------
from flink_release_1_10_0_spark.llm import similarity as S  # noqa: E402
from flink_release_1_10_0_spark.queries.llm3 import (  # noqa: E402
    _PQ_ITERS, _PQ_K, _PQ_M, _PQ_SD, _pq_sub_ctes)

_APQ_BLOCKS = [_pq_sub_ctes(s, src="old_pq") for s in range(_PQ_M)]

_APQ_HEAD = """old_pq AS (SELECT * FROM embeddings WHERE vec_id % 17 <> 0),
new_pq AS (SELECT * FROM embeddings WHERE vec_id % 17 = 0),
"""


def _apq_new_encode(s: int) -> str:
    a = s * _PQ_SD + 1
    b = a + _PQ_SD - 1
    rng = f"range(1, {_PQ_SD + 1})"
    sq = (f"list_sum(list_transform({rng}, i -> "
          f"(e.sv[i] - c.cvec[i]) * (e.sv[i] - c.cvec[i])))")
    return f"""nsub{s} AS (
  SELECT vec_id,
         list_transform(embedding[{a}:{b}], x -> CAST(x AS DOUBLE)) AS sv
  FROM new_pq
), nasg{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid, {sq} AS sqdist,
           min(struct_pack(s := {sq}, c := c.cid))
             OVER (PARTITION BY e.vec_id) AS b
    FROM nsub{s} e CROSS JOIN {_APQ_BLOCKS[s][1]} c)
  WHERE sqdist = b.s AND cid = b.c
), allcode{s} AS (
  SELECT vec_id, cid FROM {_APQ_BLOCKS[s][2]}
  UNION ALL
  SELECT vec_id, cid FROM nasg{s}
)"""


_APQ_QD = ("round(sqrt(list_sum(list_transform(range(1, 65), i -> "
           "(n.nv[i] - c.cv[i]) * (n.nv[i] - c.cv[i])))), 6)")

_APQ_ROUTE = f"""
, ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v
         FROM old_pq),
cent AS (SELECT label, pos,
                CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
         FROM ex GROUP BY label, pos),
cvec AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv
         FROM cent GROUP BY label),
qvq AS (SELECT vec_id AS q_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
        FROM embeddings WHERE vec_id = 1),
routed AS (
  SELECT q_id, cell FROM (
    SELECT n.q_id, CAST(c.c_label AS BIGINT) AS cell, {_APQ_QD} AS qd
    FROM cvec c CROSS JOIN qvq n) s
  ORDER BY qd, cell LIMIT 1),
nq AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
       FROM new_pq),
nrouted AS (
  SELECT vec_id, cell FROM (
    SELECT n.vec_id, CAST(c.c_label AS BIGINT) AS cell, {_APQ_QD} AS qd,
           min(struct_pack(s := {_APQ_QD},
                           c := CAST(c.c_label AS BIGINT)))
             OVER (PARTITION BY n.vec_id) AS b
    FROM nq n CROSS JOIN cvec c)
  WHERE qd = b.s AND cell = b.c),
cell_ids AS (
  SELECT e.vec_id FROM old_pq e JOIN routed r ON e.label = r.cell
  UNION ALL
  SELECT n.vec_id FROM nrouted n JOIN routed r ON n.cell = r.cell)
"""

_APQ_SUBDISTS = ",\n".join(
    f"""apd{s} AS (
  SELECT q.vec_id AS q_id, a.vec_id,
         list_sum(list_transform(range(1, {_PQ_SD + 1}), i ->
           (q.sv[i] - c.cvec[i]) * (q.sv[i] - c.cvec[i]))) AS d
  FROM allcode{s} a
  JOIN cell_ids ci ON a.vec_id = ci.vec_id
  JOIN {_APQ_BLOCKS[s][1]} c ON a.cid = c.cid
  CROSS JOIN (SELECT vec_id, sv FROM sub{s} WHERE vec_id = 1) q
)""" for s in range(_PQ_M))

_PQ_APPEND_ORACLE = (
    "WITH " + _APQ_HEAD
    + ",\n".join(b[0] for b in _APQ_BLOCKS) + ",\n"
    + ",\n".join(_apq_new_encode(s) for s in range(_PQ_M))
    + _APQ_ROUTE + ",\n" + _APQ_SUBDISTS + """
, adc AS (
  SELECT apd0.q_id, apd0.vec_id, apd0.d + apd1.d + apd2.d + apd3.d AS dist
  FROM apd0 JOIN apd1 ON apd0.q_id = apd1.q_id AND apd0.vec_id = apd1.vec_id
            JOIN apd2 ON apd0.q_id = apd2.q_id AND apd0.vec_id = apd2.vec_id
            JOIN apd3 ON apd0.q_id = apd3.q_id AND apd0.vec_id = apd3.vec_id
)
SELECT q_id, vec_id, round(dist, 6) AS adc_r, CAST(rn AS INTEGER) AS rank
FROM (SELECT q_id, vec_id, dist,
             row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
      FROM adc)
WHERE rn <= 5
""")


@register("similarity_pq_index_append", _PQ_APPEND_ORACLE)
def similarity_pq_index_append(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    old = emb.filter("vec_id % 17 <> 0")
    new = emb.filter("vec_id % 17 = 0")
    cb = S.pq_train(old, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS)
    codes = S.pq_encode(old, cb, m=_PQ_M)
    path = scratch_dir(spark, "pq_index_append_q")
    S.write_pq_index(old, codes, cb, path)
    S.pq_append_to_index(spark, path, new, m=_PQ_M)
    q = emb.filter("vec_id = 1").select(F.col("vec_id").alias("q_id"),
                                        "embedding")
    return S.ivfpq_topk_indexed(spark, path, q, k=5, m=_PQ_M)


# --------------------------------------------------------------------------
# nprobe>1 on the persisted IVFPQ index: the recall knob — scan the TWO
# nearest cells.  The oracle is llm3's indexed-search replay with the
# routing LIMIT raised; everything else (training CTEs, per-sub ADC
# joins, top-5 rank) is shared verbatim, so the two plans can never
# drift apart semantically.
# --------------------------------------------------------------------------
from flink_release_1_10_0_spark.queries.llm3 import (  # noqa: E402
    _IVFPQ_ROUTE, _IVFPQ_SUBDISTS, _PQ_ALL_CTES)

_IVFPQ_NPROBE2_ORACLE = ("WITH " + _PQ_ALL_CTES
                         + _IVFPQ_ROUTE.replace("LIMIT 1", "LIMIT 2")
                         + ",\n" + _IVFPQ_SUBDISTS + """
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


@register("similarity_pq_index_nprobe2", _IVFPQ_NPROBE2_ORACLE)
def similarity_pq_index_nprobe2(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    cb = S.pq_train(emb, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS)
    codes = S.pq_encode(emb, cb, m=_PQ_M)
    path = scratch_dir(spark, "pq_index_np2_q")
    S.write_pq_index(emb, codes, cb, path)
    q = emb.filter("vec_id = 1").select(F.col("vec_id").alias("q_id"),
                                        "embedding")
    return S.ivfpq_topk_indexed(spark, path, q, k=5, m=_PQ_M, nprobe=2)


# --------------------------------------------------------------------------
# The TF-IDF weight table ARTIFACT itself (the reader/writer contract
# the cosine path builds on): quantized weights re-derived independently
# in DuckDB — the same artifact-gating convention as dedup_minhash_index.
# --------------------------------------------------------------------------
_TFIDF_WEIGHTS_ORACLE = f"""
WITH d AS (SELECT doc_id AS id, {_DWORDS} AS ws FROM documents
           WHERE doc_id < 200),
nn AS (SELECT count(*) AS n FROM d),
tf AS (SELECT id, word, count(*) AS tf
       FROM (SELECT id, unnest(ws) AS word FROM d) x GROUP BY id, word),
dfq AS (SELECT word, count(*) AS df_t FROM tf GROUP BY word)
SELECT id, tf.word, tf, df_t,
       CAST(FLOOR(tf * (ln((nn.n + 1) / (df_t + 1)) + 1) * 1000000)
            AS BIGINT) AS wq
FROM tf JOIN dfq USING (word) CROSS JOIN nn
"""


@register("ir_tfidf_weights", _TFIDF_WEIGHTS_ORACLE)
def ir_tfidf_weights(spark, sf_dir):
    return IR.tfidf_weights(
        t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))


# --------------------------------------------------------------------------
# Batched BM25 (the production decontamination audit): three "eval
# question" queries derived deterministically from the corpus (the
# three smallest doc_ids' first three words), every query retrieving
# its top-5 in ONE job.  The oracle replays the same per-query idf/tf
# components and ranks with a per-query window.
# --------------------------------------------------------------------------
_BM25_BATCH_ORACLE = f"""
WITH d AS (SELECT doc_id AS id, {_DWORDS} AS ws FROM documents),
q AS (SELECT id AS q_id, ws[1:3] AS terms FROM d WHERE id < 3),
qt AS (SELECT DISTINCT q_id, unnest(terms) AS word FROM q),
vocab AS (SELECT DISTINCT word FROM qt),
st AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM d),
tok AS (SELECT id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS word
        FROM d),
tf AS (SELECT id, word, count(*) AS tf, min(dl) AS dl
       FROM tok JOIN vocab USING (word) GROUP BY id, word),
dfq AS (SELECT word, count(*) AS df_t FROM tf GROUP BY word),
comp AS (SELECT qt.q_id, tf.id,
                CAST(ln(1 + (st.n - df_t + 0.5) / (df_t + 0.5))
                     * tf * ({_BM25_K1} + 1)
                     / (tf + {_BM25_K1} * (1 - {_BM25_B}
                                           + {_BM25_B} * dl / st.avgdl))
                     AS DECIMAL(28,12)) AS c
         FROM tf JOIN dfq USING (word) JOIN qt USING (word)
         CROSS JOIN st),
scored AS (SELECT q_id, id, round(CAST(SUM(c) AS DOUBLE), 6) AS score_r
           FROM comp GROUP BY q_id, id)
SELECT q_id, id, score_r, CAST(rn AS INTEGER) AS rank
FROM (SELECT q_id, id, score_r,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score_r DESC, id) AS rn
      FROM scored)
WHERE rn <= 5
"""


@register("ir_bm25_topk_batch", _BM25_BATCH_ORACLE)
def ir_bm25_topk_batch(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import words_expr
    docs = t(spark, sf_dir, "documents")
    q = (docs.filter(F.col("doc_id") < 3)
         .select(F.col("doc_id").alias("q_id"),
                 F.expr(f"slice({words_expr('text')}, 1, 3)")
                 .alias("terms")))
    return IR.bm25_topk_batch(docs, q, k=5, k1=_BM25_K1, b=_BM25_B)
