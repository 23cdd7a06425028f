"""LLM training-data pipeline queries over documents/embeddings
(driver mandate in BASELINE.json §north_star).

The DuckDB oracles replicate the exact same md5-based hashing and
tokenization, so results hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.llm import dedup as D
from flink_release_1_10_0_spark.llm import similarity as S
from flink_release_1_10_0_spark.llm.multimodal import extract_fake_metadata, with_binary_payload
from flink_release_1_10_0_spark.llm.text import language_id_expr, with_text_stats
from flink_release_1_10_0_spark.queries import register
from flink_release_1_10_0_spark.queries.helpers import t
from flink_release_1_10_0_spark.session import scratch_dir

# DuckDB-side shared fragments (tokenizer + 60-bit md5 hash)
_DWORDS = ("list_filter(string_split_regex(regexp_replace(lower(text), "
           "'[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')")


def _dhash64(s: str) -> str:
    return f"CAST(CAST(('0x' || substr(md5({s}), 1, 15)) AS UBIGINT) AS BIGINT)"


# --------------------------------------------------------------------------
# Text quality scoring
# --------------------------------------------------------------------------
_TEXT_STATS_ORACLE = f"""
WITH w AS (SELECT doc_id, {_DWORDS} AS words, CAST(length(text) AS BIGINT) AS n_chars_calc
           FROM documents)
SELECT doc_id, n_chars_calc,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
       round(CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
             / CAST(len(words) AS DOUBLE), 6) AS avg_word_len,
       round(CAST(len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
             / CAST(len(words) AS DOUBLE), 6) AS stopword_ratio,
       round(CAST(len(list_filter(words, x -> regexp_matches(x, '^[0-9]+$'))) AS DOUBLE)
             / CAST(len(words) AS DOUBLE), 6) AS digit_ratio,
       round(CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE), 6) AS distinct_ratio
FROM w
"""


@register("text_quality_stats", _TEXT_STATS_ORACLE)
def text_quality_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return with_text_stats(docs).select(
        "doc_id", "n_chars_calc", "n_words", "n_distinct_words",
        "avg_word_len", "stopword_ratio", "digit_ratio", "distinct_ratio")


# --------------------------------------------------------------------------
# Token counting: whitespace + BPE-ish regex segmentation
# --------------------------------------------------------------------------
_TOKENS_ORACLE = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_ish_tokens
FROM documents
"""


@register("text_token_count", _TOKENS_ORACLE)
def text_token_count(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(r"cast(size(filter(split(text, '\\s+'), x -> x != '')) as bigint)")
         .alias("ws_tokens"),
        F.expr(r"cast(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) as bigint)")
         .alias("bpe_ish_tokens"))


# --------------------------------------------------------------------------
# Language ID heuristic
# --------------------------------------------------------------------------
_LANG_ORACLE = f"""
WITH w AS (SELECT doc_id, lang, {_DWORDS} AS words FROM documents),
s AS (SELECT doc_id, lang,
        len(list_filter(words, x -> x IN ('the','a','of','and','to','is'))) AS en,
        len(list_filter(words, x -> x IN ('der','die','das','und','ist'))) AS de,
        len(list_filter(words, x -> x IN ('le','la','les','et','est'))) AS fr
      FROM w)
SELECT doc_id, lang,
       CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
            WHEN de >= fr AND de > 0 THEN 'de'
            WHEN fr > 0 THEN 'fr' ELSE 'unknown' END AS predicted_lang
FROM s
"""


@register("text_language_id", _LANG_ORACLE)
def text_language_id(spark, sf_dir):
    docs = D.with_words(t(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", language_id_expr().alias("predicted_lang"))


# --------------------------------------------------------------------------
# Document fingerprinting (md5 + min-word-hash winnowing-lite)
# --------------------------------------------------------------------------
_FPRINT_ORACLE = f"""
WITH w AS (SELECT doc_id, text, {_DWORDS} AS words FROM documents)
SELECT doc_id,
       md5(text) AS md5_fingerprint,
       md5(array_to_string(list_sort(list_distinct(words)), ' ')) AS wordset_fingerprint,
       list_min(list_transform(list_distinct(words), w -> {_dhash64('w')})) AS min_word_hash
FROM w
"""


@register("doc_fingerprint", _FPRINT_ORACLE)
def doc_fingerprint(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import hash64_expr
    docs = D.with_words(t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_fingerprint"),
        F.expr("md5(concat_ws(' ', array_sort(array_distinct(words))))")
         .alias("wordset_fingerprint"),
        F.expr(f"array_min(transform(array_distinct(words), w -> {hash64_expr('w')}))")
         .alias("min_word_hash"))


# --------------------------------------------------------------------------
# Exact + word-set dedup
# --------------------------------------------------------------------------
_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS fingerprint, min(doc_id) AS rep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


@register("dedup_exact_md5", _EXACT_DEDUP_ORACLE)
def dedup_exact_md5(spark, sf_dir):
    return D.exact_dedup_groups(t(spark, sf_dir, "documents"), "doc_id")


_WORDSET_DEDUP_ORACLE = f"""
WITH w AS (SELECT doc_id, {_DWORDS} AS words FROM documents)
SELECT md5(array_to_string(list_sort(list_distinct(words)), ' ')) AS fingerprint,
       min(doc_id) AS rep_id, count(*) AS n_dups
FROM w GROUP BY 1
"""


@register("dedup_wordset_groups", _WORDSET_DEDUP_ORACLE)
def dedup_wordset_groups(spark, sf_dir):
    return D.wordset_dedup_groups(t(spark, sf_dir, "documents"), "doc_id")


# --------------------------------------------------------------------------
# MinHash signatures + LSH near-dup pairs
# --------------------------------------------------------------------------
_K = 8
_BAND_ROWS = 4  # LSH s-curve midpoint t ~ (1/bands)^(1/rows) ~ 0.84 for t=0.8

# md5-path signature format v2 (matches llm/dedup._sig_exprs): one
# digest per word split into (h1, h2) then four ~30-bit lanes;
# permutation i is (sum_j c_{i,j} * u_j) mod p over p = 2^31-1 with
# the SAME constants the engine uses (imported — lockstep by
# construction)
from flink_release_1_10_0_spark.llm.dedup import _PERM_C, _PERM_P

_H1 = "CAST(CAST(('0x' || substr(md5(w), 1, 15)) AS UBIGINT) AS BIGINT)"
_H2 = "CAST(CAST(('0x' || substr(md5(w), 17, 14)) AS UBIGINT) AS BIGINT)"
_DUCK_LANES = [f"({_H1} % 1073741824)", f"({_H1} // 1073741824)",
               f"({_H2} % 268435456)", f"({_H2} // 268435456)"]
_sig_cols_duck = ",\n       ".join(
    "list_min(list_transform(ws, w -> ("
    + " + ".join(f"({_PERM_C[4 * i + j]} * {_DUCK_LANES[j]}) % {_PERM_P}"
                 for j in range(4))
    + f") % {_PERM_P})) AS m{i}"
    for i in range(_K))

_MINHASH_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents)
SELECT doc_id,
       {_sig_cols_duck}
FROM w
"""


@register("minhash_signatures", _MINHASH_ORACLE)
def minhash_signatures_q(spark, sf_dir):
    return D.minhash_signatures(t(spark, sf_dir, "documents"), "doc_id", k=_K)


_band_selects = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band, md5({cols}) AS key FROM sig".format(
        b=b,
        cols=" || '_' || ".join(f"CAST(m{b * _BAND_ROWS + r} AS VARCHAR)"
                                for r in range(_BAND_ROWS)))
    for b in range(_K // _BAND_ROWS))

_LSH_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents),
sig AS (SELECT doc_id, {_sig_cols_duck} FROM w),
bands AS ({_band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b,
       round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(wa.ws, wb.ws))) AS DOUBLE), 6) AS jaccard
FROM cand
JOIN w wa ON wa.doc_id = id_a
JOIN w wb ON wb.doc_id = id_b
WHERE round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(wa.ws, wb.ws))) AS DOUBLE), 6) >= 0.8
"""


@register("minhash_lsh_dup_pairs", _LSH_ORACLE)
def minhash_lsh_dup_pairs(spark, sf_dir):
    return D.minhash_lsh_pairs(t(spark, sf_dir, "documents"), "doc_id",
                               k=_K, band_rows=_BAND_ROWS, threshold=0.8)


# rows-only check: xxhash64 is JVM-native (not computable in DuckDB), so
# there is no portable oracle; correctness evidence is the pytest
# self-consistency gate (tests/test_llm.py: exact-dup pairs identical to
# the md5 path, shared pairs carry identical exact Jaccard).  Registered
# so the production hash path is bench-visible and driver-smoke-checked.
@register("minhash_lsh_dup_pairs_xxh", None)
def minhash_lsh_dup_pairs_xxh(spark, sf_dir):
    return D.minhash_lsh_pairs(t(spark, sf_dir, "documents"), "doc_id",
                               k=_K, band_rows=_BAND_ROWS, threshold=0.8,
                               method="xxhash64")


# --------------------------------------------------------------------------
# Incremental dedup: an incoming batch (doc_id % 17 == 0) against the
# persisted LSH index of the existing corpus (the rest) — the per-ingest
# shape of a production training-data pipeline.  Oracle: same banding as
# the full-pipeline oracle, candidates restricted to old x new pairs.
# --------------------------------------------------------------------------
_INCR_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents),
sig AS (SELECT doc_id, {_sig_cols_duck} FROM w),
bands AS ({_band_selects}),
cand AS (SELECT DISTINCT o.doc_id AS old_id, n.doc_id AS new_id
         FROM bands o JOIN bands n
           ON o.band = n.band AND o.key = n.key
         WHERE o.doc_id % 17 <> 0 AND n.doc_id % 17 = 0)
SELECT old_id, new_id,
       round(CAST(len(list_intersect(wo.ws, wn.ws)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(wo.ws, wn.ws))) AS DOUBLE),
             6) AS jaccard
FROM cand
JOIN w wo ON wo.doc_id = old_id
JOIN w wn ON wn.doc_id = new_id
WHERE round(CAST(len(list_intersect(wo.ws, wn.ws)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(wo.ws, wn.ws))) AS DOUBLE),
            6) >= 0.8
"""


# The index ARTIFACT itself (scalar projection: band keys + distinct-
# word-hash count) — the reader/writer format the incremental path
# depends on, re-derived independently in DuckDB.
_duck_band = {
    b: "md5(" + " || '_' || ".join(
        f"CAST(m{b * _BAND_ROWS + r} AS VARCHAR)" for r in range(_BAND_ROWS))
    + ")"
    for b in range(_K // _BAND_ROWS)
}
_INDEX_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents),
sig AS (SELECT doc_id, ws, {_sig_cols_duck} FROM w)
SELECT doc_id,
       CAST(len(list_distinct(list_transform(ws, w -> {_dhash64('w')})))
            AS BIGINT) AS nw,
       {_dhash64(_duck_band[0])} AS bk0,
       {_dhash64(_duck_band[1])} AS bk1
FROM sig
"""


@register("dedup_minhash_index", _INDEX_ORACLE)
def dedup_minhash_index(spark, sf_dir):
    """The persisted LSH index rows (llm/dedup.py:minhash_index): band
    keys + compact word-hash cardinality per document, format-checked
    against an independent DuckDB derivation — the artifact contract
    the incremental dedup path reads."""
    from pyspark.sql import functions as F
    idx = D.minhash_index(t(spark, sf_dir, "documents"), "doc_id",
                          k=_K, band_rows=_BAND_ROWS)
    return idx.select("doc_id", F.col("nw").cast("bigint").alias("nw"),
                      "bk0", "bk1")


@register("dedup_incremental_lsh", _INCR_ORACLE)
def dedup_incremental_lsh(spark, sf_dir):
    """New-batch-vs-corpus dedup against the persisted MinHash index
    (``llm/dedup.py:minhash_index`` / ``lsh_incremental_pairs``): the
    corpus text is never rescanned — only its index rows join."""
    docs = t(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 17 <> 0")
    new = docs.filter("doc_id % 17 = 0")
    # the index is a persisted store artifact in production; material-
    # izing it here stands in for the store read
    idx = D.minhash_index(old, "doc_id", k=_K,
                          band_rows=_BAND_ROWS).localCheckpoint(eager=False)
    return D.lsh_incremental_pairs(idx, new, "doc_id", k=_K,
                                   band_rows=_BAND_ROWS, threshold=0.8)


# The ingest DECISION the incremental path exists for: which new-batch
# documents SURVIVE dedup against the corpus (no old near-dup at the
# threshold) and may be appended to the training set + index.
_INCR_SURVIVORS_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents),
sig AS (SELECT doc_id, {_sig_cols_duck} FROM w),
bands AS ({_band_selects}),
cand AS (SELECT DISTINCT o.doc_id AS old_id, n.doc_id AS new_id
         FROM bands o JOIN bands n
           ON o.band = n.band AND o.key = n.key
         WHERE o.doc_id % 17 <> 0 AND n.doc_id % 17 = 0),
dup AS (SELECT DISTINCT new_id FROM cand
        JOIN w wo ON wo.doc_id = old_id
        JOIN w wn ON wn.doc_id = new_id
        WHERE round(CAST(len(list_intersect(wo.ws, wn.ws)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(wo.ws, wn.ws)))
                     AS DOUBLE), 6) >= 0.8)
SELECT doc_id FROM documents
WHERE doc_id % 17 = 0 AND doc_id NOT IN (SELECT new_id FROM dup)
"""


@register("dedup_incremental_survivors", _INCR_SURVIVORS_ORACLE)
def dedup_incremental_survivors(spark, sf_dir):
    """Ingest filter: new-batch documents with NO corpus near-dup at
    the threshold — the rows a production pipeline appends to the
    training set and the index after each batch (anti-join against the
    incremental pair output; one extra broadcast-able join).

    The batch index is computed ONCE (``minhash_index`` +
    localCheckpoint) and passed to ``lsh_incremental_pairs`` via
    ``new_index_df`` — the same frame a production survivors pass
    appends to the persisted index, so batch signatures are never
    derived twice in the composed plan.

    SCOPE: old-vs-new dedup only — mutually-near-duplicate documents
    WITHIN the batch all survive here (none is in the corpus index
    yet); ``dedup_incremental_intra_batch`` below is the ingest
    decision that also collapses those."""
    docs = t(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 17 <> 0")
    new = docs.filter("doc_id % 17 = 0")
    idx = D.minhash_index(old, "doc_id", k=_K,
                          band_rows=_BAND_ROWS).localCheckpoint(eager=False)
    new_idx = D.minhash_index(new, "doc_id", k=_K,
                              band_rows=_BAND_ROWS).localCheckpoint(eager=False)
    pairs = D.lsh_incremental_pairs(idx, None, "doc_id", k=_K,
                                    band_rows=_BAND_ROWS, threshold=0.8,
                                    new_index_df=new_idx)
    return (new.join(pairs.select(F.col("new_id").alias("doc_id")),
                     "doc_id", "left_anti")
            .select("doc_id"))


# The FULL ingest decision (closes the documented intra-batch gap of
# lsh_incremental_pairs): a new document survives iff it has no corpus
# near-dup AND no intra-batch near-dup with a smaller doc_id (the
# batch-local keep-first rule; the smaller-id representative survives
# and is what gets appended to the index).  Intra-batch pairs come from
# minhash_lsh_pairs over the (small) batch — identical wordsets share
# every band key, so the oracle's shared-band candidate set covers the
# exact-duplicate mass too.
_INCR_INTRA_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents),
sig AS (SELECT doc_id, {_sig_cols_duck} FROM w),
bands AS ({_band_selects}),
cand AS (SELECT DISTINCT o.doc_id AS old_id, n.doc_id AS new_id
         FROM bands o JOIN bands n
           ON o.band = n.band AND o.key = n.key
         WHERE o.doc_id % 17 <> 0 AND n.doc_id % 17 = 0),
dup AS (SELECT DISTINCT new_id FROM cand
        JOIN w wo ON wo.doc_id = old_id
        JOIN w wn ON wn.doc_id = new_id
        WHERE round(CAST(len(list_intersect(wo.ws, wn.ws)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(wo.ws, wn.ws)))
                     AS DOUBLE), 6) >= 0.8),
icand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key
          WHERE a.doc_id % 17 = 0 AND b.doc_id % 17 = 0
            AND a.doc_id < b.doc_id),
idup AS (SELECT DISTINCT id_b FROM icand
         JOIN w wa ON wa.doc_id = id_a
         JOIN w wb ON wb.doc_id = id_b
         WHERE round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(wa.ws, wb.ws)))
                      AS DOUBLE), 6) >= 0.8)
SELECT doc_id FROM documents
WHERE doc_id % 17 = 0
  AND doc_id NOT IN (SELECT new_id FROM dup)
  AND doc_id NOT IN (SELECT id_b FROM idup)
"""


@register("dedup_incremental_intra_batch", _INCR_INTRA_ORACLE)
def dedup_incremental_intra_batch(spark, sf_dir):
    """Full per-ingest dedup decision: drop new documents near-dup to
    the corpus (via the persisted index) AND near-dup to a smaller-id
    batch sibling (via minhash_lsh_pairs over the small batch — the
    intra-batch composition the incremental path's docstring
    prescribes).  What remains is exactly the set appended to the
    training set and the index."""
    docs = t(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 17 <> 0")
    new = docs.filter("doc_id % 17 = 0")
    idx = D.minhash_index(old, "doc_id", k=_K,
                          band_rows=_BAND_ROWS).localCheckpoint(eager=False)
    new_idx = D.minhash_index(new, "doc_id", k=_K,
                              band_rows=_BAND_ROWS).localCheckpoint(eager=False)
    cross = D.lsh_incremental_pairs(idx, None, "doc_id", k=_K,
                                    band_rows=_BAND_ROWS, threshold=0.8,
                                    new_index_df=new_idx)
    intra = D.minhash_lsh_pairs(new, "doc_id", k=_K,
                                band_rows=_BAND_ROWS, threshold=0.8)
    drop = (cross.select(F.col("new_id").alias("doc_id"))
            .unionByName(intra.select(F.col("id_b").alias("doc_id"))))
    return (new.join(drop, "doc_id", "left_anti").select("doc_id"))


# --------------------------------------------------------------------------
# SimHash fingerprints
# --------------------------------------------------------------------------
_SIMHASH_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents),
h AS (SELECT doc_id, list_transform(ws, w -> {_dhash64('w')}) AS hs FROM w)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 32), b ->
         CASE WHEN len(list_filter(hs, h -> ((h >> b) & 1) = 1)) * 2 > len(hs)
              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM h
"""


@register("simhash_fingerprint", _SIMHASH_ORACLE)
def simhash_fingerprint(spark, sf_dir):
    return D.simhash(t(spark, sf_dir, "documents"), "doc_id", bits=32)


# --------------------------------------------------------------------------
# N-gram Jaccard (exact quadratic baseline on a subset)
# --------------------------------------------------------------------------
_NGRAM_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(words)), i ->
           words[i] || ' ' || words[i + 1])) AS gs
  FROM (SELECT doc_id, {_DWORDS} AS words FROM documents WHERE doc_id < 100) q
  WHERE len(words) >= 2)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.gs, b.gs))) AS DOUBLE), 6) AS jaccard
FROM w a JOIN w b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.gs, b.gs))) AS DOUBLE), 6) >= 0.1
"""


@register("ngram_jaccard_pairs", _NGRAM_ORACLE)
def ngram_jaccard_pairs_q(spark, sf_dir):
    return D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), "doc_id",
                                 n=2, threshold=0.1, id_limit=100)


# --------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k
# --------------------------------------------------------------------------
_COSINE_ORACLE = """
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(
         list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 6) AS cosine
FROM embeddings CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("similarity_cosine_topk", _COSINE_ORACLE)
def similarity_cosine_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=10)


# --------------------------------------------------------------------------
# IVF-style centroid assignment
# --------------------------------------------------------------------------
_IVF_ORACLE = """
WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
            FROM embeddings),
cent AS (SELECT label, pos,
                CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
         FROM ex GROUP BY label, pos),
cvec AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
scored AS (
  SELECT vec_id, c_label,
         round(sqrt(list_sum(list_transform(range(1, 65), i ->
           (CAST(embedding[i] AS DOUBLE) - cv[i]) * (CAST(embedding[i] AS DOUBLE) - cv[i])))), 6) AS dist
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100) v
  CROSS JOIN cvec)
SELECT vec_id, assigned_label, dist FROM (
  SELECT vec_id, c_label AS assigned_label, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
  FROM scored) q
WHERE rn = 1
"""


@register("similarity_ivf_assign", _IVF_ORACLE)
def similarity_ivf_assign(spark, sf_dir):
    return S.ivf_assign(t(spark, sf_dir, "embeddings"), id_limit=100)


# --------------------------------------------------------------------------
# Multimodal: binary payload + Arrow-batched metadata extraction
# --------------------------------------------------------------------------
_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
       md5(text) AS digest,
       CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 1920 AS INT) AS fake_width,
       CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 1080 AS INT) AS fake_height
FROM documents
"""


@register("multimodal_metadata_extract", _MULTIMODAL_ORACLE)
def multimodal_metadata_extract(spark, sf_dir):
    docs = with_binary_payload(t(spark, sf_dir, "documents"))
    return extract_fake_metadata(docs)


# --------------------------------------------------------------------------
# IVF top-k search: route the query to its nearest centroid cell, scan
# only that cell — the scale path of ANN search (cell ≈ partition)
# --------------------------------------------------------------------------
_IVF_TOPK_ORACLE = """
WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
            FROM embeddings),
cent AS (SELECT label, pos,
                CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
         FROM ex GROUP BY label, pos),
cvec AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1),
routed AS (
  SELECT c_label AS cell FROM (
    SELECT c_label,
           round(sqrt(list_sum(list_transform(range(1, 65), i ->
             (CAST(qvec[i] AS DOUBLE) - cv[i]) * (CAST(qvec[i] AS DOUBLE) - cv[i])))), 6) AS qd
    FROM cvec CROSS JOIN q) s
  ORDER BY qd, c_label LIMIT 1)
SELECT vec_id, cell,
       round(
         list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 6) AS cosine
FROM embeddings
JOIN routed ON label = cell
CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT 5
"""


@register("similarity_ivf_topk", _IVF_TOPK_ORACLE)
def similarity_ivf_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter(F.col("vec_id") == 1), k=5)


# --------------------------------------------------------------------------
# Deterministic hash sampling (training-data subsampling; rand()-based
# Spark .sample is not reproducible cross-engine, xxhash64 is)
# --------------------------------------------------------------------------
_SAMPLE_ORACLE = """
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10 < 3
"""


@register("sample_by_hash_30pct", _SAMPLE_ORACLE)
def sample_by_hash_30pct(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import sample_by_hash
    docs = t(spark, sf_dir, "documents")
    return sample_by_hash(docs, "doc_id", 3, 10).select("doc_id", "lang")


# --------------------------------------------------------------------------
# End-to-end training-data curation pipeline: quality filter -> language
# filter -> order-insensitive exact dedup (keep min doc_id) -> 50%
# deterministic sample -> token accounting.  One declarative plan: the
# whole chain is a single Catalyst-optimized query (filters fuse, the
# dedup is one shuffle, the sample is a map-side filter).
# --------------------------------------------------------------------------
_CURATION_ORACLE = f"""
WITH stats AS (
  SELECT doc_id, lang, text, {_DWORDS} AS words
  FROM documents),
scored AS (
  SELECT doc_id, lang, text, words,
         len(words) AS n_words,
         len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is','it','for','on')))
           / CAST(len(words) AS DOUBLE) AS stop_ratio,
         len(list_distinct(words)) / CAST(len(words) AS DOUBLE) AS distinct_ratio
  FROM stats WHERE len(words) > 0),
quality AS (
  SELECT * FROM scored
  WHERE n_words >= 20 AND stop_ratio >= 0.01 AND distinct_ratio > 0.3 AND lang = 'en'),
deduped AS (
  SELECT MIN(doc_id) AS doc_id,
         md5(array_to_string(list_sort(list_distinct(words)), ' ')) AS fp,
         COUNT(*) AS n_copies
  FROM quality GROUP BY fp),
sampled AS (
  SELECT d.doc_id, d.n_copies, q.n_words
  FROM deduped d JOIN quality q ON d.doc_id = q.doc_id
  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 2 = 0)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, n_copies FROM sampled
"""


@register("pipeline_training_data_curation", _CURATION_ORACLE)
def pipeline_training_data_curation(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import sample_by_hash, with_text_stats

    docs = with_text_stats(t(spark, sf_dir, "documents"))
    quality = docs.filter(
        (F.col("n_words") >= 20)
        & (F.col("stopword_ratio") >= 0.01)
        & (F.col("distinct_ratio") > 0.3)
        & (F.col("lang") == "en"))
    deduped = (quality
               .withColumn("fp", F.expr("md5(concat_ws(' ', array_sort(array_distinct(words))))"))
               .groupBy("fp")
               .agg(F.min("doc_id").alias("doc_id"),
                    F.count(F.lit(1)).alias("n_copies")))
    joined = deduped.join(quality.select("doc_id", "n_words"), "doc_id")
    return (sample_by_hash(joined, "doc_id", 1, 2)
            .select("doc_id", F.col("n_words").cast("bigint").alias("n_words"),
                    "n_copies"))


# --------------------------------------------------------------------------
# Stratified deterministic sampling: downsample dominant strata, keep
# rare strata whole (the class-balance primitive for training data)
# --------------------------------------------------------------------------
_STRAT_ORACLE = """
WITH h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS hv
  FROM documents)
SELECT doc_id, lang FROM h
WHERE (lang = 'en' AND hv % 4 < 1)
   OR (lang = 'de' AND hv % 2 < 1)
   OR (lang NOT IN ('en', 'de'))
"""


@register("sample_stratified_by_lang", _STRAT_ORACLE)
def sample_stratified_by_lang(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import sample_stratified
    docs = t(spark, sf_dir, "documents")
    return sample_stratified(docs, "doc_id", "lang",
                             {"en": (1, 4), "de": (1, 2)}).select("doc_id", "lang")


# --------------------------------------------------------------------------
# IVF top-k against a PHYSICALLY cell-partitioned index: same math as
# similarity_ivf_topk, but the corpus is written partitionBy(cell) and
# the probe's cell filter reaches the scan as dynamic partition pruning
# (directory skip), not a row filter — the actual 100 TB layout.
# --------------------------------------------------------------------------
_IVF_TOPK_PRUNED_ORACLE = """
WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
            FROM embeddings),
cent AS (SELECT label, pos,
                CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
         FROM ex GROUP BY label, pos),
cvec AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1),
routed AS (
  SELECT CAST(c_label AS BIGINT) AS cell FROM (
    SELECT c_label,
           round(sqrt(list_sum(list_transform(range(1, 65), i ->
             (CAST(qvec[i] AS DOUBLE) - cv[i]) * (CAST(qvec[i] AS DOUBLE) - cv[i])))), 6) AS qd
    FROM cvec CROSS JOIN q) s
  ORDER BY qd, cell LIMIT 1)
SELECT vec_id, cell,
       round(
         list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 6) AS cosine
FROM embeddings
JOIN routed ON label = cell
CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT 5
"""


@register("similarity_ivf_topk_pruned", _IVF_TOPK_PRUNED_ORACLE)
def similarity_ivf_topk_pruned(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    index_path = scratch_dir(spark, "ivf_index")
    S.ivf_build_index(emb, index_path)
    return S.ivf_topk_indexed(spark, index_path,
                              emb.filter(F.col("vec_id") == 1), k=5)


# --------------------------------------------------------------------------
# IVF with multi-cell probing (nprobe=2) — the standard IVF recall knob:
# scan the 2 nearest cells instead of 1; both reach the scan as dynamic
# partition pruning filters, so cost grows as nprobe/n_cells of the
# corpus, never a full scan.
# --------------------------------------------------------------------------
_IVF_NPROBE_ORACLE = """
WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
            FROM embeddings),
cent AS (SELECT label, pos,
                CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
         FROM ex GROUP BY label, pos),
cvec AS (SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1),
routed AS (
  SELECT CAST(c_label AS BIGINT) AS cell FROM (
    SELECT c_label,
           round(sqrt(list_sum(list_transform(range(1, 65), i ->
             (CAST(qvec[i] AS DOUBLE) - cv[i]) * (CAST(qvec[i] AS DOUBLE) - cv[i])))), 6) AS qd
    FROM cvec CROSS JOIN q) s
  ORDER BY qd, cell LIMIT 2)
SELECT vec_id, cell,
       round(
         list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 6) AS cosine
FROM embeddings
JOIN routed ON label = cell
CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT 5
"""


@register("similarity_ivf_topk_nprobe2", _IVF_NPROBE_ORACLE)
def similarity_ivf_topk_nprobe2(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    index_path = scratch_dir(spark, "ivf_index_np")
    S.ivf_build_index(emb, index_path)
    return S.ivf_topk_indexed(spark, index_path,
                              emb.filter(F.col("vec_id") == 1), k=5, nprobe=2)


# --------------------------------------------------------------------------
# Multimodal: video frame-sampling plumbing — one payload fans out to one
# row per sampled frame (mapInPandas; deterministic fake decode, real
# Arrow fan-out shape).  Digest column omitted from the oracle (binary
# concat md5 is python-side); frame count/timestamps pin the fan-out.
# --------------------------------------------------------------------------
_FRAME_SAMPLE_ORACLE = """
WITH d AS (SELECT doc_id,
                  LEAST(octet_length(CAST(text AS BLOB)), 10000) AS dur
           FROM documents)
SELECT doc_id,
       CAST(unnest(range(0, CAST(ceil(dur / 1000.0) AS BIGINT))) AS BIGINT) AS frame_idx,
       CAST(unnest(range(0, CAST(ceil(dur / 1000.0) AS BIGINT))) * 1000 AS BIGINT) AS frame_ts_ms
FROM d WHERE dur > 0
"""


@register("multimodal_frame_sample", _FRAME_SAMPLE_ORACLE)
def multimodal_frame_sample(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.multimodal import frame_sample
    docs = with_binary_payload(t(spark, sf_dir, "documents"))
    return frame_sample(docs).select("doc_id", "frame_idx", "frame_ts_ms")


# --------------------------------------------------------------------------
# Multimodal: resize planning — aspect-preserving target dimensions as a
# pure JVM-side column expression over the (fake-)decoded width/height.
# --------------------------------------------------------------------------
_RESIZE_PLAN_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 1920 AS INT) + 1 AS w,
         CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 1080 AS INT) + 1 AS h
  FROM documents)
SELECT doc_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(floor(w * s) AS INT) AS resized_width,
       CAST(floor(h * s) AS INT) AS resized_height,
       s AS scale
FROM (SELECT doc_id, w, h,
             round(LEAST(512.0 / w, 512.0 / h, 1.0), 6) AS s FROM m) q
"""


@register("multimodal_resize_plan", _RESIZE_PLAN_ORACLE)
def multimodal_resize_plan(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.multimodal import resize_plan
    docs = with_binary_payload(t(spark, sf_dir, "documents"))
    return resize_plan(docs)


# --------------------------------------------------------------------------
# Dedup clustering: dup pairs -> connected components -> cluster table.
# The oracle computes the same transitive closure with a recursive CTE
# (feasible at oracle scale; the engine side is the pointer-doubling CC
# operator, which is the scale path).
# --------------------------------------------------------------------------
_JACCARD_CLUSTERS_ORACLE = f"""
WITH RECURSIVE w AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(words)), i ->
           words[i] || ' ' || words[i + 1])) AS gs
  FROM (SELECT doc_id, {_DWORDS} AS words FROM documents WHERE doc_id < 100) q
  WHERE len(words) >= 2
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM w a JOIN w b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.gs, b.gs))) AS DOUBLE), 6) >= 0.1
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM comp
"""


@register("dedup_jaccard_clusters", _JACCARD_CLUSTERS_ORACLE)
def dedup_jaccard_clusters(spark, sf_dir):
    pairs = D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), "doc_id",
                                  n=2, threshold=0.1, id_limit=100)
    return D.dedup_clusters(pairs)


# --------------------------------------------------------------------------
# Near-dup REMOVAL: the surviving corpus after MinHash+LSH dedup.  The
# end-product a pretraining pipeline actually ships: verified dup pairs
# collapse into clusters (pointer-doubling connected components), every
# cluster keeps its minimum doc_id, and the corpus is anti-joined
# against the losers.  One extra uniform-key shuffle (the anti-join on
# doc_id) on top of the LSH pair plan; the loser list is
# O(duplicate docs), never driver-collected.  The oracle replays the
# same LSH geometry AND the same order of operations: identical
# word-sets collapse to one representative (min doc id) BEFORE banding
# and closure, exactly like the engine plan — a doc-level closure would
# materialize O(k^2) reach rows per k-member exact-dup clique (the
# sf0.1 corpus has a 3,692-doc clique: ~7e9 intermediate join rows),
# while the set-level graph stays tiny.  A doc then survives iff it IS
# its cluster's minimum id: COALESCE(component rep, own group rep).
# --------------------------------------------------------------------------
_LSH_SURVIVORS_ORACLE = f"""
WITH RECURSIVE w AS (
  SELECT doc_id, list_sort(list_distinct({_DWORDS})) AS ws FROM documents
), w2 AS (
  SELECT doc_id, ws, MIN(doc_id) OVER (PARTITION BY ws) AS rep FROM w
), uw AS (
  SELECT rep AS doc_id, ws FROM w2 WHERE doc_id = rep
), sig AS (SELECT doc_id, {_sig_cols_duck} FROM uw),
bands AS ({_band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
dup AS (
  SELECT id_a, id_b
  FROM cand
  JOIN uw wa ON wa.doc_id = id_a
  JOIN uw wb ON wb.doc_id = id_b
  WHERE round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(wa.ws, wb.ws))) AS DOUBLE), 6) >= 0.8
), edges AS (
  SELECT id_a AS u, id_b AS v FROM dup UNION SELECT id_b, id_a FROM dup
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS rep, LEAST(u, MIN(v)) AS cluster_rep FROM reach GROUP BY u
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
JOIN w2 ON d.doc_id = w2.doc_id
LEFT JOIN comp ON w2.rep = comp.rep
WHERE d.doc_id = COALESCE(comp.cluster_rep, w2.rep)
"""


@register("dedup_lsh_survivors", _LSH_SURVIVORS_ORACLE)
def dedup_lsh_survivors(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", k=_K, band_rows=_BAND_ROWS,
                                threshold=0.8)
    clusters = D.dedup_clusters(pairs)
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
              .select("doc_id"))
    return (docs.join(losers, "doc_id", "left_anti")
            .select("doc_id", "source", "n_chars"))


# --------------------------------------------------------------------------
# Repetition quality signals (Gopher-style boilerplate detection)
# --------------------------------------------------------------------------
_REPETITION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, words, len(words) AS n_words
  FROM (SELECT doc_id, {_DWORDS} AS words FROM documents) q
  WHERE len(words) >= 2
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(words) AS word FROM base) u
  GROUP BY doc_id, word
), bc AS (
  SELECT doc_id, gram, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(words)),
                      i -> words[i] || ' ' || words[i + 1])) AS gram
        FROM base) u
  GROUP BY doc_id, gram
), topw AS (SELECT doc_id, MAX(c) AS twc FROM wc GROUP BY doc_id),
   topb AS (SELECT doc_id, MAX(c) AS tbc FROM bc GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
       round(twc / CAST(b.n_words AS DOUBLE), 6) AS top_word_ratio,
       round(tbc / CAST(b.n_words - 1 AS DOUBLE), 6) AS top_bigram_ratio
FROM base b JOIN topw USING (doc_id) JOIN topb USING (doc_id)
"""


@register("text_repetition_stats", _REPETITION_ORACLE)
def text_repetition_stats(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import repetition_stats
    return repetition_stats(t(spark, sf_dir, "documents"), "doc_id")


# --------------------------------------------------------------------------
# int8 embedding quantization audit (scale-path storage layout)
# --------------------------------------------------------------------------
_QUANTIZE_ORACLE = """
WITH prep AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
         embedding
  FROM embeddings
  WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
), q AS (
  SELECT vec_id, maxabs / 127.0 AS scale,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS INTEGER)) AS qv,
         embedding
  FROM prep
)
SELECT vec_id, round(scale, 6) AS scale_r,
       round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1), i ->
         (CAST(embedding[i] AS DOUBLE) - qv[i] * scale)
         * (CAST(embedding[i] AS DOUBLE) - qv[i] * scale)))), 6) AS recon_err,
       CAST(list_sum(list_transform(qv, x -> CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_saturated
FROM q
"""


@register("embedding_quantize_int8", _QUANTIZE_ORACLE)
def embedding_quantize_int8(spark, sf_dir):
    q = S.quantize_int8(t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", F.round("scale", 6).alias("scale_r"), "recon_err",
        F.expr("cast(aggregate(q, 0, (acc, x) -> acc + "
               "CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END) as bigint)")
        .alias("n_saturated"))


# --------------------------------------------------------------------------
# Quantized-search recall audit: top-10 cosine over int8-reconstructed
# vectors vs exact float vectors — the measurement that justifies (or
# rejects) the 4x storage cut for a given corpus.
# --------------------------------------------------------------------------
_QRECALL_ORACLE = """
WITH prep AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
         embedding
  FROM embeddings
  WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
), recon AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS INTEGER)
           * (maxabs / 127.0)) AS rvec
  FROM prep
), q AS (SELECT embedding AS qvec, rvec AS qrvec FROM recon WHERE vec_id = 0),
exact_top AS (
  SELECT vec_id FROM recon CROSS JOIN q
  ORDER BY round(
    list_sum(list_transform(range(1, len(embedding) + 1), i ->
      CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1), i ->
        CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i ->
          CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 6) DESC, vec_id
  LIMIT 10
), quant_top AS (
  SELECT vec_id FROM recon CROSS JOIN q
  ORDER BY round(
    list_sum(list_transform(range(1, len(rvec) + 1), i -> rvec[i] * qrvec[i]))
    / (sqrt(list_sum(list_transform(range(1, len(rvec) + 1), i -> rvec[i] * rvec[i])))
       * sqrt(list_sum(list_transform(range(1, len(qrvec) + 1), i -> qrvec[i] * qrvec[i])))), 6) DESC, vec_id
  LIMIT 10
)
SELECT CAST((SELECT COUNT(*) FROM exact_top WHERE vec_id IN (SELECT vec_id FROM quant_top)) AS BIGINT) AS n_common,
       round((SELECT COUNT(*) FROM exact_top WHERE vec_id IN (SELECT vec_id FROM quant_top)) / 10.0, 6) AS recall_at_10
"""


@register("embedding_quantized_topk_recall", _QRECALL_ORACLE)
def embedding_quantized_topk_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    recon = (S.quantize_int8(emb)
             .withColumn("rvec", F.expr("transform(q, qi -> qi * scale)"))
             .select("vec_id", "embedding", "rvec"))
    exact_top = S.cosine_topk(recon.select("vec_id", "embedding"),
                              recon.filter(F.col("vec_id") == 0)
                              .select("vec_id", "embedding"), k=10)
    quant_top = S.cosine_topk(
        recon.select("vec_id", F.col("rvec").alias("embedding")),
        recon.filter(F.col("vec_id") == 0)
        .select("vec_id", F.col("rvec").alias("embedding")), k=10)
    common = (exact_top.select("vec_id")
              .join(quant_top.select("vec_id"), "vec_id", "left_semi"))
    return common.agg(
        F.count(F.lit(1)).alias("n_common"),
        F.round(F.count(F.lit(1)) / F.lit(10.0), 6).alias("recall_at_10"))


# --------------------------------------------------------------------------
# Corpus vocabulary (tokenizer-training counting pass)
# --------------------------------------------------------------------------
_VOCAB_ORACLE = f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest({_DWORDS}) AS token FROM documents) u
GROUP BY token
ORDER BY n DESC, token
LIMIT 100
"""


@register("vocab_top_tokens", _VOCAB_ORACLE)
def vocab_top_tokens_q(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import vocab_top_tokens
    return vocab_top_tokens(t(spark, sf_dir, "documents"), k=100)


# --------------------------------------------------------------------------
# Benchmark contamination: training docs sharing 5-grams with the
# held-out eval source (src0)
# --------------------------------------------------------------------------
_CONTAMINATION_ORACLE = f"""
WITH g AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(range(1, len(words) - 3), i ->
           words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
           words[i+3] || ' ' || words[i+4]))) AS gram
  FROM (SELECT doc_id, source, {_DWORDS} AS words FROM documents) q
  WHERE len(words) >= 5
)
SELECT tr.doc_id,
       CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
       CAST(COUNT(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
FROM (SELECT * FROM g WHERE source <> 'src0') tr
JOIN (SELECT * FROM g WHERE source = 'src0') ev ON tr.gram = ev.gram
GROUP BY tr.doc_id
"""


@register("contamination_5gram_vs_eval", _CONTAMINATION_ORACLE)
def contamination_5gram_vs_eval(spark, sf_dir):
    from flink_release_1_10_0_spark.llm.text import ngram_contamination
    docs = t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    eval_df = docs.filter(F.col("source") == "src0")
    return ngram_contamination(train, eval_df, n=5)


# --------------------------------------------------------------------------
# Distributed k-means codebook training (deterministic Lloyd's, see
# similarity.kmeans_fit_predict).  The oracle replays all 3
# iterations as unrolled CTEs with the same init / tie-break / exact-
# decimal update conventions.
# --------------------------------------------------------------------------
_KMEANS_ORACLE = """
WITH cents_init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4) q
),
asg0 AS (
  SELECT vec_id, embedding, cid, sqdist FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           list_sum(list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS sqdist,
           min(struct_pack(s := list_sum(list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c := c.cid))
             OVER (PARTITION BY e.vec_id) AS b
    FROM embeddings e CROSS JOIN cents_init c)
  WHERE sqdist = b.s AND cid = b.c
), upd0 AS (
  SELECT cid, pos, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM (SELECT cid, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v FROM asg0) x
  GROUP BY cid, pos
), cents0 AS (
  SELECT cid, list(c ORDER BY pos) AS cvec FROM upd0 GROUP BY cid
),
asg1 AS (
  SELECT vec_id, embedding, cid, sqdist FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           list_sum(list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS sqdist,
           min(struct_pack(s := list_sum(list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c := c.cid))
             OVER (PARTITION BY e.vec_id) AS b
    FROM embeddings e CROSS JOIN cents0 c)
  WHERE sqdist = b.s AND cid = b.c
), upd1 AS (
  SELECT cid, pos, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM (SELECT cid, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v FROM asg1) x
  GROUP BY cid, pos
), cents1 AS (
  SELECT cid, list(c ORDER BY pos) AS cvec FROM upd1 GROUP BY cid
),
asg2 AS (
  SELECT vec_id, embedding, cid, sqdist FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           list_sum(list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS sqdist,
           min(struct_pack(s := list_sum(list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c := c.cid))
             OVER (PARTITION BY e.vec_id) AS b
    FROM embeddings e CROSS JOIN cents1 c)
  WHERE sqdist = b.s AND cid = b.c
), upd2 AS (
  SELECT cid, pos, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM (SELECT cid, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v FROM asg2) x
  GROUP BY cid, pos
), cents2 AS (
  SELECT cid, list(c ORDER BY pos) AS cvec FROM upd2 GROUP BY cid
)
SELECT vec_id, cid, round(sqdist, 6) AS dist_r FROM asg2
"""


@register("similarity_kmeans_fit", _KMEANS_ORACLE)
def similarity_kmeans_fit(spark, sf_dir):
    return S.kmeans_fit_predict(t(spark, sf_dir, "embeddings"), k=4,
                                iterations=3)


# --------------------------------------------------------------------------
# Train/eval split leakage audit: deterministic 90/10 hash split, then
# count verified LSH near-dup pairs by which sides they land on — the
# cross-split bucket is test-set leakage (a near-duplicate of a training
# document sitting in the held-out split).  The audit every pretraining
# data pipeline runs before freezing a split; reuses the verified LSH
# pair plan and adds only two broadcast-joinable label lookups plus a
# 3-row aggregate.
# --------------------------------------------------------------------------
_LEAKAGE_ORACLE = f"""
WITH w AS (SELECT doc_id, list_distinct({_DWORDS}) AS ws FROM documents),
sig AS (SELECT doc_id, {_sig_cols_duck} FROM w),
bands AS ({_band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
dup AS (
  SELECT id_a, id_b
  FROM cand
  JOIN w wa ON wa.doc_id = id_a
  JOIN w wb ON wb.doc_id = id_b
  WHERE round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(wa.ws, wb.ws))) AS DOUBLE), 6) >= 0.8
), split AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10 < 9
              THEN 'train' ELSE 'eval' END AS part
  FROM documents
)
SELECT CASE WHEN sa.part = sb.part THEN sa.part ELSE 'cross' END AS bucket,
       COUNT(*) AS n_pairs
FROM dup JOIN split sa ON dup.id_a = sa.doc_id
         JOIN split sb ON dup.id_b = sb.doc_id
GROUP BY bucket
"""


@register("split_leakage_audit", _LEAKAGE_ORACLE)
def split_leakage_audit(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", k=_K, band_rows=_BAND_ROWS,
                                threshold=0.8)
    h = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10).cast("bigint"))
    split = docs.select(
        "doc_id",
        F.when(h % 10 < 9, F.lit("train")).otherwise(F.lit("eval"))
        .alias("part"))
    sa = split.withColumnRenamed("doc_id", "id_a") \
              .withColumnRenamed("part", "part_a")
    sb = split.withColumnRenamed("doc_id", "id_b") \
              .withColumnRenamed("part", "part_b")
    labeled = pairs.join(sa, "id_a").join(sb, "id_b")
    bucket = F.when(F.col("part_a") == F.col("part_b"),
                    F.col("part_a")).otherwise(F.lit("cross"))
    return (labeled.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_pairs")))


# --------------------------------------------------------------------------
# Document fingerprinting by winnowing (round 9): rolling k-gram
# polynomial hash + window-min selection (the MOSS algorithm,
# Schleimer/Wilkerson/Aiken SIGMOD'03).  Per-doc fingerprint stats and
# frequency-capped fingerprint-overlap pairs; the polynomial fold is
# bit-identical on both engines (no mod, stays under 2^63).
# --------------------------------------------------------------------------
_WINNOW_K, _WINNOW_W = 8, 16

_WINNOW_FP_SQL = """
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - {km1} + 1), i ->
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, {k}), j ->
                 CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
             (a, b) -> a * 31 + b)) AS gh
  FROM documents WHERE length(text) >= {minlen}),
f AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(gh) - {wm1} + 1),
           i -> list_aggregate(gh[CAST(i AS INT):CAST(i + {wm1} AS INT)],
                               'min')))) AS fp
  FROM g)
""".format(k=_WINNOW_K, km1=_WINNOW_K - 1, wm1=_WINNOW_W - 1,
           minlen=_WINNOW_K + _WINNOW_W - 1)

_WINNOW_STATS_ORACLE = _WINNOW_FP_SQL + """
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM f GROUP BY doc_id
"""


@register("text_winnow_fingerprints", _WINNOW_STATS_ORACLE)
def text_winnow_fingerprints(spark, sf_dir):
    """Per-document winnowing fingerprint stats (count of distinct
    window-min k-gram hashes + extrema) — the document-fingerprinting
    text operator, map-only per doc."""
    from flink_release_1_10_0_spark.llm.text import winnow_fingerprints

    fps = winnow_fingerprints(t(spark, sf_dir, "documents"),
                              k=_WINNOW_K, w=_WINNOW_W)
    return (fps.groupBy("doc_id")
            .agg(F.count("*").alias("n_fp"),
                 F.min("fp").alias("min_fp"),
                 F.max("fp").alias("max_fp")))


_WINNOW_PAIRS_ORACLE = _WINNOW_FP_SQL + """,
rare AS (
  SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 50),
ff AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 5
"""


@register("dedup_winnow_overlap_pairs", _WINNOW_PAIRS_ORACLE)
def dedup_winnow_overlap_pairs(spark, sf_dir):
    """Near-duplicate candidate pairs by shared winnowing fingerprints
    (>= 5 shared window-min hashes after dropping fingerprints that
    appear in more than 50 documents — the boilerplate/stop-gram cap
    that keeps the self-join linear at corpus scale: every surviving
    fingerprint joins at most 50x50 pairs)."""
    from flink_release_1_10_0_spark.llm.text import winnow_fingerprints

    fps = winnow_fingerprints(t(spark, sf_dir, "documents"),
                              k=_WINNOW_K, w=_WINNOW_W)
    rare = (fps.groupBy("fp").agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= 50).select("fp"))
    ff = fps.join(rare, "fp")
    a = ff.select(F.col("doc_id").alias("id_a"), "fp")
    b = ff.select(F.col("doc_id").alias("id_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= 5))


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicates: SRP (sign-random-projection) LSH
# buckets propose candidates, exact cosine verifies.  The oracle replays
# the identical integer-quantized projection, band keys,
# first-matching-band candidate join, and cosine verify.
# --------------------------------------------------------------------------

def _duck_srp_sig(lo: int) -> str:
    # centered component: qv[i]*n - sv[i] (mean-centered SRP, exact
    # integers — srp_signatures docstring)
    return (
        "list_sum(list_transform(range(0, 4), j -> CASE WHEN "
        "list_sum(list_transform(range(1, 65), i -> CASE WHEN "
        f"(((j + {lo}) * 64 + i) * 2654435761) % 4294967296 < 2147483648 "
        "THEN (qv[i] * n - sv[i]) ELSE -(qv[i] * n - sv[i]) END)) >= 0 "
        "THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))")


_DUCK_COS = (
    "round(list_sum(list_transform(range(1, 65), i -> "
    "CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(ea.embedding, x -> "
    "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(eb.embedding, x -> "
    "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)")

_SRP_PAIRS_ORACLE = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
qstat AS (
  SELECT pos, CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT generate_subscripts(qv, 1) AS pos, unnest(qv) AS v
        FROM base) x
  GROUP BY pos),
qs AS (SELECT list(s ORDER BY pos) AS sv, MAX(cnt) AS n FROM qstat),
sig AS (
  SELECT vec_id, {_duck_srp_sig(0)} AS sk0, {_duck_srp_sig(4)} AS sk1,
         {_duck_srp_sig(8)} AS sk2, {_duck_srp_sig(12)} AS sk3
  FROM base CROSS JOIN qs),
cands AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM sig a JOIN sig c ON a.vec_id < c.vec_id AND (
       a.sk0 = c.sk0
    OR (a.sk1 = c.sk1 AND a.sk0 <> c.sk0)
    OR (a.sk2 = c.sk2 AND a.sk0 <> c.sk0 AND a.sk1 <> c.sk1)
    OR (a.sk3 = c.sk3 AND a.sk0 <> c.sk0 AND a.sk1 <> c.sk1
        AND a.sk2 <> c.sk2)))
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b, {_DUCK_COS} AS cosine
  FROM cands
  JOIN embeddings ea ON ea.vec_id = id_a
  JOIN embeddings eb ON eb.vec_id = id_b) q
WHERE cosine >= 0.35
"""


@register("dedup_embedding_srp", _SRP_PAIRS_ORACLE)
def dedup_embedding_srp(spark, sf_dir):
    return D.embedding_srp_pairs(t(spark, sf_dir, "embeddings"),
                                 planes_per_band=4, n_bands=4,
                                 threshold=0.35)


_COSINE_EXACT_ORACLE = f"""
SELECT id_a, id_b, cosine FROM (
  SELECT ea.vec_id AS id_a, eb.vec_id AS id_b, {_DUCK_COS} AS cosine
  FROM (SELECT * FROM embeddings WHERE vec_id < 150) ea
  JOIN (SELECT * FROM embeddings WHERE vec_id < 150) eb
    ON ea.vec_id < eb.vec_id) q
WHERE cosine >= 0.35
"""


@register("dedup_embedding_cosine_exact", _COSINE_EXACT_ORACLE)
def dedup_embedding_cosine_exact(spark, sf_dir):
    """Quadratic recall yardstick for dedup_embedding_srp — id_limit
    fences the pair space exactly like ngram_jaccard_pairs."""
    return D.embedding_cosine_pairs_exact(t(spark, sf_dir, "embeddings"),
                                          threshold=0.35, id_limit=150)


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means clusters prune
# the pair space, exact cosine runs within clusters only.  The oracle
# replays the deterministic k-means contract (smallest-k init,
# lexicographic ties, DECIMAL mean updates — the same chain shape as
# _KMEANS_ORACLE) and then the same within-cluster cosine join.
# --------------------------------------------------------------------------
def _duck_kmeans_chain(k: int, iterations: int,
                       src: str = "embeddings",
                       extra_assign: tuple[str, str] | None = None) -> str:
    """CTE chain replaying kmeans_train(k, iterations) + final assign:
    cents_init -> (asg_i, upd_i, cents_i) x iterations -> asg_final.
    ``src`` is the corpus relation the codebook trains on;
    ``extra_assign=(name, rel)`` additionally assigns relation ``rel``
    (e.g. an incoming batch) against the FINAL centroids — the
    incremental-ingest replay (persisted-codebook assignment)."""
    sq = ("list_sum(list_transform(range(1, 65), i -> "
          "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * "
          "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])))")

    def asg(name: str, cents: str, rel: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, embedding, cid, sqdist FROM (
    SELECT e.vec_id, e.embedding, c.cid, {sq} AS sqdist,
           min(struct_pack(s := {sq}, c := c.cid))
             OVER (PARTITION BY e.vec_id) AS b
    FROM {rel} e CROSS JOIN {cents} c)
  WHERE sqdist = b.s AND cid = b.c)"""

    parts = [f"""cents_init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT vec_id, embedding FROM {src}
        ORDER BY vec_id LIMIT {k}) q)"""]
    prev = "cents_init"
    for i in range(iterations):
        parts.append(asg(f"asg{i}", prev, src))
        parts.append(f"""upd{i} AS (
  SELECT cid, pos,
         CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM (SELECT cid, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v FROM asg{i}) x
  GROUP BY cid, pos),
cents{i} AS (SELECT cid, list(c ORDER BY pos) AS cvec FROM upd{i}
             GROUP BY cid)""")
        prev = f"cents{i}"
    parts.append(asg("asg_final", prev, src))
    if extra_assign is not None:
        name, rel = extra_assign
        parts.append(asg(name, prev, rel))
    return "WITH " + ",\n".join(parts)


# --------------------------------------------------------------------------
# Exact duplicate-span scrub (Lee et al. 2022, ExactSubstr at
# token-window granularity): cross-document n-token spans are removed
# everywhere but their global first occurrence; the oracle replays the
# identical keeper rule (min (doc, pos) struct), coverage explode, and
# ordered reassembly.
# --------------------------------------------------------------------------
_SCRUB_SPANS_ORACLE = f"""
WITH d AS (SELECT doc_id, {_DWORDS} AS ws FROM documents),
g0 AS (SELECT doc_id,
              list_transform(range(1, len(ws) - 8 + 2),
                             i -> array_to_string(ws[i:i+7], ' ')) AS gs
       FROM d WHERE len(ws) >= 8),
g AS (SELECT doc_id, generate_subscripts(gs, 1) AS pos, unnest(gs) AS gram
      FROM g0),
dup AS (SELECT gram, min(struct_pack(d := doc_id, p := pos)) AS keeper
        FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
scrub AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
          WHERE NOT (g.doc_id = dup.keeper.d AND g.pos = dup.keeper.p)),
covered AS (SELECT DISTINCT doc_id, pos + o AS i
            FROM scrub CROSS JOIN (SELECT unnest(range(0, 8)) AS o)),
toks AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
         FROM d),
surv AS (SELECT t.doc_id, t.i, t.w FROM toks t
         WHERE NOT EXISTS (SELECT 1 FROM covered c
                           WHERE c.doc_id = t.doc_id AND c.i = t.i)),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
               array_to_string(list(w ORDER BY i), ' ') AS scrubbed_text
        FROM surv GROUP BY doc_id)
SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS total_tokens,
       COALESCE(a.kept_tokens, 0) AS kept_tokens,
       COALESCE(a.scrubbed_text, '') AS scrubbed_text
FROM d LEFT JOIN agg a USING (doc_id)
"""


@register("dedup_scrub_duplicate_spans", _SCRUB_SPANS_ORACLE)
def dedup_scrub_duplicate_spans(spark, sf_dir):
    return D.scrub_duplicate_spans(t(spark, sf_dir, "documents"), n=8)


# the one definition of a SemDeDup pair (within-cluster, exact cosine,
# threshold) — interpolated into BOTH oracles below so they can never
# disagree about what a pair is
_SEMANTIC_PAIR_SQL = f"""SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_DUCK_COS} AS cosine
  FROM asg_final a JOIN asg_final b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id) q
WHERE cosine >= 0.35"""

_SEMANTIC_PAIRS_ORACLE = f"""
{_duck_kmeans_chain(k=8, iterations=2)}
{_SEMANTIC_PAIR_SQL}
"""


@register("dedup_semantic_pairs", _SEMANTIC_PAIRS_ORACLE)
def dedup_semantic_pairs(spark, sf_dir):
    """Cluster-pruned exact-cosine near-dup pairs — the SemDeDup shape:
    pair space sum(|c|^2)/2 instead of n^2/2, controlled by k."""
    return D.semantic_dedup_pairs(t(spark, sf_dir, "embeddings"),
                                  k=8, iterations=2, threshold=0.35)


# The end-product: semantic pairs -> connected components -> keep each
# cluster's minimum vec_id -> anti-join the corpus (the same
# pairs/clusters/survivors chain as the MinHash path, over embeddings).
_SEMANTIC_SURVIVORS_ORACLE = f"""
{_duck_kmeans_chain(k=8, iterations=2).replace("WITH ", "WITH RECURSIVE ", 1)},
pairs AS (
{_SEMANTIC_PAIR_SQL}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT e.vec_id FROM embeddings e
LEFT JOIN comp ON e.vec_id = comp.vec_id
WHERE comp.cluster_id IS NULL OR e.vec_id = comp.cluster_id
"""


@register("dedup_semantic_survivors", _SEMANTIC_SURVIVORS_ORACLE)
def dedup_semantic_survivors(spark, sf_dir):
    """The surviving corpus after semantic dedup: every near-dup cluster
    keeps its minimum vec_id, losers are anti-joined away — one extra
    uniform-key shuffle on top of the cluster-pruned pair plan, losers
    O(duplicates), never driver-collected."""
    emb = t(spark, sf_dir, "embeddings")
    pairs = D.semantic_dedup_pairs(emb, k=8, iterations=2, threshold=0.35)
    clusters = D.dedup_clusters(pairs)
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias("vec_id")))
    return emb.join(losers, "vec_id", "left_anti").select("vec_id")


# Incremental SemDeDup: the codebook trains on the OLD corpus only, the
# batch is assigned against those persisted centroids (extra_assign),
# pairs are cid-equality + exact cosine — the no-corpus-rescan ingest
# shape (llm/dedup.py:semantic_index / semantic_incremental_pairs).
_SEMANTIC_INCR_ORACLE = (
    _duck_kmeans_chain(k=8, iterations=2, src="old_emb",
                       extra_assign=("asg_new", "new_emb"))
    .replace(
        "WITH ",
        "WITH old_emb AS (SELECT * FROM embeddings WHERE vec_id % 17 <> 0),\n"
        "new_emb AS (SELECT * FROM embeddings WHERE vec_id % 17 = 0),\n", 1)
    + f"""
SELECT old_id, new_id, cosine FROM (
  SELECT a.vec_id AS old_id, n.vec_id AS new_id, {_DUCK_COS} AS cosine
  FROM asg_final a JOIN asg_new n ON a.cid = n.cid
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = n.vec_id) q
WHERE cosine >= 0.35
""")


@register("dedup_semantic_incremental", _SEMANTIC_INCR_ORACLE)
def dedup_semantic_incremental(spark, sf_dir):
    """New-batch-vs-corpus SemDeDup against the in-memory index pair:
    batch assigned to the corpus-trained centroids (one broadcast map
    pass), cid-keyed candidate join, exact-cosine verify on the
    index-carried vectors — the corpus text/vectors are scanned once at
    index build, never per ingest."""
    emb = t(spark, sf_dir, "embeddings")
    old = emb.filter("vec_id % 17 <> 0")
    new = emb.filter("vec_id % 17 = 0")
    rows, cents = D.semantic_index(old, k=8, iterations=2)
    return D.semantic_incremental_pairs(rows, cents, new, threshold=0.35)


# Persisted round-trip: same oracle — storage transparency IS the claim
# (bucketed rows + centroid sidecar read back, values identical).
@register("dedup_semantic_index_roundtrip", _SEMANTIC_INCR_ORACLE)
def dedup_semantic_index_roundtrip(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    old = emb.filter("vec_id % 17 <> 0")
    new = emb.filter("vec_id % 17 = 0")
    rows, cents = D.semantic_index(old, k=8, iterations=2)
    path = scratch_dir(spark, "sem_index_q")
    name = D.write_semantic_index(rows, cents, path, table="semidx_q")
    stored, pcents = D.read_semantic_index(spark, path, name)
    return D.semantic_incremental_pairs(stored, pcents, new,
                                        threshold=0.35)


# The FULL semantic ingest decision (the SemDeDup mirror of
# dedup_incremental_intra_batch): a new vector survives iff it has no
# corpus near-dup (cross pairs vs the index) AND no same-cluster batch
# sibling with a smaller id — both halves under the PERSISTED
# centroids, never a batch-side retrain.
_SEMANTIC_INGEST_ORACLE = (
    _duck_kmeans_chain(k=8, iterations=2, src="old_emb",
                       extra_assign=("asg_new", "new_emb"))
    .replace(
        "WITH ",
        "WITH old_emb AS (SELECT * FROM embeddings WHERE vec_id % 17 <> 0),\n"
        "new_emb AS (SELECT * FROM embeddings WHERE vec_id % 17 = 0),\n", 1)
    + f""",
dup AS (
  SELECT DISTINCT new_id FROM (
    SELECT a.vec_id AS old_id, n.vec_id AS new_id, {_DUCK_COS} AS cosine
    FROM asg_final a JOIN asg_new n ON a.cid = n.cid
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = n.vec_id) q
  WHERE cosine >= 0.35),
idup AS (
  SELECT DISTINCT id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_DUCK_COS} AS cosine
    FROM asg_new a JOIN asg_new b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id) q
  WHERE cosine >= 0.35)
SELECT vec_id FROM new_emb
WHERE vec_id NOT IN (SELECT new_id FROM dup)
  AND vec_id NOT IN (SELECT id_b FROM idup)
""")


@register("dedup_semantic_ingest_survivors", _SEMANTIC_INGEST_ORACLE)
def dedup_semantic_ingest_survivors(spark, sf_dir):
    """Full per-ingest semantic dedup decision: drop new vectors
    near-dup to the corpus (cid-keyed join vs the persisted index) AND
    near-dup to a smaller-id batch sibling in the same persisted
    cluster (the batch-local keep-first rule) — what remains is
    exactly the set appended to the corpus and the index."""
    emb = t(spark, sf_dir, "embeddings")
    old = emb.filter("vec_id % 17 <> 0")
    new = emb.filter("vec_id % 17 = 0")
    rows, cents = D.semantic_index(old, k=8, iterations=2)
    cross = D.semantic_incremental_pairs(rows, cents, new, threshold=0.35)
    intra = D.semantic_batch_pairs(cents, new, threshold=0.35)
    drop = (cross.select(F.col("new_id").alias("vec_id"))
            .unionByName(intra.select(F.col("id_b").alias("vec_id"))))
    return new.join(drop, "vec_id", "left_anti").select("vec_id")


_SRP_INDEX_ORACLE = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv,
         round(sqrt(list_sum(list_transform(embedding, x ->
           CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm_r
  FROM embeddings),
qstat AS (
  SELECT pos, CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT generate_subscripts(qv, 1) AS pos, unnest(qv) AS v
        FROM base) x
  GROUP BY pos),
qs AS (SELECT list(s ORDER BY pos) AS sv, MAX(cnt) AS n FROM qstat)
SELECT vec_id, CAST({_duck_srp_sig(0)} AS BIGINT) AS sk0,
       CAST({_duck_srp_sig(4)} AS BIGINT) AS sk1,
       CAST({_duck_srp_sig(8)} AS BIGINT) AS sk2,
       CAST({_duck_srp_sig(12)} AS BIGINT) AS sk3, norm_r
FROM base CROSS JOIN qs
"""


@register("dedup_embedding_srp_index", _SRP_INDEX_ORACLE)
def dedup_embedding_srp_index(spark, sf_dir):
    """The persisted SRP index artifact itself, oracle-gated (band keys +
    norm; the carried vector is the verify payload, not an output)."""
    idx = D.srp_index(t(spark, sf_dir, "embeddings"))
    return idx.select("vec_id", "sk0", "sk1", "sk2", "sk3",
                      F.round(F.col("__norm"), 6).alias("norm_r"))


_SRP_INCR_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
qstat AS (
  SELECT pos, CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT generate_subscripts(qv, 1) AS pos, unnest(qv) AS v
        FROM base WHERE vec_id < 250) x
  GROUP BY pos),
qs AS (SELECT list(s ORDER BY pos) AS sv, MAX(cnt) AS n FROM qstat),
sig AS (
  SELECT vec_id, embedding, {_duck_srp_sig(0)} AS sk0,
         {_duck_srp_sig(4)} AS sk1, {_duck_srp_sig(8)} AS sk2,
         {_duck_srp_sig(12)} AS sk3
  FROM base CROSS JOIN qs),
old AS (SELECT * FROM sig WHERE vec_id < 250),
new AS (SELECT * FROM sig WHERE vec_id >= 250),
cands AS (
  SELECT a.vec_id AS old_id, c.vec_id AS new_id
  FROM old a JOIN new c ON (
       a.sk0 = c.sk0
    OR (a.sk1 = c.sk1 AND a.sk0 <> c.sk0)
    OR (a.sk2 = c.sk2 AND a.sk0 <> c.sk0 AND a.sk1 <> c.sk1)
    OR (a.sk3 = c.sk3 AND a.sk0 <> c.sk0 AND a.sk1 <> c.sk1
        AND a.sk2 <> c.sk2)))
SELECT old_id, new_id, cosine FROM (
  SELECT old_id, new_id, {_DUCK_COS} AS cosine
  FROM cands
  JOIN embeddings ea ON ea.vec_id = old_id
  JOIN embeddings eb ON eb.vec_id = new_id) q
WHERE cosine >= 0.35
"""


@register("dedup_embedding_incremental", _SRP_INCR_ORACLE)
def dedup_embedding_incremental(spark, sf_dir):
    """Per-ingest embedding dedup: old corpus (vec_id < 250) as the
    persisted index, the rest as the incoming batch — index-only joins,
    the corpus is never rescanned (llm/dedup.py srp_incremental_pairs).
    The centroid stats are computed ONCE at index-build time and passed
    through (the persisted-metadata production shape): the ingest never
    re-derives them from the index rows."""
    emb = t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    stats = D.srp_center_stats(old).localCheckpoint(eager=False)
    idx = D.srp_index(old, stats=stats)
    return D.srp_incremental_pairs(idx, emb.filter(F.col("vec_id") >= 250),
                                   threshold=0.35, stats=stats)


@register("contamination_bloom_prefilter", _CONTAMINATION_ORACLE)
def contamination_bloom_prefilter(spark, sf_dir):
    """Bloom-prefiltered decontamination: IDENTICAL output to
    contamination_5gram_vs_eval (the bitmap only prunes; exact verify
    follows), so it shares that query's oracle — the scale path for
    100 TB corpora (broadcast bitmap, map-side gram kill)."""
    from flink_release_1_10_0_spark.llm.text import ngram_contamination_bloom
    docs = t(spark, sf_dir, "documents")
    return ngram_contamination_bloom(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"), n=5)
