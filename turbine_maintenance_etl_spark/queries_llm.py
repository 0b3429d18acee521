"""LLM-data-pipeline query registry entries (dedup / text analysis /
similarity search) with DuckDB oracles.

The oracles mirror the exact semantics of the library operators in
``turbine_maintenance_etl_spark.llm`` — including the portable md5-based
hashes, so even MinHash-LSH candidate generation is hash-checkable
across engines (most systems can't oracle-test their LSH; we can because
the hash family is engine-independent by construction).
"""

from __future__ import annotations

import random
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.llm import dedup as D
from turbine_maintenance_etl_spark.llm import similarity as S
from turbine_maintenance_etl_spark.llm import text as TX
from turbine_maintenance_etl_spark.llm.multimodal import wav_container
from turbine_maintenance_etl_spark.queries import REGISTRY, _t, register
from turbine_maintenance_etl_spark.util import ensure_parallelism

# DuckDB token / shingle fragments shared by several oracles
# TOTAL like the engine's text.tokens_expr: NULL text tokenizes to an
# EMPTY list, never NULL (r10 adversarial sweep — an un-coalesced NULL
# here made every len()/avg()/unnest() downstream silently disagree
# with the engine on NULL-text documents: n_tokens NULL vs 0, BM25
# avgdl over a smaller doc set, curation mixes dropping the doc's mass)
_DUCK_TOKS = (
    r"coalesce(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''), [])"
)
# Shared sanitized-vector CTE body for every embeddings oracle (one
# definition, not seven copies — r10 review): NULL elements become NaN
# BEFORE any dot product (DuckDB's list_inner_product RAISES on a NULL
# element, and SQL gives no conjunct-order guarantee to guard it, while
# the engine's norm aggregate nulls out), then the isnan/positive-norm
# filter drops NaN-element, zero and NULL vectors — byte-identical
# exclusions to the engine's _nonzero_vectors.
_DUCK_VECS = """(SELECT vec_id, v FROM (
                   SELECT vec_id,
                          list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> coalesce(x, 'nan'::DOUBLE)) AS v
                   FROM embeddings WHERE embedding IS NOT NULL)
               WHERE NOT isnan(list_dot_product(v, v))
                 AND list_dot_product(v, v) > 0)"""
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
    " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))"
)
# portable 60-bit hash of a string s: first 15 hex chars of md5, folded
# (mirrors dedup.md5_hash64; DuckDB lacks conv(hex, 16, 10) so fold digits)
_DUCK_HASH64 = (
    "list_reduce(list_transform(string_split(substr(md5({s}), 1, 15), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
)


@register(
    "dedup_exact_groups",
    """
    SELECT CASE WHEN k NOT LIKE chr(0) || '%' THEN k END AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*)    AS dup_count
    FROM (SELECT doc_id,
                 COALESCE(md5(text),
                          chr(0) || 'null:' || CAST(doc_id AS VARCHAR)) AS k
          FROM documents)
    GROUP BY k
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


@register(
    "dedup_exact_survivors",
    """
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY COALESCE(md5(text),
                                         chr(0) || 'null:' || CAST(doc_id AS VARCHAR))
                   ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_t(spark, sf_dir, "documents")).select("doc_id", "lang", "source")


@register(
    "text_token_stats",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                 AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT)  AS n_distinct_tokens,
           CAST(length(text) AS BIGINT)              AS n_chars_calc
    FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = TX.tokens_expr("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
    )


_EN = TX.STOPWORDS["en"]
_EN_SQL = ", ".join(f"'{w}'" for w in _EN)


@register(
    "text_quality_signals",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                 / NULLIF(CAST(len(toks) AS DOUBLE), 0), 4) AS mean_token_len,
           ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / NULLIF(CAST(length(text) AS DOUBLE), 0), 4) AS punct_ratio,
           ROUND(CAST(len(list_filter(toks, x -> lower(x) IN ({_EN_SQL}))) AS DOUBLE)
                 / NULLIF(CAST(len(toks) AS DOUBLE), 0), 4) AS stopword_ratio,
           ROUND(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                 / NULLIF(CAST(length(text) AS DOUBLE), 0), 4) AS upper_ratio
    FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    """,
)
def text_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = TX.add_quality_signals(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "upper_ratio",
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, words in TX.STOPWORDS.items():
        in_list = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"ROUND(CAST(len(list_filter(dt, x -> x IN ({in_list}))) AS DOUBLE)"
            f" / NULLIF(CAST(len(dt) AS DOUBLE), 0), 4) AS score_{lang}"
        )
    langs = list(TX.STOPWORDS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = f"CASE WHEN {best} IS NULL OR {best} = 0 THEN 'und' "
    case += " ".join(f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs)
    case += " END"
    return f"""
    SELECT doc_id, lang, {", ".join(f"score_{lang}" for lang in langs)},
           {case} AS lang_pred
    FROM (SELECT doc_id, lang, {", ".join(score_cols)}
          FROM (SELECT doc_id, lang,
                       list_distinct({_DUCK_TOKS.replace("text", "lower(text)")}) AS dt
                FROM documents))
    """


@register("text_language_id", _langid_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = TX.add_language_scores(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "lang", *[f"score_{lang}" for lang in TX.STOPWORDS], "lang_pred"
    )


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           -- token-less docs fingerprint NULL on both engines (simhash
           -- doctrine; r10 adversarial sweep)
           CASE WHEN len(toks) > 0
                THEN md5(array_to_string(list_sort(list_distinct(toks)), ' '))
           END AS fingerprint
    FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE) AS inter,
               CAST(len(a.s) + len(b.s) AS DOUBLE) AS total
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, ROUND(inter / NULLIF(total - inter, 0), 4) AS jaccard
    FROM pairs WHERE ROUND(inter / NULLIF(total - inter, 0), 4) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def _minhash_oracle(num_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    # Coefficient generation MUST mirror dedup.minhash_signatures exactly:
    # same seed, same randrange bounds, same (a*h+b) mod 2^31-1 formula
    # over the 60-bit md5 hash pre-reduced mod p.
    rng = random.Random(seed)
    p = (1 << 31) - 1
    coeffs = [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)
    ]
    h = _DUCK_HASH64.format(s="s")
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(hs, h -> (h % {p} * {a} + {b}) % {p}), 'min') AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, md5(concat_ws(',', "
        + ", ".join(f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows))
        + ")) AS bh FROM sigs"
        for bi in range(bands)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)),
    hashed AS (SELECT doc_id, list_transform(s, s -> {h}) AS hs FROM sh
               -- shingle-less docs emit NO band rows, mirroring the
               -- engine's lsh_band_buckets bh-NULL filter (otherwise
               -- every short/empty doc shares the md5-of-empty bucket
               -- in every band -- r10 adversarial sweep)
               WHERE len(s) > 0),
    sigs AS (SELECT doc_id, {mh_cols} FROM hashed),
    buckets AS ({band_selects})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs — the linear-scale near-dup path.
    Oracle-checkable because the hash family is portable md5 (an LSH
    rarity); at 100 TB the shuffle key is the (band, band-hash) bucket."""
    return D.minhash_lsh_candidates(_t(spark, sf_dir, "documents"))


_COS = (
    "list_dot_product({a}, {b}) / NULLIF(sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})), 0)"
)


@register(
    "sim_brute_force_topk",
    f"""
    WITH e AS {_DUCK_VECS},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND({_COS.format(a="q.qv", b="e.v")}, 6) AS cosine
        FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def sim_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(emb, queries, k=5)


def _lsh_topk_oracle(dim: int = 64, num_planes: int = 6, seed: int = 42) -> str:
    planes = S.random_hyperplanes(dim, num_planes, seed)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, {plane!r}::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH e AS {_DUCK_VECS},
    b AS (SELECT vec_id, v, CAST({bucket} AS INT) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 25),
    scored AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               ROUND({_COS.format(a="q.qv", b="b.v")}, 6) AS cosine
        FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """


@register("sim_lsh_topk", _lsh_topk_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN — same fixed seeded hyperplanes embedded in
    both engines, so the approximate result is still exactly checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_bucketed_topk(emb, queries, dim=64, k=5, num_planes=6)


@register("sim_ivf_topk", None)  # iterative KMeans -> rows-only driver check
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (KMeans coarse quantizer + probed-cluster exact
    cosine). No SQL oracle — the quantizer is iterative; recall vs the
    brute-force baseline is asserted in tests/test_llm_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=3)


def _ivf_sampled_oracle(
    n_clusters: int = 16, n_probe: int = 4, k: int = 5, max_qid: int = 25
) -> str:
    cos = _COS
    return f"""
    WITH e AS {_DUCK_VECS},
    nz AS (SELECT vec_id, v FROM e),  -- e is already sanitized (_DUCK_VECS)
    ord AS (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                   AS rn
        FROM nz),
    ctr AS (SELECT CAST(rn - 1 AS INT) AS cid, v AS cv
            FROM ord WHERE rn <= {n_clusters}),
    asg AS (
        SELECT vec_id, v, cid FROM (
            SELECT nz.vec_id, nz.v, ctr.cid,
                   ROW_NUMBER() OVER (PARTITION BY nz.vec_id
                        ORDER BY ROUND({cos.format(a="nz.v", b="ctr.cv")}, 6)
                            DESC, ctr.cid) AS arn
            FROM nz CROSS JOIN ctr) WHERE arn = 1),
    qp AS (
        SELECT query_id, qv, cid FROM (
            SELECT nz.vec_id AS query_id, nz.v AS qv, ctr.cid,
                   ROW_NUMBER() OVER (PARTITION BY nz.vec_id
                        ORDER BY ROUND({cos.format(a="nz.v", b="ctr.cv")}, 6)
                            DESC, ctr.cid) AS prn
            FROM nz CROSS JOIN ctr WHERE nz.vec_id < {max_qid})
        WHERE prn <= {n_probe}),
    scored AS (
        SELECT qp.query_id, a.vec_id AS neighbor_id,
               ROUND({cos.format(a="qp.qv", b="a.v")}, 6) AS cosine
        FROM qp JOIN asg a USING (cid)
        WHERE a.vec_id <> qp.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


@register("sim_ivf_sampled_topk", _ivf_sampled_oracle())
def sim_ivf_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with a hash-sampled coarse quantizer
    (llm/similarity.py:ivf_sampled_topk) — FAISS's sample-seeding step
    without the Lloyd refinement, which makes it the IVF-family member
    whose ENTIRE path (centroid pick in portable md5 order, rounded-
    cosine argmax assignment, n_probe probing, in-cluster exact scoring)
    a DuckDB twin reproduces value-for-value. The trained-quantizer
    variants (sim_ivf_topk / sim_ivfpq_topk) stay the production
    recall path; this entry pins the partition-pruning MACHINERY
    exactly. Same plan shape as ivf_topk: bounded centroid collect,
    map-only literal argmax, probe-cluster equi-join, broadcast query
    side."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_sampled_topk(emb, queries, k=5, n_clusters=16, n_probe=4)


@register(
    "text_tfidf_top_terms",
    f"""
    WITH terms AS (
        SELECT doc_id, UNNEST({_DUCK_TOKS}) AS term FROM documents),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    dfreq AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf
        GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 2),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * (LN((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0), 6)
               AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
        SELECT doc_id, term, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        FROM scored)
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the canonical two-shuffle
    TF/DF pipeline with broadcast vocabulary join (llm/text.py)."""
    return TX.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@register(
    "pipeline_corpus_curation",
    f"""
    WITH q AS (
        SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
    kept AS (
        SELECT doc_id, text, toks FROM q
        WHERE len(toks) >= 20
          AND CAST(len(list_filter(toks, x -> lower(x) IN ({_EN_SQL}))) AS DOUBLE)
              / NULLIF(CAST(len(toks) AS DOUBLE), 0) >= 0.05),
    surv AS (
        SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    docs2 AS (
        SELECT k.doc_id, k.toks FROM kept k JOIN surv USING (doc_id)),
    starts AS (
        SELECT doc_id, toks,
               UNNEST(list_filter(generate_series(1, len(toks), 56),
                                  st -> st = 1 OR st + 8 <= len(toks))) AS st
        FROM docs2 WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(LEAST(64, len(toks) - st + 1)) AS BIGINT) AS total_tokens
    FROM starts GROUP BY doc_id
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline (llm/curation.py): quality gate →
    exact dedup → 64/8 chunking, reported as per-document chunk stats.
    One wide stage (the dedup shuffle) in the whole plan."""
    from turbine_maintenance_etl_spark.llm.curation import curate_corpus

    chunks = curate_corpus(_t(spark, sf_dir, "documents"))
    return chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("chunk_tokens").alias("total_tokens"),
    )


def _cluster_oracle() -> str:
    pairs = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN reach r ON e.dst = r.node)
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
    """


@register("dedup_cluster_resolution", _cluster_oracle())
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs resolved to duplicate clusters (connected components
    via iterative min-label propagation). The oracle computes the same
    components with a recursive CTE (transitive closure + min) — an
    iterative Spark algorithm still exactly oracle-checked."""
    pairs = D.minhash_lsh_candidates(_t(spark, sf_dir, "documents"))
    return D.resolve_duplicate_clusters(pairs)


@register(
    "dedup_neardup_survivors",
    f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN reach r ON e.dst = r.node),
    clusters AS (SELECT node AS doc_id, MIN(label) AS cluster_id
                 FROM reach GROUP BY node)
    SELECT d.doc_id, d.source
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id
    """,
)
def dedup_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept corpus after near-dup removal: cluster members collapse
    to the min-id representative, untouched docs pass through (left
    join + filter — clusters table ≪ corpus, broadcastable; rule lives
    in ``dedup.neardup_survivors``, shared with dedup_graph_suite)."""
    docs = _t(spark, sf_dir, "documents")
    clusters = D.resolve_duplicate_clusters(D.minhash_lsh_candidates(docs))
    return D.neardup_survivors(docs, clusters).select("doc_id", "source")


@register(
    "text_repetition_signals",
    r"""
    WITH toks AS (
        SELECT doc_id, text,
               -- coalesce guard: NULL text reads as zero words, like
               -- the engine's tokens_expr (r10 adversarial sweep)
               coalesce(list_filter(regexp_split_to_array(text, '\s+'),
                                    x -> x <> ''), []) AS words
        FROM documents
    ),
    bglist AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                              i -> words[i] || ' ' || words[i + 1]) AS bgs
        FROM toks
    ),
    bg AS (SELECT doc_id, u.b AS b FROM bglist, UNNEST(bgs) AS u(b)),
    bgc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bgs AS (
        SELECT doc_id, SUM(c) AS n_bigrams, COUNT(*) AS n_distinct, MAX(c) AS top
        FROM bgc GROUP BY 1
    ),
    ws AS (
        SELECT doc_id,
               LEN(words) AS n_words,
               LEN(list_distinct(words)) AS n_distinct_words,
               COALESCE(list_aggregate(list_transform(words, x -> LENGTH(x)), 'sum'), 0)
                   AS sum_len,
               LEN(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
               LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
                   + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) // 3 AS n_symbols
        FROM toks
    )
    SELECT ws.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND((n_words - n_distinct_words) / CAST(NULLIF(n_words, 0) AS DOUBLE), 4)
               AS dup_word_frac,
           ROUND((n_bigrams - n_distinct) / CAST(NULLIF(n_bigrams, 0) AS DOUBLE), 4)
               AS dup_bigram_frac,
           ROUND(top / CAST(NULLIF(n_bigrams, 0) AS DOUBLE), 4) AS top_bigram_frac,
           ROUND(sum_len / CAST(NULLIF(n_words, 0) AS DOUBLE), 4) AS mean_word_len,
           ROUND(n_alpha / CAST(NULLIF(n_words, 0) AS DOUBLE), 4) AS alpha_word_frac,
           ROUND(n_symbols / CAST(NULLIF(n_words, 0) AS DOUBLE), 4) AS symbol_word_ratio
    FROM ws LEFT JOIN bgs ON ws.doc_id = bgs.doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality filters (dup word/bigram
    fractions, top-bigram fraction, symbol-to-word ratio) as a
    ZERO-shuffle narrow map — see llm/quality.py. The oracle recomputes
    every statistic relationally (unnest → window bigrams → group by)."""
    from turbine_maintenance_etl_spark.llm.quality import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


@register(
    "text_decontamination",
    f"""
    WITH toks AS (
        SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
    ),
    sh AS (SELECT doc_id, source, {_DUCK_SHINGLES} AS sh FROM toks),
    bench AS (SELECT DISTINCT u.s AS s FROM sh, UNNEST(sh) AS u(s)
              WHERE source = 'src0'),
    cand AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
    exploded AS (SELECT doc_id, u.s AS s FROM cand, UNNEST(sh) AS u(s)),
    scored AS (
        SELECT e.doc_id, COUNT(*) AS n_shingles,
               SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_contaminated
        FROM exploded e LEFT JOIN bench b ON e.s = b.s GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
           ROUND(n_contaminated / CAST(NULLIF(n_shingles, 0) AS DOUBLE), 4)
               AS contamination,
           CAST(CASE WHEN ROUND(n_contaminated / CAST(NULLIF(n_shingles, 0) AS DOUBLE), 4) > 0.5
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM cand c LEFT JOIN scored ON c.doc_id = scored.doc_id
    """,
)
def text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: distinct-trigram overlap of every
    candidate doc (source <> src0) against the src0 'benchmark' corpus,
    via a broadcast shingle-set join — see llm/quality.py."""
    from turbine_maintenance_etl_spark.llm.quality import decontamination_scores

    docs = _t(spark, sf_dir, "documents")
    return decontamination_scores(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


@register(
    "text_decontamination_bloom",
    REGISTRY["text_decontamination"].oracle,  # EXACT twin: bloom is a prefilter, verify join restores exactness
)
def text_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through the bloom-prefilter path
    (llm/quality.py:bloom_decontamination): the benchmark shingle set is
    compressed to a broadcast bitmap (~10 bits/shingle at 1% FPR), corpus
    shingles are ruled out MAP-SIDE by a vectorized bit test, and only
    the surviving ~1% enter the exact verification join — identical
    results to text_decontamination (same DuckDB oracle), but the
    corpus-side join input shrinks by ~100x, which is what keeps
    decontamination feasible when the benchmark side is too large to
    broadcast exactly."""
    from turbine_maintenance_etl_spark.llm.quality import bloom_decontamination

    docs = _t(spark, sf_dir, "documents")
    return bloom_decontamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


@register(
    "corpus_datacard",
    """
    WITH q AS (
        SELECT doc_id, source, lang,
               md5(text) AS h,
               COALESCE(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                        x -> x <> '')), 0)
                   AS n_tokens,
               text
        FROM documents
    ),
    q2 AS (
        SELECT *,
               CASE WHEN n_tokens > 0 THEN
                   ROUND(len(list_filter(
                       list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
                       x -> list_contains(
                           ['the','a','of','and','to','in','is','that','it','for'], lower(x))
                   )) / CAST(n_tokens AS DOUBLE), 4)
               END AS stopword_ratio,
               CASE WHEN length(text) > 0 THEN
                   ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                         / CAST(length(text) AS DOUBLE), 4)
               END AS punct_ratio
        FROM q
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(CASE WHEN n_tokens = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS n_empty_docs,
               CAST(SUM(n_tokens) AS DOUBLE) AS total_tokens,
               AVG(n_tokens) AS mean_tokens_per_doc,
               CAST(COUNT(DISTINCT h)
                    + SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   AS n_distinct_texts,
               CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS DOUBLE) AS n_langs,
               AVG(stopword_ratio) AS mean_stopword_ratio,
               AVG(punct_ratio) AS mean_punct_ratio,
               AVG(CASE WHEN n_tokens >= 20 AND stopword_ratio >= 0.05
                        THEN 1.0 ELSE 0.0 END) AS quality_pass_frac
        FROM q2
    )
    SELECT metric, value FROM (
        SELECT 'n_docs' AS metric, ROUND(n_docs, 4) AS value FROM agg
        UNION ALL SELECT 'n_empty_docs', ROUND(n_empty_docs, 4) FROM agg
        UNION ALL SELECT 'total_tokens', ROUND(total_tokens, 4) FROM agg
        UNION ALL SELECT 'mean_tokens_per_doc', ROUND(mean_tokens_per_doc, 4) FROM agg
        UNION ALL SELECT 'n_distinct_texts', ROUND(n_distinct_texts, 4) FROM agg
        UNION ALL SELECT 'exact_dup_frac',
                         ROUND(1.0 - n_distinct_texts / n_docs, 4) FROM agg
        UNION ALL SELECT 'n_sources', ROUND(n_sources, 4) FROM agg
        UNION ALL SELECT 'n_langs', ROUND(n_langs, 4) FROM agg
        UNION ALL SELECT 'mean_stopword_ratio', ROUND(mean_stopword_ratio, 4) FROM agg
        UNION ALL SELECT 'mean_punct_ratio', ROUND(mean_punct_ratio, 4) FROM agg
        UNION ALL SELECT 'quality_pass_frac', ROUND(quality_pass_frac, 4) FROM agg
    )
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus data card (llm/text.py:corpus_report): the release
    statistics artifact for a training corpus — doc/token mass,
    emptiness, EXACT duplication rate, source/language diversity, mean
    quality signals, quality-gate pass rate — computed in ONE
    aggregation job and melted to long (metric, value) rows. All exact,
    so the oracle checks every number."""
    from turbine_maintenance_etl_spark.llm.text import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents"))


@register(
    "dedup_normalized_exact",
    """
    WITH n AS (
        SELECT doc_id,
               CASE WHEN norm <> '' THEN md5(norm) END AS norm_hash
        FROM (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(text), '\\p{N}', '0', 'g'),
                           '[^\\p{L}0 ]', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS norm
            FROM documents
        )
    )
    SELECT doc_id, norm_hash,
           -- NULL-hash docs (empty/punct-only/NULL normalization) each
           -- survive as their own class, like normalized_dedup's
           -- per-doc key; the bare window flagged only the min-id of
           -- the shared NULL partition (r10 adversarial sweep)
           norm_hash IS NULL
               OR doc_id = MIN(doc_id) OVER (PARTITION BY norm_hash) AS survivor
    FROM n
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-normalization exact dedup (llm/text.py:normalized_dedup):
    lowercase + digit->0 + punctuation strip + whitespace collapse,
    then min-id survivor per normalization class — catches the
    case/number/punct near-variants plain exact dedup misses, at the
    same one-digest-shuffle cost. Oracle applies the identical regex
    normalization in DuckDB."""
    from turbine_maintenance_etl_spark.llm.text import normalized_dedup

    return normalized_dedup(_t(spark, sf_dir, "documents"))


@register(
    "pipeline_curation_v3",
    rf"""
    WITH q AS (
        SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
    kept AS (
        SELECT doc_id, text, toks FROM q
        WHERE len(toks) >= 20
          AND CAST(len(list_filter(toks, x -> lower(x) IN ({_EN_SQL}))) AS DOUBLE)
              / NULLIF(CAST(len(toks) AS DOUBLE), 0) >= 0.05),
    lmtoks AS (
        SELECT doc_id,
               list_prepend('<s>', list_prepend('<s>', list_filter(
                   regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))) AS t
        FROM kept),
    grams AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM lmtoks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        WHERE len(t) > 2),
    tri_all AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM grams GROUP BY 1, 2, 3),
    hist2 AS (SELECT w1, w2, SUM(c3) AS ch2 FROM tri_all GROUP BY 1, 2),
    pair2_all AS (SELECT w2 AS wa, w3 AS wb, SUM(c3) AS cb2
                  FROM tri_all GROUP BY 1, 2),
    hist1 AS (SELECT wa AS w, SUM(cb2) AS ch1 FROM pair2_all GROUP BY 1),
    uni AS (SELECT wb AS w, SUM(cb2) AS cu FROM pair2_all GROUP BY 1),
    tri AS (SELECT * FROM tri_all WHERE c3 >= 2),
    pair2 AS (SELECT * FROM pair2_all WHERE cb2 >= 2),
    tot AS (SELECT SUM(cu) AS n, COUNT(*) AS v FROM uni),
    lmscored AS (
        SELECT g.doc_id,
               ln(CASE
                    WHEN t3.c3 IS NOT NULL THEN t3.c3 / h2.ch2
                    WHEN p2.cb2 IS NOT NULL AND h1.ch1 IS NOT NULL
                        THEN 0.4 * p2.cb2 / h1.ch1
                    WHEN u.cu IS NOT NULL THEN 0.16 * u.cu / tot.n
                    ELSE 0.16 / (tot.v + 1)
                  END) AS ls
        FROM grams g
        LEFT JOIN tri t3 ON g.w1 = t3.w1 AND g.w2 = t3.w2 AND g.w3 = t3.w3
        LEFT JOIN hist2 h2 ON g.w1 = h2.w1 AND g.w2 = h2.w2
        LEFT JOIN pair2 p2 ON g.w2 = p2.wa AND g.w3 = p2.wb
        LEFT JOIN hist1 h1 ON g.w2 = h1.w
        LEFT JOIN uni u ON g.w3 = u.w
        CROSS JOIN tot),
    ppl AS (
        SELECT doc_id, ROUND(exp(-(SUM(ls) / COUNT(*))), 4) AS perplexity
        FROM lmscored GROUP BY doc_id),
    ranked AS (
        SELECT k.doc_id, k.text, k.toks,
               ROW_NUMBER() OVER (ORDER BY p.perplexity, k.doc_id) AS rn,
               COUNT(*) OVER () AS n_total
        FROM kept k JOIN ppl p USING (doc_id)),
    gated AS (
        SELECT doc_id, text, toks FROM ranked
        WHERE rn <= FLOOR(0.9 * n_total)),
    nrm AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(lower(text), '\p{{N}}', '0', 'g'),
                       '[^\p{{L}}0 ]', ' ', 'g'),
                   '\s+', ' ', 'g')) AS nm
        FROM gated),
    survids AS (
        SELECT MIN(doc_id) AS doc_id FROM nrm WHERE nm <> '' GROUP BY md5(nm)
        UNION ALL
        SELECT doc_id FROM nrm WHERE nm IS NULL OR nm = ''),
    surv AS (
        SELECT g.doc_id, g.toks, len(g.toks) AS n_tokens
        FROM gated g JOIN survids USING (doc_id)),
    sgrams AS (
        SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS g
        FROM surv, UNNEST(generate_series(1, n_tokens - 7)) AS u(i)
        WHERE n_tokens >= 8),
    occ AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY g) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM sgrams),
    marked AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn > 1),
    canon AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn = 1),
    canon_cov AS (
        SELECT DISTINCT doc_id, idx
        FROM canon, UNNEST(generate_series(pos, pos + 7)) AS v(idx)),
    removed AS (
        SELECT DISTINCT m.doc_id, m.idx
        FROM (SELECT DISTINCT doc_id, idx
              FROM marked, UNNEST(generate_series(pos, pos + 7)) AS v(idx)) m
        ANTI JOIN canon_cov c ON m.doc_id = c.doc_id AND m.idx = c.idx),
    affected AS (SELECT DISTINCT doc_id FROM removed),
    tok_stream AS (
        SELECT s.doc_id, i AS idx, s.toks[i] AS tok
        FROM surv s JOIN affected USING (doc_id),
             UNNEST(generate_series(1, s.n_tokens)) AS u(i)),
    keptt AS (
        SELECT ts.doc_id, ts.idx, ts.tok FROM tok_stream ts
        ANTI JOIN removed r ON ts.doc_id = r.doc_id AND ts.idx = r.idx),
    rebuilt AS (
        SELECT doc_id, list(tok ORDER BY idx) AS ktoks
        FROM keptt GROUP BY doc_id),
    final AS (
        SELECT s.doc_id,
               CASE WHEN a.doc_id IS NULL THEN s.toks
                    ELSE COALESCE(r.ktoks, CAST([] AS VARCHAR[])) END AS ftoks
        FROM surv s
        LEFT JOIN affected a USING (doc_id)
        LEFT JOIN rebuilt r USING (doc_id)),
    starts AS (
        SELECT doc_id, ftoks,
               UNNEST(list_filter(generate_series(1, len(ftoks), 56),
                                  st -> st = 1 OR st + 8 <= len(ftoks))) AS st
        FROM final WHERE len(ftoks) > 0)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS BIGINT)
               AS chunk_id,
           array_to_string(ftoks[st : st + 63], ' ') AS chunk_text,
           LEAST(64, len(ftoks) - st + 1) AS chunk_tokens
    FROM starts
    """,
)
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 capstone chain (llm/curation.py:curate_corpus_v3):
    quality gate -> SB3 trigram LM rank gate (distributed exact cut) ->
    CCNet-normalized exact dedup -> ExactSubstr span REWRITE -> chunk,
    now exactly oracle-checked END TO END: the DuckDB twin composes the
    same five stage fragments the individually-graded entries pin
    (pipeline_curation_v2's gate + rank cut with the sb3 scorer of
    quality_sb3_perplexity, dedup_normalized_exact's normalization
    class, dedup_span_rewrite's canonical-protected span removal,
    text_chunking's 64/8 windows over the CLEANED token stream). The
    invariant tests (survivor subset of the gate, >80% residual
    duplicated-span-mass reduction) still pin the composition's
    semantics in pytest."""
    from turbine_maintenance_etl_spark.llm.curation import curate_corpus_v3

    return curate_corpus_v3(_t(spark, sf_dir, "documents"))


# ANN indexes are built once and queried many times (FAISS's contract);
# the registry entries model that by memoizing the fitted index per
# corpus directory. Training is deterministic (seeded, hash-ordered
# sample), so the memo changes cost, never results.
_ANN_INDEX_CACHE: dict[tuple, object] = {}


def _cached_index(key: tuple, fit):
    if key not in _ANN_INDEX_CACHE:
        _ANN_INDEX_CACHE[key] = fit()
    return _ANN_INDEX_CACHE[key]


@register("sim_ivfpq_topk", None)  # iterative k-means: rows-only check
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (llm/similarity.py:ivfpq_topk — the FAISS IVFPQ
    shape): coarse clusters prune WHICH candidates are scored
    (n_probe/n_clusters of the corpus), residual PQ codes compress WHAT
    each candidate stores; assign+encode+reconstruct is one
    Arrow-batched numpy pass. The index is fit once per corpus
    (llm/similarity.py:fit_ivfpq) and reused — the production ANN
    shape. Recall floor + end-to-end determinism pytest-pinned."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = _cached_index(
        ("ivfpq", sf_dir, 64, 16, 16, 6),
        lambda: S.fit_ivfpq(emb, dim=64, n_clusters=16, m=16, nbits=6),
    )
    return S.ivfpq_topk(
        emb, queries, dim=64, k=5, n_clusters=16, n_probe=8, m=16, nbits=6,
        index=index,
    )


@register("sim_pq_topk", None)  # iterative k-means codebooks: rows-only check
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (FAISS PQ shape, llm/similarity.py):
    per-subspace codebooks trained on a bounded deterministic sample,
    map-only codegen encoding to 16-byte codes (16x smaller index than
    fp32), asymmetric-distance top-k against JVM-reconstructed
    centroids — the compressed-index scale path next to IVF's
    partition-pruning path. Recall floor vs brute force pytest-pinned."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = _cached_index(
        ("pq", sf_dir, 64, 16, 8),
        lambda: S.fit_pq(emb, dim=64, m=16, nbits=8),
    )
    return S.pq_topk(emb, queries, dim=64, k=5, m=16, nbits=8, codebooks=books)


def _pq_sampled_oracle(
    m: int = 16, nbits: int = 4, k: int = 5, max_qid: int = 20, dim: int = 64
) -> str:
    dsub, ksub = dim // m, 1 << nbits
    # explicit LEFT-ASSOCIATIVE squared-distance sum: numpy's small-array
    # .sum(-1) and SQL's a+b+c+d both fold sequentially, so the encode
    # argmin sees bit-identical doubles in both engines
    dist = " + ".join(
        f"(nz.v[cw.s*{dsub}+{j}] - cw.cv[{j}]) * (nz.v[cw.s*{dsub}+{j}] - cw.cv[{j}])"
        for j in range(1, dsub + 1)
    )
    return f"""
    WITH e AS {_DUCK_VECS},
    nz AS (SELECT vec_id, v FROM e),  -- e is already sanitized (_DUCK_VECS)
    smp AS (
        SELECT v,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                   AS rn
        FROM nz),
    cw AS (
        SELECT ss.s AS s, CAST(rn - 1 AS INT) AS code,
               smp.v[ss.s * {dsub} + 1 : ss.s * {dsub} + {dsub}] AS cv
        FROM smp, generate_series(0, {m - 1}) AS ss(s)
        WHERE rn <= {ksub}),
    enc AS (
        SELECT vec_id, s, code FROM (
            SELECT nz.vec_id, cw.s, cw.code,
                   ROW_NUMBER() OVER (PARTITION BY nz.vec_id, cw.s
                        ORDER BY {dist}, cw.code) AS arn
            FROM nz CROSS JOIN cw) WHERE arn = 1),
    recon AS (
        SELECT en.vec_id, flatten(list(c2.cv ORDER BY en.s)) AS rv
        FROM enc en JOIN cw c2 ON en.s = c2.s AND en.code = c2.code
        GROUP BY en.vec_id),
    q AS (SELECT vec_id AS query_id, v AS qv FROM nz WHERE vec_id < {max_qid}),
    scored AS (
        SELECT q.query_id, r.vec_id AS neighbor_id,
               ROUND({_COS.format(a="q.qv", b="r.rv")}, 6) AS cosine
        FROM q CROSS JOIN recon r WHERE r.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked
    WHERE rank <= {k} AND cosine IS NOT NULL
    """


@register("sim_pq_sampled_topk", _pq_sampled_oracle())
def sim_pq_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with HASH-SAMPLED codebooks
    (llm/similarity.py:fit_pq_sampled) — the compression axis's
    exactly-SQL-checkable member, completing what sim_ivf_sampled_topk
    does for the partition-pruning axis: codeword j of subspace s is
    sample vector j's s-th subvector (sample = first 2^nbits vectors in
    portable md5(id) order), so the DuckDB twin re-derives every
    codeword from data and replays encode (left-associative squared-L2
    argmin, ties to the lowest code) → reconstruct → asymmetric cosine
    → top-k value-for-value. The Lloyd-trained sim_pq_topk stays the
    recall path; the Arrow-batched encode/reconstruct kernels
    (_pq_codes/_pq_recon) and the plan shape are shared between both."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = _cached_index(
        ("pq_sampled", sf_dir, 64, 16, 4),
        lambda: S.fit_pq_sampled(emb, dim=64, m=16, nbits=4),
    )
    return S.pq_topk(emb, queries, dim=64, k=5, m=16, nbits=4, codebooks=books)


def _ivfpq_sampled_oracle(
    n_clusters: int = 16,
    n_probe: int = 4,
    k: int = 5,
    max_qid: int = 20,
    dim: int = 64,
    m: int = 16,
    nbits: int = 4,
) -> str:
    dsub, ksub = dim // m, 1 << nbits
    cos = _COS
    # residual codeword j of subspace s: (sample vector - its assigned
    # centroid) sliced — explicit element lists so every subtraction is
    # the same single IEEE op the Spark/numpy side executes
    cw_cv = (
        "["
        + ", ".join(
            f"sc.v[ss.s*{dsub}+{j}] - c2.cv[ss.s*{dsub}+{j}]"
            for j in range(1, dsub + 1)
        )
        + "]"
    )
    # encode argmin: LEFT-ASSOCIATIVE squared-L2 between the candidate's
    # residual subvector and the codeword (numpy's small-axis .sum(-1)
    # folds sequentially too — the _pq_sampled_oracle contract)
    dist = " + ".join(
        f"((a.v[cw.s*{dsub}+{j}] - actr.cv[cw.s*{dsub}+{j}]) - cw.cv[{j}])"
        f" * ((a.v[cw.s*{dsub}+{j}] - actr.cv[cw.s*{dsub}+{j}]) - cw.cv[{j}])"
        for j in range(1, dsub + 1)
    )
    recon_rv = (
        "[" + ", ".join(f"actr.cv[{i}] + rr.rr[{i}]" for i in range(1, dim + 1)) + "]"
    )
    return f"""
    WITH e AS {_DUCK_VECS},
    nz AS (SELECT vec_id, v FROM e),  -- e is already sanitized (_DUCK_VECS)
    ord AS (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                   AS rn
        FROM nz),
    ctr AS (SELECT CAST(rn - 1 AS INT) AS cid, v AS cv
            FROM ord WHERE rn <= {n_clusters}),
    asg AS (
        SELECT vec_id, v, cid FROM (
            SELECT nz.vec_id, nz.v, ctr.cid,
                   ROW_NUMBER() OVER (PARTITION BY nz.vec_id
                        ORDER BY ROUND({cos.format(a="nz.v", b="ctr.cv")}, 6)
                            DESC, ctr.cid) AS arn
            FROM nz CROSS JOIN ctr) WHERE arn = 1),
    smpl AS (SELECT vec_id, v, rn FROM ord
             WHERE rn > {n_clusters} AND rn <= {n_clusters + ksub}),
    cw AS (
        SELECT ss.s AS s, CAST(sc.rn - {n_clusters + 1} AS INT) AS code,
               {cw_cv} AS cv
        FROM (SELECT sm.vec_id, sm.v, sm.rn, a.cid
              FROM smpl sm JOIN asg a USING (vec_id)) sc
        JOIN ctr c2 ON sc.cid = c2.cid,
        generate_series(0, {m - 1}) AS ss(s)),
    enc AS (
        SELECT vec_id, s, code FROM (
            SELECT a.vec_id, cw.s, cw.code,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id, cw.s
                        ORDER BY {dist}, cw.code) AS arn
            FROM asg a JOIN ctr actr ON a.cid = actr.cid CROSS JOIN cw)
        WHERE arn = 1),
    rres AS (
        SELECT en.vec_id, flatten(list(c3.cv ORDER BY en.s)) AS rr
        FROM enc en JOIN cw c3 ON en.s = c3.s AND en.code = c3.code
        GROUP BY en.vec_id),
    recon AS (
        SELECT a.vec_id, a.cid, {recon_rv} AS rv
        FROM rres rr JOIN asg a ON rr.vec_id = a.vec_id
        JOIN ctr actr ON a.cid = actr.cid),
    qp AS (
        SELECT query_id, qv, cid FROM (
            SELECT nz.vec_id AS query_id, nz.v AS qv, ctr.cid,
                   ROW_NUMBER() OVER (PARTITION BY nz.vec_id
                        ORDER BY ROUND({cos.format(a="nz.v", b="ctr.cv")}, 6)
                            DESC, ctr.cid) AS prn
            FROM nz CROSS JOIN ctr WHERE nz.vec_id < {max_qid})
        WHERE prn <= {n_probe}),
    scored AS (
        SELECT qp.query_id, r.vec_id AS neighbor_id,
               ROUND({cos.format(a="qp.qv", b="r.rv")}, 6) AS cosine
        FROM qp JOIN recon r USING (cid)
        WHERE r.vec_id <> qp.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked
    WHERE rank <= {k} AND cosine IS NOT NULL
    """


@register("sim_ivfpq_sampled_topk", _ivfpq_sampled_oracle())
def sim_ivfpq_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN with the FULLY hash-sampled index
    (llm/similarity.py:fit_ivfpq_sampled / ivfpq_sampled_topk) — the
    COMPOSITION of the two round-7 sampled primitives, closing the
    IVF×PQ oracle axis (round-7 verdict item 5): coarse centroids are
    the first n_clusters vectors in portable md5(id) order (the
    sim_ivf_sampled_topk quantizer), residual codebooks are the NEXT
    2^nbits vectors' residuals against their assigned centroid (the
    sim_pq_sampled_topk sampling applied to residuals), and the DuckDB
    twin replays centroid pick → rounded-cosine assignment → residual
    codeword derivation → left-associative squared-L2 encode →
    centroid+residual reconstruction → probed asymmetric cosine top-k
    value-for-value. The Lloyd-trained sim_ivfpq_topk remains the
    recall path; kernels and plan shape are shared."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = _cached_index(
        ("ivfpq_sampled", sf_dir, 64, 16, 16, 4),
        lambda: S.fit_ivfpq_sampled(emb, dim=64, n_clusters=16, m=16, nbits=4),
    )
    return S.ivfpq_sampled_topk(
        emb, queries, dim=64, k=5, n_clusters=16, n_probe=4, m=16, nbits=4,
        index=index,
    )


@register("embed_pca_whiten", None)  # SVD fit: rows-only check (pytest pins vs numpy)
def embed_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding post-processing chain (llm/embed.py): L2-normalize ->
    PCA-whiten to 16 isotropic dims (the retrieval-quality trick for
    anisotropic encoder outputs, and a 4x index-size cut). Fit is a
    bounded deterministic driver sample; projection is a JVM-literal
    matmul — narrow, zero shuffle, no UDF (plan-pinned in pytest)."""
    from turbine_maintenance_etl_spark.llm.embed import (
        fit_pca,
        l2_normalize,
        pca_project,
    )

    emb = l2_normalize(_t(spark, sf_dir, "embeddings"))
    mean, comp, var = fit_pca(emb, k=16)
    return pca_project(emb, mean, comp, var, whiten=True).select("vec_id", "pca")


@register("pipeline_chunk_embed_ann", None)  # mapInPandas encoder: rows-only check
def pipeline_chunk_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed RAG indexing flow: chunk documents (zero-shuffle
    posexplode) -> embed every chunk with the mapInPandas hashing
    encoder (llm/embed.py; narrow map, Arrow-batched) -> answer
    similarity queries for the src0 chunks against the rest of the
    corpus with the SRP-LSH bucketed ANN (bucket equi-join, no cross
    join). Deterministic end to end (md5 hashing encoder + seeded
    hyperplanes) but not SQL-expressible, so the driver records the
    rows-only check; pytest pins determinism and self-retrieval."""
    from turbine_maintenance_etl_spark.llm.embed import embed_text
    from turbine_maintenance_etl_spark.llm.similarity import lsh_bucketed_topk
    from turbine_maintenance_etl_spark.llm.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=4).withColumn(
        "cid", F.col("doc_id") * 10_000 + F.col("chunk_id")
    )
    emb = embed_text(chunks, id_col="cid", text_col="chunk_text", dim=64)
    bench_ids = docs.filter(F.col("source") == "src0").select("doc_id")
    queries = (
        emb.join(
            F.broadcast(bench_ids),
            (F.col("cid") / 10_000).cast("bigint") == F.col("doc_id"),
        )
        .select(F.col("cid").alias("query_id"), "embedding")
        # LIMIT without ORDER BY is plan/partitioning-dependent — a
        # shuffle-partition or AQE change could silently swap which
        # queries run and flap the graded rows-only check. Sort-limit
        # (TakeOrderedAndProject) pins the query set.
        .orderBy("query_id")
        .limit(200)
    )
    return lsh_bucketed_topk(
        emb, queries, dim=64, k=3, id_col="cid", vec_col="embedding"
    )


@register(
    "pipeline_sequence_packing",
    r"""
    WITH RECURSIVE t AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
    s AS (
        SELECT doc_id, source, toks,
               UNNEST(list_filter(generate_series(1, len(toks), 56),
                                  st -> st = 1 OR st + 8 <= len(toks))) AS st
        FROM t WHERE len(toks) > 0),
    chunks AS (
        SELECT source AS shard, doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS BIGINT)
                   AS chunk_id,
               CAST(LEAST(64, len(toks) - st + 1) AS BIGINT) AS chunk_tokens
        FROM s),
    ordered AS (
        SELECT shard, doc_id, chunk_id, chunk_tokens,
               ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id, chunk_id) AS rn
        FROM chunks),
    packed AS (
        SELECT shard, rn, doc_id, chunk_id, chunk_tokens,
               CAST(1 AS BIGINT) AS seq_no, chunk_tokens AS filled
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.doc_id, o.chunk_id, o.chunk_tokens,
               CASE WHEN p.filled + o.chunk_tokens > 256
                    THEN p.seq_no + 1 ELSE p.seq_no END,
               CASE WHEN p.filled + o.chunk_tokens > 256
                    THEN o.chunk_tokens ELSE p.filled + o.chunk_tokens END
        FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1)
    SELECT shard, doc_id, chunk_id, chunk_tokens, seq_no FROM packed
    """,
)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk -> contiguous-fill sequence packing per source shard
    (llm/pack.py): a sequential-per-shard applyInPandas operator whose
    exact output the oracle reproduces with a recursive CTE scan —
    iterative Python logic, still value-checked row for row."""
    from turbine_maintenance_etl_spark.llm.pack import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(docs, chunk_tokens=64, overlap=8).join(
        docs.select("doc_id", F.col("source").alias("shard")), "doc_id"
    )
    return pack_sequences(
        chunks.select(
            "shard", "doc_id", "chunk_id", F.col("chunk_tokens").cast("long").alias("chunk_tokens")
        ),
        max_tokens=256,
    )


@register(
    "curation_source_mix",
    f"""
    WITH t AS (
        SELECT source, lang, len({_DUCK_TOKS}) AS n_tokens FROM documents)
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS mean_tokens,
           ROUND(SUM(n_tokens) / CAST((SELECT SUM(n_tokens) FROM t) AS DOUBLE), 6)
               AS token_share
    FROM t GROUP BY source, lang
    """,
)
def curation_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture report: per (source, lang) document counts, token
    mass, and share of the total token budget — the numbers that drive
    sampling weights when assembling a training mix. One partial-agg
    shuffle plus a broadcast of the single-row total (scalar subquery in
    the oracle, cross-joined literal in Spark)."""
    d = _t(spark, sf_dir, "documents").select(
        "source", "lang", TX.token_count_expr("text").cast("bigint").alias("n_tokens")
    )
    per = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
    )
    total = d.agg(F.sum("n_tokens").alias("_grand"))
    return per.crossJoin(F.broadcast(total)).select(
        "source", "lang", "n_docs", "total_tokens", "mean_tokens",
        F.round(F.col("total_tokens") / F.col("_grand"), 6).alias("token_share"),
    )


@register(
    "text_pii_redaction",
    r"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-01' || LPAD(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                   AS text
        FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '\b\d{3}[- ]\d{4}\b')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\b\d{3}[- ]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (llm/quality.py:redact_pii) proven end to end: every
    document gets a deterministic synthetic email + phone injected
    (derived from doc_id), then both engines must agree on the
    extraction counts AND the md5 of the fully redacted text — an exact
    cross-engine check of the regex semantics, not just row counts."""
    from turbine_maintenance_etl_spark.llm.quality import redact_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    out = redact_pii(d)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_phones").cast("bigint").alias("n_phones"),
        F.md5("redacted").alias("redacted_md5"),
    )


_DUCK_PRI_MIX = _DUCK_HASH64.format(s="concat(CAST(doc_id AS VARCHAR), '|mix')")
_DUCK_PRI_SHARD = _DUCK_HASH64.format(s="concat(CAST(doc_id AS VARCHAR), '|shard')")


@register(
    "curation_temperature_mix",
    f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
               {_DUCK_PRI_MIX} AS pri
        FROM documents),
    s AS (SELECT source, SUM(CAST(n_tokens AS DOUBLE)) AS src_tokens
          FROM d GROUP BY source),
    b AS (SELECT source,
                 CAST(ROUND(sqrt(src_tokens)
                            / (SELECT SUM(sqrt(src_tokens)) FROM s)
                            * 8000.0) AS BIGINT) AS budget
          FROM s),
    r AS (SELECT d.doc_id, d.source, d.n_tokens, b.budget,
                 SUM(d.n_tokens) OVER (PARTITION BY d.source
                                       ORDER BY d.pri, d.doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW) AS cum
          FROM d JOIN b USING (source))
    SELECT doc_id, source, n_tokens FROM r WHERE cum - n_tokens < budget
    """,
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling (llm/mixture.py, alpha=0.5,
    8000-token budget): per-source budgets ∝ sqrt(token mass), greedy
    deterministic take in md5-priority order. The oracle reproduces the
    full chain — budgets, priority order, running-sum cutoff — so the
    selected document SET is hash-checked across engines, not just its
    size. Exact variant; the map-only hash-threshold variant is the
    100 TB path (test-verified against this one's budgets)."""
    from turbine_maintenance_etl_spark.llm.mixture import sample_temperature_mixture

    return sample_temperature_mixture(
        _t(spark, sf_dir, "documents"), token_budget=8000, alpha=0.5
    )


@register(
    "export_hash_shards",
    f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
               {_DUCK_PRI_SHARD} % 8 AS shard
        FROM documents)
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS min_doc_id
    FROM d GROUP BY shard
    """,
)
def export_hash_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data shard assignment (llm/mixture.py): shard = salted
    md5 priority hash mod 8 — embarrassingly parallel, no global sort
    or ntile. The entry reports per-shard doc/token mass (the balance a
    trainer depends on); the writer path (write_hash_shards) is
    pytest-verified as a partitionBy round-trip."""
    from turbine_maintenance_etl_spark.llm.mixture import assign_hash_shards
    from turbine_maintenance_etl_spark.llm.text import token_count_expr

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr("text").cast("bigint").alias("n_tokens")
    )
    return (
        assign_hash_shards(d, 8)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def _classifier_scoring_oracle(
    num_features: int = 128, bias: float = -0.25, seed: int = 42
) -> str:
    from turbine_maintenance_etl_spark.llm.classify import seeded_linear_weights

    w = seeded_linear_weights(num_features, seed)
    h = _DUCK_HASH64.format(s="t")
    return f"""
    WITH toks AS (
        SELECT doc_id, COALESCE({_DUCK_TOKS}, []) AS tk FROM documents),
    m AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST({bias!r} AS DOUBLE),
                       list_transform(tk,
                           t -> ({w!r}::DOUBLE[])[CAST({h} % {num_features} AS INT) + 1])),
                   (a, b) -> a + b) AS margin
        FROM toks)
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-margin)), 6) AS quality_prob,
           CAST(ROUND(1.0 / (1.0 + exp(-margin)), 6) > 0.5 AS BIGINT) AS kept
    FROM m
    """


@register("quality_classifier_scoring", _classifier_scoring_oracle())
def quality_classifier_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-gate SCORING with frozen weights
    (llm/classify.py:hashed_linear_scores) — the family's exactly-SQL-
    checkable member (round-7 verdict item 8): feature hashing
    (portable md5 hash % D), sparse dot as one left-to-right fold over
    the token bag, sigmoid, threshold gate — every step replayed
    value-for-value by the DuckDB twin over the SAME weight literals.
    The trained MLlib path (quality_classifier_filter) stays the
    production gate; this entry pins the scoring machinery the trained
    weights flow through."""
    from turbine_maintenance_etl_spark.llm.classify import (
        hashed_linear_scores,
        seeded_linear_weights,
    )

    scored = hashed_linear_scores(
        _t(spark, sf_dir, "documents"),
        weights=seeded_linear_weights(128, 42),
        bias=-0.25,
    )
    return scored.select(
        "doc_id",
        "quality_prob",
        (F.col("quality_prob") > 0.5).cast("bigint").alias("kept"),
    )


@register("quality_classifier_filter", None)  # learned model -> rows-only check
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality gate (llm/classify.py): weak-label the corpus
    from heuristic signals, train the hashed-bag-of-words logistic
    classifier on an 80% hash split, and report the holdout confusion
    matrix. No SQL oracle — LBFGS is iterative; generalization is the
    pytest assertion (holdout accuracy band), this entry proves the
    train→score path end to end on the driver's session."""
    from turbine_maintenance_etl_spark.llm.classify import (
        score_quality,
        train_quality_classifier,
        weak_quality_labels,
    )
    from turbine_maintenance_etl_spark.ops.sampling import hash_split

    labeled = weak_quality_labels(_t(spark, sf_dir, "documents"))
    train, eval_ = hash_split(labeled, "doc_id", 80, salt="qc")
    model = train_quality_classifier(train)
    scored = score_quality(model, eval_)
    return (
        scored.withColumn(
            "predicted", (F.col("quality_prob") > 0.5).cast("bigint")
        )
        .groupBy(F.col("label").cast("bigint").alias("label"), "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "quality_lm_perplexity",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_prepend('<s>', list_filter(
                   regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2),
    hist AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1),
    vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM big),
    scored AS (
        SELECT g.doc_id,
               CASE WHEN h.c1 IS NULL THEN ln(1.0 / vocab.v)
                    ELSE ln((COALESCE(b.c12, 0) + 0.5) / (h.c1 + 0.5 * vocab.v))
               END AS lp
        FROM grams g
        LEFT JOIN big b ON g.w1 = b.w1 AND g.w2 = b.w2
        LEFT JOIN hist h ON g.w1 = h.w1
        CROSS JOIN vocab
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS slp
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_bigrams, 0) AS BIGINT)     AS n_bigrams,
           ROUND(p.slp / p.n_bigrams, 4)                AS avg_logprob,
           ROUND(exp(-(p.slp / p.n_bigrams)), 4)        AS perplexity
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def quality_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate (llm/lm.py): train an add-k-smoothed
    bigram LM on the corpus in ONE aggregation pass, score every
    document's perplexity via a broadcast lookup join — exactly
    oracle-checkable because the whole model is deterministic count
    arithmetic. Low-perplexity docs are fluent in-domain text; the gate
    feeds curation the same way the classifier entry does."""
    from turbine_maintenance_etl_spark.llm.lm import perplexity_scores

    return perplexity_scores(_t(spark, sf_dir, "documents"))


@register(
    "quality_sb3_perplexity",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_prepend('<s>', list_prepend('<s>', list_filter(
                   regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        WHERE len(t) > 2
    ),
    tri_all AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM grams GROUP BY 1, 2, 3),
    hist2 AS (SELECT w1, w2, SUM(c3) AS ch2 FROM tri_all GROUP BY 1, 2),
    pair2_all AS (SELECT w2 AS wa, w3 AS wb, SUM(c3) AS cb2
                  FROM tri_all GROUP BY 1, 2),
    hist1 AS (SELECT wa AS w, SUM(cb2) AS ch1 FROM pair2_all GROUP BY 1),
    uni AS (SELECT wb AS w, SUM(cb2) AS cu FROM pair2_all GROUP BY 1),
    -- CCNet-style count pruning (mirrors train_sb3_counts
    -- prune_min_count=2): histories keep the FULL mass, pruned grams
    -- back off exactly as if unseen
    tri AS (SELECT * FROM tri_all WHERE c3 >= 2),
    pair2 AS (SELECT * FROM pair2_all WHERE cb2 >= 2),
    tot AS (SELECT SUM(cu) AS n, COUNT(*) AS v FROM uni),
    scored AS (
        SELECT g.doc_id,
               ln(CASE
                    WHEN t3.c3 IS NOT NULL THEN t3.c3 / h2.ch2
                    WHEN p2.cb2 IS NOT NULL AND h1.ch1 IS NOT NULL
                        THEN 0.4 * p2.cb2 / h1.ch1
                    WHEN u.cu IS NOT NULL THEN 0.16 * u.cu / tot.n
                    ELSE 0.16 / (tot.v + 1)
                  END) AS ls
        FROM grams g
        LEFT JOIN tri t3 ON g.w1 = t3.w1 AND g.w2 = t3.w2 AND g.w3 = t3.w3
        LEFT JOIN hist2 h2 ON g.w1 = h2.w1 AND g.w2 = h2.w2
        LEFT JOIN pair2 p2 ON g.w2 = p2.wa AND g.w3 = p2.wb
        LEFT JOIN hist1 h1 ON g.w2 = h1.w
        LEFT JOIN uni u ON g.w3 = u.w
        CROSS JOIN tot
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_trigrams, SUM(ls) AS sls
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_trigrams, 0) AS BIGINT)  AS n_trigrams,
           ROUND(p.sls / p.n_trigrams, 4)             AS avg_logscore,
           ROUND(exp(-(p.sls / p.n_trigrams)), 4)     AS perplexity
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def quality_sb3_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff TRIGRAM LM gate (Brants et al. 2007 — the
    published at-scale alternative to Kneser-Ney that KenLM benchmarks
    against; llm/lm.py): longer context than the add-k bigram entry,
    trained from ONE corpus explode with vocabulary-sized
    reaggregations, scored by five broadcast lookup joins. CCNet-style
    count pruning (min count 2, histories keep full mass) bounds the
    Zipf-dominated trigram/bigram lookup tables — the round-4 probe's
    3.5x-at-8x growth lever. Pure count ratios with a fixed 0.4
    backoff -> exactly DuckDB-oracle-checkable; differential-tested
    against a pure-Python reference, pruned and unpruned."""
    from turbine_maintenance_etl_spark.llm.lm import sb3_perplexity_scores

    return sb3_perplexity_scores(_t(spark, sf_dir, "documents"))



def _incremental_lsh_oracle(num_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    # Mirrors _minhash_oracle's signature pipeline, then probes the
    # "existing" partition's buckets with the "new" partition's buckets
    # (split on doc_id % 5) instead of self-joining the whole corpus.
    rng = random.Random(seed)
    p = (1 << 31) - 1
    coeffs = [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)
    ]
    h = _DUCK_HASH64.format(s="s")
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(hs, h -> (h % {p} * {a} + {b}) % {p}), 'min') AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, md5(concat_ws(',', "
        + ", ".join(f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows))
        + ")) AS bh FROM sigs"
        for bi in range(bands)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)),
    hashed AS (SELECT doc_id, list_transform(s, s -> {h}) AS hs FROM sh
               -- shingle-less docs emit NO band rows, mirroring the
               -- engine's lsh_band_buckets bh-NULL filter (otherwise
               -- every short/empty doc shares the md5-of-empty bucket
               -- in every band -- r10 adversarial sweep)
               WHERE len(s) > 0),
    sigs AS (SELECT doc_id, {mh_cols} FROM hashed),
    buckets AS ({band_selects})
    SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS existing_id
    FROM buckets n
    JOIN buckets e ON n.band = e.band AND n.bh = e.bh
    WHERE n.doc_id % 5 = 0 AND e.doc_id % 5 <> 0
    """


@register("dedup_incremental_lsh", _incremental_lsh_oracle())
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (llm/dedup.py): the corpus partition
    (doc_id % 5 != 0) is indexed ONCE via ``lsh_band_buckets`` — the
    persistable (id, band, band-hash) table — and the incoming batch
    (doc_id % 5 == 0) probes it with an equi-join on the bucket key.
    Signature cost is linear in the BATCH, never the corpus: the
    re-hash-everything-per-ingest trap is the real 100 TB killer this
    operator exists to avoid. Exactly oracle-checkable (portable md5
    hash family, like the batch LSH entry)."""
    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    new_batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = D.lsh_band_buckets(existing)
    # uncapped to mirror the (uncapped) oracle exactly — a capped entry
    # vs uncapped SQL would silently diverge the moment a data
    # generation produces a >cap boilerplate bucket. The cap's behavior
    # is pinned separately in tests/test_llm_ops.py.
    return D.incremental_lsh_candidates(new_batch, index, max_bucket_size=None)


def _semantic_dedup_oracle(
    dim: int = 64, num_planes: int = 4, seed: int = 42, threshold: float = 0.45
) -> str:
    planes = S.random_hyperplanes(dim, num_planes, seed)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, {plane!r}::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH RECURSIVE e AS {_DUCK_VECS},
    b AS (SELECT vec_id, v, CAST({bucket} AS INT) AS bucket FROM e),
    pairs AS (
        SELECT a.vec_id AS id_a, bb.vec_id AS id_b
        FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
        WHERE ROUND({_COS.format(a="a.v", b="bb.v")}, 6) >= {threshold}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT ed.src, r.label
        FROM edges ed JOIN reach r ON ed.dst = r.node),
    clusters AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)
    -- final join runs against the FULL table, not the filtered e:
    -- NULL/zero vectors are excluded from bucketing but still emit
    -- singleton-survivor rows, mirroring semantic_dedup's contract of
    -- one output row per INPUT vector (r10 adversarial sweep)
    SELECT em.vec_id,
           COALESCE(c.cluster_id, em.vec_id) AS cluster_id,
           COALESCE(c.cluster_id, em.vec_id) = em.vec_id AS survivor
    FROM embeddings em LEFT JOIN clusters c ON em.vec_id = c.node
    """


@register("dedup_semantic_survivors", _semantic_dedup_oracle())
def dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (llm/similarity.py:semantic_dedup):
    SRP-bucket the embedding space, verify cosine >= 0.45 between
    bucket-mates only, resolve pairs into connected components, keep the
    min-id survivor per component. The whole chain — seeded literal
    hyperplanes, in-bucket pairs, iterative component resolution — is
    exactly mirrored by a recursive-CTE oracle."""
    # num_planes pinned to 4: the oracle embeds these exact hyperplanes
    # (auto-sizing would re-bucket when the table grows and break SQL
    # parity; library callers get the auto default)
    return S.semantic_dedup(_t(spark, sf_dir, "embeddings"), dim=64, num_planes=4)


@register("text_bpe_trained_tokens", None)  # iterative merge learning -> rows-only
def text_bpe_trained_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL trained BPE token counts (llm/bpe.py): merges learned from
    ONE word-frequency aggregation (vocabulary-sized collect, the same
    bounded-sample posture as the IVF quantizer), applied distributed
    via Arrow-batched mapInPandas with a per-batch word cache. The
    regex estimate (text_bpe_token_count) stays as the zero-Python fast
    path; this entry is the honest subword tokenizer. Rows-only (BPE's
    merge loop isn't SQL-expressible); the pure-Python differential and
    merge-learning hand checks live in tests/test_llm_bpe.py."""
    from turbine_maintenance_etl_spark.llm.bpe import bpe_token_stats, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=150)
    return bpe_token_stats(docs, merges)


@register(
    "pipeline_curation_v2",
    rf"""
    WITH q AS (
        SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
    kept AS (
        SELECT doc_id, text, toks FROM q
        WHERE len(toks) >= 20
          AND CAST(len(list_filter(toks, x -> lower(x) IN ({_EN_SQL}))) AS DOUBLE)
              / NULLIF(CAST(len(toks) AS DOUBLE), 0) >= 0.05),
    lmtoks AS (
        SELECT doc_id,
               list_prepend('<s>', list_filter(
                   regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS t
        FROM kept),
    grams AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM lmtoks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2),
    hist AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1),
    vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM big),
    lp AS (
        SELECT g.doc_id,
               LN((COALESCE(b.c12, 0) + 0.5) / (h.c1 + 0.5 * vocab.v)) AS lp
        FROM grams g
        LEFT JOIN big b ON g.w1 = b.w1 AND g.w2 = b.w2
        LEFT JOIN hist h ON g.w1 = h.w1
        CROSS JOIN vocab),
    ppl AS (
        SELECT doc_id, ROUND(exp(-(SUM(lp) / COUNT(*))), 4) AS perplexity
        FROM lp GROUP BY doc_id),
    ranked AS (
        SELECT k.doc_id, k.text, k.toks,
               ROW_NUMBER() OVER (ORDER BY p.perplexity, k.doc_id) AS rn,
               COUNT(*) OVER () AS n_total
        FROM kept k JOIN ppl p USING (doc_id)),
    gated AS (
        SELECT doc_id, text, toks FROM ranked
        WHERE rn <= FLOOR(0.9 * n_total)),
    surv AS (
        SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
    docs2 AS (
        SELECT g.doc_id, g.toks FROM gated g JOIN surv USING (doc_id)),
    starts AS (
        SELECT doc_id, toks,
               UNNEST(list_filter(generate_series(1, len(toks), 56),
                                  st -> st = 1 OR st + 8 <= len(toks))) AS st
        FROM docs2 WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(LEAST(64, len(toks) - st + 1)) AS BIGINT) AS total_tokens
    FROM starts GROUP BY doc_id
    """,
)
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern curation chain, exactly oracle-checked END TO END:
    heuristic quality gate → self-trained LM-perplexity gate (keep the
    90% least-perplexed, exact rank) → exact dedup → 64/8 chunking,
    reported as per-document chunk stats. Every stage is an operator
    this engine already verifies in isolation; this entry pins the
    COMPOSITION — the thing a production corpus run actually executes
    (llm/curation.py:curate_corpus_v2)."""
    from turbine_maintenance_etl_spark.llm.curation import curate_corpus_v2

    chunks = curate_corpus_v2(_t(spark, sf_dir, "documents"))
    return chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("chunk_tokens").alias("total_tokens"),
    )


def _multiprobe_oracle(dim: int = 64, num_planes: int = 6, seed: int = 42, k: int = 5) -> str:
    planes = S.random_hyperplanes(dim, num_planes, seed)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, {plane!r}::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    probe_list = ", ".join(["bucket"] + [f"xor(bucket, {1 << i})" for i in range(num_planes)])
    return f"""
    WITH e AS {_DUCK_VECS},
    b AS (SELECT vec_id, v, CAST({bucket} AS INT) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv,
                 UNNEST([{probe_list}]) AS bucket
          FROM b WHERE vec_id < 25),
    scored AS (
        SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id,
               ROUND({_COS.format(a="q.qv", b="b.v")}, 6) AS cosine
        FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


@register("sim_multiprobe_topk", _multiprobe_oracle())
def sim_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP ANN (llm/similarity.py:lsh_multiprobe_topk): each
    query probes its own bucket plus every Hamming-1 neighbor — the
    recall lever that costs 1+H probe joins on the (broadcast) query
    side while the candidate index stays untouched. Recall vs the
    single-probe and brute-force baselines is pytest-asserted; the
    bucket arithmetic is literal-seeded, so the whole probe set is
    exactly oracle-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_multiprobe_topk(emb, queries, dim=64, k=5)


@register(
    "dedup_containment",
    f"""
    WITH pairs AS ({_minhash_oracle()}),
    sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)),
    joined AS (
        SELECT p.id_a, p.id_b, a.s AS sa, b.s AS sb,
               CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE) AS inter
        FROM pairs p
        JOIN sh a ON p.id_a = a.doc_id
        JOIN sh b ON p.id_b = b.doc_id)
    SELECT id_a, id_b,
           ROUND(inter / NULLIF(CAST(len(sa) AS DOUBLE), 0), 4) AS c_a_in_b,
           ROUND(inter / NULLIF(CAST(len(sb) AS DOUBLE), 0), 4) AS c_b_in_a,
           ROUND(inter / NULLIF(CAST(len(sa) + len(sb) AS DOUBLE) - inter, 0), 4)
               AS jaccard
    FROM joined
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over LSH candidate pairs
    (llm/dedup.py:containment_scores): |A∩B|/|A| vs |A∩B|/|B| — near-1
    one-sided containment flags EXCERPT relationships (quotes,
    boilerplate-wrapped reposts, chunked copies) that symmetric Jaccard
    thresholds miss. Verification kernel fed by LSH candidates, never a
    cross join; exactly oracle-checked end to end."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    return D.containment_scores(docs, pairs)


_DUCK_SPAN_HASH = "md5(array_to_string(t[i:i+7], ' '))"


@register(
    "dedup_span_coverage",
    f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), base AS (SELECT doc_id, t, len(t) AS n_tokens FROM toks),
    grams AS (
        SELECT doc_id, i AS pos, {_DUCK_SPAN_HASH} AS g
        FROM base, UNNEST(generate_series(1, n_tokens - 7)) AS u(i)
        WHERE n_tokens >= 8
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    hits AS (SELECT gr.* FROM grams gr JOIN dup USING (g)),
    spans AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM hits GROUP BY doc_id),
    cov AS (
        SELECT doc_id, COUNT(*) AS n_dup_tokens FROM (
            SELECT DISTINCT h.doc_id, idx
            FROM hits h, UNNEST(generate_series(h.pos, h.pos + 7)) AS v(idx))
        GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           ROUND(COALESCE(c.n_dup_tokens, 0)
                 / NULLIF(CAST(b.n_tokens AS DOUBLE), 0), 6) AS dup_frac
    FROM base b LEFT JOIN spans s USING (doc_id) LEFT JOIN cov c USING (doc_id)
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2022 ExactSubstr shape on
    word 8-grams): per-document duplicated-span count + exact fraction of
    tokens covered by any corpus-duplicated span. The whole chain —
    positional n-gram hashing, corpus-wide occurrence counts, interval-
    union coverage — is hash-exact across engines (portable md5-fold
    60-bit span keys), so the driver's DuckDB twin checks it value-for-
    value. See ``llm/dedup.py:duplicated_span_stats`` for the 100 TB
    shape argument (linear, 8-byte shuffle keys, no window/collect)."""
    return D.duplicated_span_stats(_t(spark, sf_dir, "documents"), n=8, min_count=2)


@register(
    "dedup_span_rewrite",
    f"""
    WITH toks AS (
        SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents
    ), base AS (SELECT doc_id, text, t, len(t) AS n_tokens FROM toks),
    grams AS (
        SELECT doc_id, i AS pos, {_DUCK_SPAN_HASH} AS g
        FROM base, UNNEST(generate_series(1, n_tokens - 7)) AS u(i)
        WHERE n_tokens >= 8
    ),
    occ AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY g) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM grams
    ),
    marked AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn > 1),
    canon AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn = 1),
    canon_cov AS (
        SELECT DISTINCT doc_id, idx
        FROM canon, UNNEST(generate_series(pos, pos + 7)) AS v(idx)
    ),
    removed AS (
        SELECT DISTINCT m.doc_id, m.idx
        FROM (SELECT DISTINCT doc_id, idx
              FROM marked, UNNEST(generate_series(pos, pos + 7)) AS v(idx)) m
        ANTI JOIN canon_cov c ON m.doc_id = c.doc_id AND m.idx = c.idx
    ),
    affected AS (SELECT DISTINCT doc_id FROM removed),
    tok_stream AS (
        SELECT b.doc_id, i AS idx, t[i] AS tok
        FROM base b JOIN affected USING (doc_id),
             UNNEST(generate_series(1, n_tokens)) AS u(i)
    ),
    kept AS (
        SELECT ts.doc_id, ts.idx, ts.tok FROM tok_stream ts
        ANTI JOIN removed r ON ts.doc_id = r.doc_id AND ts.idx = r.idx
    ),
    rebuilt AS (
        SELECT doc_id, COUNT(*) AS kept_n,
               string_agg(tok, ' ' ORDER BY idx) AS clean
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN a.doc_id IS NULL THEN 0
                     ELSE b.n_tokens - COALESCE(r.kept_n, 0) END AS BIGINT)
               AS n_removed_tokens,
           CASE WHEN a.doc_id IS NULL THEN b.text
                ELSE COALESCE(r.clean, '') END AS cleaned_text
    FROM base b
    LEFT JOIN affected a USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup's PRODUCTION output: the cleaned corpus with
    every corpus-duplicated 8-token span removed except one canonical
    (min doc_id, pos) occurrence — dedup_span_coverage measures, this
    rewrites (llm/dedup.py:remove_duplicated_spans). Hash-exact across
    engines, so the DuckDB twin checks the rebuilt text value-for-value.
    Scale: one 8-byte-keyed window pass for counts+canonical, removed
    positions and the rebuild shuffle only AFFECTED docs' tokens."""
    return D.remove_duplicated_spans(_t(spark, sf_dir, "documents"), n=8, min_count=2)


# --- Media codec proofs -------------------------------------------------


def _media(spark: SparkSession, sf_dir: str, make) -> DataFrame:
    """``(doc_id, media)`` with ``media = make(doc_id)`` for every
    document. The doc_id projection of a small parquet arrives as ONE
    partition, which would serialize the ~2 ms/row pure-Python encode
    onto one core (measured on dedup_image_phash_jpeg: its whole 10 s
    bench cost was the single-partition generator); one cheap shuffle
    of the 8-byte ids buys full-width codec parallelism."""
    import pandas as pd

    docs = ensure_parallelism(_t(spark, sf_dir, "documents").select("doc_id"))

    def gen(it):
        for pdf in it:
            rows = [{"doc_id": int(d), "media": make(int(d))} for d in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    return docs.mapInPandas(gen, schema="doc_id bigint, media binary")


def _image_tail(media: DataFrame) -> DataFrame:
    """56-bit dHash + aHash per image, min-id survivor per dHash."""
    from turbine_maintenance_etl_spark.llm.multimodal import image_phash, phash_dedup

    return phash_dedup(image_phash(media)).select("doc_id", "dhash", "ahash", "survivor")


def _audio_tail(media: DataFrame) -> DataFrame:
    """56-bit envelope fingerprint per clip, min-id survivor per
    fingerprint."""
    from turbine_maintenance_etl_spark.llm.multimodal import audio_fingerprint

    w = Window.partitionBy("afp")
    return audio_fingerprint(media).select(
        "doc_id",
        "afp",
        "n_frames",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("survivor"),
    )


def _codec_proof(tail):
    """Turn ``make(doc_id) -> bytes`` into the registry builder
    ``tail(_media(spark, sf_dir, make))``.

    Each codec proof gives every document one deterministic media blob,
    runs the REAL decode and perceptual-hash path end to end and keeps a
    min-id survivor per hash. The signal is exact under every container
    an entry mixes in, so its DuckDB twin recomputes the hashes from the
    pixel or sample formula alone and must match bit for bit. Scale
    shape, the same for every proof: one Arrow-batched map over the
    binary column and an 8-byte hash shuffle, never pixels or samples.
    The builder keeps make's name and docstring and exposes make as
    ``.make``, so the container mix is testable without Spark."""

    def deco(make):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            return tail(_media(spark, sf_dir, make))

        build.__name__ = build.__qualname__ = make.__name__
        build.__doc__ = make.__doc__
        build.make = make
        return build

    return deco


_image_proof = _codec_proof(_image_tail)
_audio_proof = _codec_proof(_audio_tail)


def _block_pixels(g: int, v: int) -> np.ndarray:
    """The 16x24 grayscale image _JPEG_PHASH_ORACLE grades: constant per
    8x8 block (value keyed g per block) plus a +v brightness variant."""
    br = np.arange(16)[:, None] // 8
    bc = np.arange(24)[None, :] // 8
    return ((g * 37 + br * 29 + bc * 13) % 200 + v).astype(np.uint8)


def _mono16k_wav(tag: int, bits: int, data: bytes) -> bytes:
    """A mono 16 kHz WAV of ``bits``-bit samples in WAVE format ``tag``."""
    fmt = struct.pack("<HHIIHH", tag, 1, 16000, 16000 * bits // 8, bits // 8, bits)
    return wav_container(fmt, data)


# fingerprint + survivor tail shared by the audio proofs' DuckDB twins;
# each entry's own CTEs end in samp(doc_id, i, k, a): one row per
# sample i, k = i // 10 its envelope window, a its magnitude
_AUDIO_FP_TAIL = """
    wins AS (
        SELECT doc_id, k, SUM(a) AS wa FROM samp GROUP BY doc_id, k),
    tot AS (
        SELECT doc_id, SUM(wa) AS ta FROM wins GROUP BY doc_id),
    fp AS (
        SELECT w.doc_id,
               CAST(SUM(CASE WHEN w.wa * 56 > t.ta
                        THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS afp
        FROM wins w JOIN tot t USING (doc_id) GROUP BY w.doc_id)
    SELECT doc_id, afp, CAST(560 AS BIGINT) AS n_frames,
           doc_id = MIN(doc_id) OVER (PARTITION BY afp) AS survivor
    FROM fp
    """


def _audio_oracle(ctes: str) -> str:
    return f"WITH {ctes},{_AUDIO_FP_TAIL}"


@register(
    "dedup_image_phash",
    """
    WITH base AS (
        SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS v FROM documents),
    cells AS (
        SELECT doc_id, g, v, r, c, ((2 * r + 1) * 16) // 14 AS yr
        FROM base, generate_series(0, 6) AS t1(r), generate_series(0, 7) AS t2(c)),
    dh AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN (g * 37 + yr * 11 + (2 * c + 3) * 7) % 250
                           > (g * 37 + yr * 11 + (2 * c + 1) * 7) % 250
                        THEN (1::BIGINT << (r * 8 + c)) ELSE 0 END)
                    AS BIGINT) AS dhash
        FROM cells GROUP BY doc_id),
    apx AS (
        SELECT doc_id, r, c,
               (g * 37 + yr * 11 + (((2 * c + 1) * 18) // 16) * 7) % 250 + v * 2 AS px
        FROM cells),
    ah AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN px * 56 > tot THEN (1::BIGINT << (r * 8 + c))
                        ELSE 0 END) AS BIGINT) AS ahash
        FROM (SELECT *, SUM(px) OVER (PARTITION BY doc_id) AS tot FROM apx)
        GROUP BY doc_id)
    SELECT d.doc_id, dh.dhash, ah.ahash,
           d.doc_id = MIN(d.doc_id) OVER (PARTITION BY dh.dhash) AS survivor
    FROM documents d JOIN dh USING (doc_id) JOIN ah USING (doc_id)
    """,
)
@_image_proof
def dedup_image_phash(did: int) -> bytes:
    """IMAGE dedup via perceptual hash — the image twin of the text
    dedup family (closes the round-4 verdict's multimodal-dedup gap).
    Every document gets a deterministic synthetic 18x16 grayscale PNG
    (pixel formula keyed doc_id//3, plus a uniform brightness shift
    doc_id%3 — near-duplicate variants with DIFFERENT bytes/sha256);
    the REAL codec path then runs end to end: stdlib PNG encode ->
    decode_png_pixels -> integer grayscale -> nearest-neighbor resize
    -> 56-bit dHash + aHash (llm/multimodal.py:image_phash) -> min-id
    survivor per dHash (llm/multimodal.py:phash_dedup). Both hashes are
    invariant to the brightness shift, so each variant triplet
    collapses to one survivor while sha256 dedup would keep all three.

    Exactly oracle-checkable: PNG round-trip is lossless and the
    nearest-neighbor grid is integer arithmetic, so the DuckDB twin
    recomputes both hashes from the pixel formula + the same resize
    index map ((2r+1)*h // 2*out_h) and must match bit for bit."""
    from turbine_maintenance_etl_spark.llm.multimodal import encode_png

    g, v = did // 3, did % 3
    r = np.arange(16)[:, None]
    c = np.arange(18)[None, :]
    px = ((g * 37 + r * 11 + c * 7) % 250 + v * 2).astype(np.uint8)
    return encode_png(px[:, :, None])


# shared by the six _block_pixels entries: every container they mix in
# decodes to the SAME pixels (q100 block-constant JPEG is bit-exact, the
# lossless formats are exact), so one SQL twin grades all six
_JPEG_PHASH_ORACLE = """
    WITH base AS (
        SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v FROM documents),
    dcell AS (
        SELECT doc_id, g, v, r, c,
               ((2 * r + 1) * 16) // 14 AS yr,
               ((2 * c + 1) * 24) // 18 AS xl,
               ((2 * c + 3) * 24) // 18 AS xr
        FROM base, generate_series(0, 6) AS t1(r), generate_series(0, 7) AS t2(c)),
    dh AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN
                       (g * 37 + (yr // 8) * 29 + (xr // 8) * 13) % 200
                     > (g * 37 + (yr // 8) * 29 + (xl // 8) * 13) % 200
                   THEN (1::BIGINT << (r * 8 + c)) ELSE 0 END) AS BIGINT) AS dhash
        FROM dcell GROUP BY doc_id),
    apx AS (
        SELECT doc_id, r, c,
               (g * 37 + (((2 * r + 1) * 16) // 14 // 8) * 29
                       + (((2 * c + 1) * 24) // 16 // 8) * 13) % 200 + v AS p
        FROM base, generate_series(0, 6) AS t1(r), generate_series(0, 7) AS t2(c)),
    ah AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN p * 56 > tot THEN (1::BIGINT << (r * 8 + c))
                        ELSE 0 END) AS BIGINT) AS ahash
        FROM (SELECT *, SUM(p) OVER (PARTITION BY doc_id) AS tot FROM apx)
        GROUP BY doc_id)
    SELECT b.doc_id, dh.dhash, ah.ahash,
           b.doc_id = MIN(b.doc_id) OVER (PARTITION BY dh.dhash) AS survivor
    FROM base b JOIN dh USING (doc_id) JOIN ah USING (doc_id)
    """


@register("dedup_image_phash_jpeg", _JPEG_PHASH_ORACLE)
@_image_proof
def dedup_image_phash_jpeg(did: int) -> bytes:
    """Image dedup over REAL JPEG bytes — the round-7 companion to
    dedup_image_phash, proving the from-spec baseline JPEG codec
    (llm/jpeg.py) end to end under the driver's oracle. Every document
    gets a deterministic 24x16 grayscale image that is CONSTANT per
    8x8 block (value keyed doc_id//2 per block, plus a +doc_id%2
    brightness variant with different bytes); at quality=100 every
    quantizer entry is 1 and a block-constant image has only an
    integer DC coefficient, so encode->decode is BIT-EXACT — which
    makes the lossy-format pipeline exactly oracle-checkable: the
    DuckDB twin recomputes dHash/aHash from the block formula + the
    nearest-neighbor index map ((2k+1)*dim // 2*out) and must match
    bit for bit. The full real path runs: encode_jpeg_baseline ->
    image_phash (decode_jpeg_pixels -> grayscale -> resize -> 56-bit
    hashes) -> min-id survivor. Brightness variants collapse (both
    hashes shift-invariant); sha256 would keep both."""
    from turbine_maintenance_etl_spark.llm.jpeg import encode_jpeg_baseline

    return encode_jpeg_baseline(_block_pixels(did // 2, did % 2)[:, :, None], quality=100)


@register(
    "dedup_audio_fingerprint",
    _audio_oracle("""
    base AS (
        SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v FROM documents),
    samp AS (
        SELECT doc_id, i, i // 10 AS k,
               ABS((g * 7 + i * 13) % 2003 - 1001) * (1 + v) AS a
        FROM base, generate_series(0, 559) AS t(i))"""),
)
@_audio_proof
def dedup_audio_fingerprint(did: int) -> bytes:
    """AUDIO dedup via energy-envelope fingerprint — the audio member of
    the perceptual dedup family (llm/multimodal.py:audio_fingerprint).
    Every document gets a deterministic synthetic mono PCM16 WAV (560
    frames, sample formula keyed doc_id//2; the doc_id%2 variant is the
    SAME signal at exactly 2x gain — different bytes, same loudness
    shape); the REAL codec path runs end to end: RIFF/PCM encode ->
    decode_wav_samples -> integer abs-sum envelope -> 56-bit
    gain-invariant fingerprint -> min-id survivor per fingerprint. The
    DuckDB twin recomputes the fingerprint from the sample formula in
    pure integer arithmetic — bit-exact, because PCM16 quantization is
    the identity for these amplitudes and the envelope compare is
    integer on both sides."""
    g, v = did // 2, did % 2
    i = np.arange(560, dtype=np.int64)
    s = ((g * 7 + i * 13) % 2003 - 1001) * (1 + v)
    return _mono16k_wav(1, 16, s.astype("<i2").tobytes())


@register(
    "dedup_audio_fingerprint_adpcm",
    _audio_oracle("""
    base AS (
        SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v FROM documents),
    cfg AS (
        SELECT doc_id, g, v,
               ((g * 131) % 2003) - 1001 AS p0,
               ((g * 57 + 7) % 2003) - 1001 AS p1,
               CASE WHEN g % 3 = 1 THEN 500 ELSE 505 END AS b
        FROM base),
    samp AS (
        SELECT doc_id, i, i // 10 AS k,
               CASE WHEN i < b THEN ABS(p0) ELSE ABS(p1) END AS a
        FROM cfg, generate_series(0, 559) AS t(i))"""),
)
@_audio_proof
def dedup_audio_fingerprint_adpcm(did: int) -> bytes:
    """The ADPCM container proof (r8 session 3): piecewise-CONSTANT
    signals code to all-zero nibbles in both ADPCM families (IMA: step
    7>>3 = 0 with the index pinned at 0; MS: the cycled predictors 0/1
    both satisfy c1+c2 = 256, so the 2-tap prediction reproduces the
    constant exactly), which makes the lossy codecs EXACT on this
    corpus — and therefore exactly SQL-checkable. Each group's signal
    is two constant plateaus split at the format's own block boundary
    (505 IMA / 500 MS), so the driver grades the whole container
    machinery — per-channel block headers, nibble layout, fact-chunk
    trimming — value-for-value; the nibble ARITHMETIC itself is pinned
    separately by the audioop differentials in tests/test_wav_adpcm.py.
    v=0 carries the native ADPCM container by g%3 (IMA / MS / plain
    PCM16), v=1 the same decoded values as PCM16 — cross-format dedup
    again."""
    from turbine_maintenance_etl_spark.llm.adpcm import (
        encode_wav_adpcm,
        encode_wav_ms_adpcm,
    )
    from turbine_maintenance_etl_spark.llm.multimodal import encode_wav

    g, v = did // 2, did % 2
    p0 = ((g * 131) % 2003) - 1001
    p1 = ((g * 57 + 7) % 2003) - 1001
    fmt = g % 3
    boundary = 500 if fmt == 1 else 505
    vals = np.where(np.arange(560) < boundary, p0, p1)
    x = (vals / 32768.0).astype(np.float32)[:, None]
    if v == 1 or fmt == 2:
        return encode_wav(x, 16000)
    if fmt == 0:
        return encode_wav_adpcm(x, 16000)
    return encode_wav_ms_adpcm(x, 16000, 500)


@register("dedup_image_phash_jpeg_lossless", _JPEG_PHASH_ORACLE)
@_image_proof
def dedup_image_phash_jpeg_lossless(did: int) -> bytes:
    """The LOSSLESS-JPEG proof (r8 session 3, T.81 Annex H — the mode
    DICOM archives use): a format-mixed corpus where even groups carry
    baseline SOF0 (q100 block-constant, bit-exact) and odd groups carry
    SOF3 lossless with the PREDICTOR CYCLING 1..7 by group — lossless
    decode is exact for ANY pixels, so every container decodes to the
    same formula values and the shared DuckDB twin grades the whole
    path value-for-value."""
    from turbine_maintenance_etl_spark.llm.jpeg import (
        encode_jpeg_baseline,
        encode_jpeg_lossless,
    )

    g = did // 2
    px = _block_pixels(g, did % 2)[:, :, None]
    if g % 2 == 0:
        return encode_jpeg_baseline(px, quality=100)
    return encode_jpeg_lossless(px, 8, predictor=(g // 2) % 7 + 1)


@register("dedup_image_phash_png_formats", _JPEG_PHASH_ORACLE)
@_image_proof
def dedup_image_phash_png_formats(did: int) -> bytes:
    """The full-PNG-surface proof (r8 session 3): a four-way
    format-mixed corpus — each image encoded 8-bit grayscale, 4-bit
    PALETTE (gray triples, llm/png.py), 16-BIT grayscale (v*257, whose
    high byte is exactly v), or 8-bit ADAM7-INTERLACED by g%4 — flows
    through ONE decode path. All four containers decode to IDENTICAL
    pixels by construction, so the SAME DuckDB twin that grades the
    JPEG entries grades this one value-for-value; the PNG surface is
    additionally cross-checked against the JVM's javax.imageio codec
    in tests/test_png_full.py."""
    from turbine_maintenance_etl_spark.llm.multimodal import encode_png
    from turbine_maintenance_etl_spark.llm.png import encode_png_extended

    g = did // 2
    px = _block_pixels(g, did % 2)
    mode = g % 4
    if mode == 0:  # plain 8-bit grayscale
        return encode_png(px[:, :, None])
    if mode == 1:  # 4-bit palette (<= 6 distinct values)
        vals = np.unique(px)
        idx = np.searchsorted(vals, px).astype(np.uint16)
        plte = np.stack([vals, vals, vals], 1).astype(np.uint8)
        return encode_png_extended(idx, 4, 3, palette=plte)
    if mode == 2:  # 16-bit grayscale, high byte == v
        return encode_png_extended(px.astype(np.uint16) * 257, 16, 0)
    # 8-bit grayscale, ADAM7 interlaced
    return encode_png_extended(px.astype(np.uint16), 8, 0, interlace=1)


@register("dedup_image_phash_gif", _JPEG_PHASH_ORACLE)
@_image_proof
def dedup_image_phash_gif(did: int) -> bytes:
    """The GIF proof (r8 session 3, llm/gif.py): each image carried as
    a real GIF89a — LZW-compressed indices into a GRAY palette (r=g=b,
    so the integer-mean grayscale is the identity), INTERLACED for odd
    groups — decodes to the exact formula pixels, so the shared phash
    twin grades the LZW decoder, palette lookup and interlace
    reassembly value-for-value; the codec is additionally
    cross-checked against javax.imageio in tests/test_gif_codec.py."""
    from turbine_maintenance_etl_spark.llm.gif import encode_gif

    g = did // 2
    px = _block_pixels(g, did % 2)
    vals = np.unique(px)
    idx = np.searchsorted(vals, px)
    size = max(2, 1 << int(len(vals) - 1).bit_length())
    pal = np.zeros((size, 3), dtype=np.uint8)
    pal[: len(vals)] = np.stack([vals, vals, vals], 1)
    return encode_gif([idx], pal, interlace=bool(g % 2))


def _g711_oracle() -> str:
    """The cross-format audio oracle embeds both 256-entry G.711 decode
    tables as DuckDB list literals, so the SQL twin replays the exact
    codeword -> int16 mapping the Spark-side decoder applies."""
    from turbine_maintenance_etl_spark.llm.g711 import ALAW_TABLE, ULAW_TABLE

    ul = "[" + ", ".join(str(int(v)) for v in ULAW_TABLE) + "]"
    al = "[" + ", ".join(str(int(v)) for v in ALAW_TABLE) + "]"
    return _audio_oracle(f"""
    base AS (
        SELECT doc_id, doc_id // 2 AS g FROM documents),
    samp AS (
        SELECT doc_id, i, i // 10 AS k,
               ABS(CASE WHEN g % 2 = 0
                   THEN {ul}[(g * 7 + i * 13) % 256 + 1]
                   ELSE {al}[(g * 7 + i * 13) % 256 + 1] END) AS a
        FROM base, generate_series(0, 559) AS t(i))""")


@register("dedup_audio_fingerprint_g711", _g711_oracle())
@_audio_proof
def dedup_audio_fingerprint_g711(did: int) -> bytes:
    """CROSS-FORMAT audio dedup (r8 session 3): the same audio stored
    as G.711 telephony bytes and as PCM16 must fingerprint identically
    and dedup together — the realistic mixed-corpus scenario. Each
    group g gets a deterministic codeword sequence; doc v=0 carries the
    RAW G.711 container (µ-law for even g, A-law for odd — both decode
    paths run under the driver's oracle), v=1 carries the SAME decoded
    values as PCM16 (different bytes, same audio). G.711 decode is
    value-exact by construction (every sample is a table value; the
    envelope's *32768 rint recovers the int16 exactly), so the DuckDB
    twin — which embeds both 256-entry decode tables as list literals —
    grades the whole path bit-for-bit."""
    from turbine_maintenance_etl_spark.llm.g711 import ALAW_TABLE, ULAW_TABLE

    g, v = did // 2, did % 2
    i = np.arange(560, dtype=np.int64)
    codes = ((g * 7 + i * 13) % 256).astype(np.uint8)
    ulaw = g % 2 == 0
    if v == 1:  # the SAME decoded values, PCM16 container
        pcm = (ULAW_TABLE if ulaw else ALAW_TABLE)[codes]
        return _mono16k_wav(1, 16, pcm.astype("<i2").tobytes())
    return _mono16k_wav(0x07 if ulaw else 0x06, 8, codes.tobytes())  # raw codewords


_VIDEO_SIG_ORACLE = """
    WITH vids AS (
        SELECT doc_id AS video_id, doc_id // 2 AS vg, doc_id % 2 AS v
        FROM documents WHERE doc_id < 1000),
    frames AS (
        SELECT video_id, vg, v, fi
        FROM vids, UNNEST([0, 2, 4, 6, 8]) AS t(fi)),
    cells AS (
        SELECT video_id, vg, v, fi, r, c, ((2 * r + 1) * 16) // 14 AS yr
        FROM frames, generate_series(0, 6) AS t1(r), generate_series(0, 7) AS t2(c)),
    dh AS (
        SELECT video_id, fi,
               CAST(SUM(CASE WHEN
                          (vg * 41 + fi * 13 + yr * 11 + (2 * c + 3) * 7) % 250
                           > (vg * 41 + fi * 13 + yr * 11 + (2 * c + 1) * 7) % 250
                        THEN (1::BIGINT << (r * 8 + c)) ELSE 0 END)
                    AS BIGINT) AS dhash
        FROM cells GROUP BY video_id, fi),
    sigs AS (
        SELECT video_id, CAST(COUNT(*) AS BIGINT) AS n_frames_sampled,
               md5(string_agg(CAST(fi AS VARCHAR) || ':' || CAST(dhash AS VARCHAR),
                              ',' ORDER BY fi)) AS sig
        FROM dh GROUP BY video_id)
    SELECT video_id, n_frames_sampled, sig,
           video_id = MIN(video_id) OVER (PARTITION BY sig) AS survivor
    FROM sigs
    """


def _video_pixels(vg: int, v: int, fi: int) -> np.ndarray:
    """Frame fi of video group vg as a 16x18 grayscale image, shifted
    +2v for the odd twin — the formula _VIDEO_SIG_ORACLE recomputes."""
    r = np.arange(16)[:, None]
    c = np.arange(18)[None, :]
    return ((vg * 41 + fi * 13 + r * 11 + c * 7) % 250 + v * 2).astype(np.uint8)


@register("dedup_video_frames", _VIDEO_SIG_ORACLE)
def dedup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO dedup via frame-sampled perceptual signatures
    (llm/multimodal.py:video_frame_signatures) — a video is the honest
    frames-as-rows table (no container codecs here, same policy as
    JPEG). Each synthetic video is 10 PNG frames (pixel formula keyed
    (video_id//2, frame_idx), brightness-shifted for the odd twin —
    different bytes, same content); the chain is: every-2nd-frame
    sampling (scan-prunable filter) -> REAL PNG decode -> dHash per
    frame -> ordered (frame_idx, dhash) fold -> one md5 signature per
    video -> min-id survivor per signature. The DuckDB twin recomputes
    frame dHashes from the pixel formula + resize index map and the
    identical string fold — md5-exact across engines."""
    import pandas as pd

    from turbine_maintenance_etl_spark.llm.multimodal import (
        encode_png,
        video_frame_signatures,
    )

    vids = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id").filter(
            F.col("doc_id") < 1000
        )
    )
    frames = vids.select(
        F.col("doc_id").alias("video_id"),
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("frame_idx"),
    )

    def gen(it):
        for pdf in it:
            rows = []
            for _, rr in pdf.iterrows():
                vid, fi = int(rr["video_id"]), int(rr["frame_idx"])
                px = _video_pixels(vid // 2, vid % 2, fi)
                rows.append(
                    {"video_id": vid, "frame_idx": fi, "media": encode_png(px[:, :, None])}
                )
            yield pd.DataFrame(rows, columns=["video_id", "frame_idx", "media"])

    media = frames.mapInPandas(
        gen, schema="video_id bigint, frame_idx bigint, media binary"
    )
    return video_frame_signatures(media, every_nth=2)


@register("dedup_video_avi", _VIDEO_SIG_ORACLE)
def dedup_video_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video CONTAINER proof (r8 session 3): each video is a REAL
    Motion-JPEG AVI file (llm/avi.py — RIFF tree, avih/strh/strf
    headers, 00dc frame chunks) whose frames are LOSSLESS JPEG (SOF3,
    exact for any pixels), built from the SAME pixel formula as
    dedup_video_frames — so the chain AVI demux -> frame explode ->
    every-2nd sampling -> SOF3 decode -> dHash -> ordered signature
    fold is graded by the IDENTICAL DuckDB twin, md5-exact. Scale
    shape: container bytes cross Arrow once and fan out to frame rows;
    the signature fold shuffles 8-byte hashes, never pixels."""
    import pandas as pd

    from turbine_maintenance_etl_spark.llm.avi import (
        encode_avi_mjpeg,
        explode_avi_frames,
    )
    from turbine_maintenance_etl_spark.llm.jpeg import encode_jpeg_lossless
    from turbine_maintenance_etl_spark.llm.multimodal import (
        video_frame_signatures,
    )

    vids = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id").filter(
            F.col("doc_id") < 1000
        )
    )

    def gen(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                vid = int(did)
                frames = [
                    encode_jpeg_lossless(_video_pixels(vid // 2, vid % 2, fi)[:, :, None])
                    for fi in range(10)
                ]
                rows.append(
                    {"video_id": vid, "media": encode_avi_mjpeg(frames, 18, 16)}
                )
            yield pd.DataFrame(rows, columns=["video_id", "media"])

    avis = vids.mapInPandas(gen, schema="video_id bigint, media binary")
    frames = explode_avi_frames(avis).filter(F.col("err").isNull()).select(
        "video_id", "frame_idx", "media"
    )
    return video_frame_signatures(frames, every_nth=2)


@register(
    "dedup_image_neardup_pairs",
    """
    WITH base AS (
        SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v
        FROM documents WHERE doc_id < 600),
    cells AS (
        SELECT doc_id, g, v, r, c, ((2 * r + 1) * 16) // 14 AS yr
        FROM base, generate_series(0, 6) AS t1(r), generate_series(0, 7) AS t2(c)),
    dh AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN
                     (g * 37 + yr * 11 + (2 * c + 3) * 7) % 150
                       + CASE WHEN v = 1 AND yr = 8 AND 2 * c + 3 = 9
                              THEN 100 ELSE 0 END
                   >
                     (g * 37 + yr * 11 + (2 * c + 1) * 7) % 150
                       + CASE WHEN v = 1 AND yr = 8 AND 2 * c + 1 = 9
                              THEN 100 ELSE 0 END
                   THEN (1::BIGINT << (r * 8 + c)) ELSE 0 END)
                    AS BIGINT) AS dhash
        FROM cells GROUP BY doc_id),
    bands AS (
        SELECT doc_id, dhash, b, (dhash >> (b * 8)) & 255 AS bv
        FROM dh, generate_series(0, 6) AS t(b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
               a.dhash AS ha, bb.dhash AS hb
        FROM bands a JOIN bands bb ON a.b = bb.b AND a.bv = bb.bv
                                  AND a.doc_id < bb.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 6
    """,
)
def dedup_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-duplicate image path graded end to end: the banded
    Hamming join (llm/multimodal.py:phash_near_dup_pairs — SimHash
    banding over dHash, pigeonhole-complete for distance <= n_bands-1)
    over synthetic PNGs where the doc_id%2 variant perturbs ONE sampled
    pixel (+100 at original coords (8, 9), a resize sample point), so
    each (2g, 2g+1) image pair lands a bit or two apart — different
    bytes, no exact hash collision, found only by the banding. The
    DuckDB twin recomputes the perturbed dHashes from the pixel formula
    and replays the band split (shift/mask), join, and bit_count(xor)
    verification — pair-set and distances hash-exact across engines."""
    import numpy as np
    import pandas as pd

    from turbine_maintenance_etl_spark.llm.multimodal import (
        encode_png,
        image_phash,
        phash_near_dup_pairs,
    )

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id").filter(
            F.col("doc_id") < 600
        )
    )

    def gen(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                g, v = did // 2, did % 2
                r = np.arange(16)[:, None]
                c = np.arange(18)[None, :]
                px = ((g * 37 + r * 11 + c * 7) % 150).astype(np.int64)
                if v == 1:
                    px[8, 9] += 100
                rows.append(
                    {"doc_id": did, "media": encode_png(px.astype(np.uint8)[:, :, None])}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    media = docs.mapInPandas(gen, schema="doc_id bigint, media binary")
    return phash_near_dup_pairs(
        image_phash(media), hash_col="dhash", id_col="doc_id",
        n_bands=7, band_bits=8, max_hamming=6,
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _fuzzy_decon_oracle(
    num_hashes: int = 32, bands: int = 8, seed: int = 42, threshold: float = 0.2
) -> str:
    # Same portable hash family as _minhash_oracle (seed-locked to
    # dedup.minhash_signatures), replayed over BOTH sides of the
    # corpus/benchmark split, then Jaccard-verified on candidates only.
    rng = random.Random(seed)
    p = (1 << 31) - 1
    coeffs = [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]
    h = _DUCK_HASH64.format(s="s")
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(hs, h -> (h % {p} * {a} + {b}) % {p}), 'min') AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, md5(concat_ws(',', "
        + ", ".join(f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows))
        + ")) AS bh FROM sigs"
        for bi in range(bands)
    )
    inter = "len(list_filter(ds.s, x -> list_contains(bs.s, x)))"
    return f"""
    WITH base AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)),
    hashed AS (SELECT doc_id, list_transform(s, s -> {h}) AS hs FROM base
               WHERE len(s) > 0),
    sigs AS (SELECT doc_id, {mh_cols} FROM hashed),
    buckets AS ({band_selects}),
    docb AS (SELECT doc_id, band, bh FROM buckets WHERE doc_id % 37 <> 0),
    benb AS (SELECT doc_id AS bench_id, band, bh FROM buckets WHERE doc_id % 37 = 0),
    cand AS (
        SELECT DISTINCT d.doc_id, b.bench_id
        FROM docb d JOIN benb b ON d.band = b.band AND d.bh = b.bh),
    verified AS (
        SELECT c.doc_id, c.bench_id,
               CAST({inter} AS DOUBLE)
                   / NULLIF(CAST(len(ds.s) + len(bs.s) - {inter} AS DOUBLE), 0)
                   AS j
        FROM cand c
        JOIN base ds ON ds.doc_id = c.doc_id
        JOIN base bs ON bs.doc_id = c.bench_id)
    SELECT doc_id, bench_id, ROUND(j, 4) AS jaccard
    FROM verified WHERE j >= {threshold}
    """


@register("text_decontamination_fuzzy", _fuzzy_decon_oracle())
def text_decontamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-LSH + Jaccard-verified) decontamination of the
    corpus (doc_id % 37 <> 0) against a benchmark split (% 37 = 0) —
    the paraphrase-robust complement of the exact-shingle
    text_decontamination entries. Oracle-checkable end to end because
    the LSH hash family is portable md5: DuckDB replays candidate
    generation AND verification and must produce the identical hit
    list (quality.fuzzy_decontamination)."""
    from turbine_maintenance_etl_spark.llm.quality import fuzzy_decontamination

    d = _t(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 37 != 0)
    bench = d.filter(F.col("doc_id") % 37 == 0)
    return fuzzy_decontamination(docs, bench, threshold=0.2)


def _capstone_oracle(num_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    """DuckDB relational twin of the two-batch streaming curation
    capstone: quality gate -> per-batch exact dedup -> per-batch
    in-batch LSH drop -> batch-1 probe against batch-0 survivors'
    buckets. Shares the portable md5 minhash family with
    ``_minhash_oracle`` (same seed, same coefficients)."""
    rng = random.Random(seed)
    p = (1 << 31) - 1
    coeffs = [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)
    ]
    h = _DUCK_HASH64.format(s="s")
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(hs, h -> (h % {p} * {a} + {b}) % {p}), 'min') AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, batch, {bi} AS band, md5(concat_ws(',', "
        + ", ".join(f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows))
        + ")) AS bh FROM sigs"
        for bi in range(bands)
    )
    return f"""
    WITH d0 AS (
        SELECT doc_id, source, text, doc_id % 2 AS batch, {_DUCK_TOKS} AS toks
        FROM documents),
    gated AS (
        SELECT doc_id, source, text, batch, toks FROM d0
        WHERE len(toks) >= 20
          AND ROUND(CAST(len(list_filter(toks, x -> lower(x) IN ({_EN_SQL}))) AS DOUBLE)
                    / NULLIF(CAST(len(toks) AS DOUBLE), 0), 4) >= 0.05),
    ex AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY batch, md5(text)
                                     ORDER BY doc_id) AS rn
        FROM gated),
    kept AS (SELECT doc_id, source, batch, toks FROM ex WHERE rn = 1),
    sh AS (SELECT doc_id, batch, {_DUCK_SHINGLES} AS s FROM kept),
    hashed AS (SELECT doc_id, batch, list_transform(s, s -> {h}) AS hs FROM sh
               WHERE len(s) > 0),
    sigs AS (SELECT doc_id, batch, {mh_cols} FROM hashed),
    buckets AS ({band_selects}),
    drop_in AS (
        SELECT DISTINCT b.doc_id
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bh = b.bh AND a.batch = b.batch
         AND a.doc_id < b.doc_id),
    kept2 AS (
        SELECT k.doc_id, k.source, k.batch FROM kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM drop_in)),
    index0 AS (
        SELECT DISTINCT bk.band, bk.bh
        FROM buckets bk JOIN kept2 s ON s.doc_id = bk.doc_id AND s.batch = 0),
    drop_probe AS (
        SELECT DISTINCT bk.doc_id
        FROM buckets bk
        JOIN index0 i ON bk.band = i.band AND bk.bh = i.bh
        WHERE bk.batch = 1),
    final AS (
        SELECT doc_id, source FROM kept2
        WHERE batch = 0
           OR doc_id NOT IN (SELECT doc_id FROM drop_probe))
    SELECT doc_id, source, CAST({bands} AS BIGINT) AS n_bands FROM final
    """


@register("streaming_curation_capstone", _capstone_oracle())
def streaming_curation_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed continuous-ingest capstone, DRIVER-GRADED against a
    relational twin: the documents table arrives as TWO acid commits
    (doc_id parity), ``stream_incremental_curation`` drains each as a
    micro-batch (quality gate -> per-batch exact dedup -> in-batch LSH
    drop -> stored-index probe -> keyed-merge commits), and the final
    curated table joined to the real on-disk LSH index (n_bands per
    survivor) is the result. The DuckDB oracle replays the whole chain
    relationally — portable md5 minhash family, same seed — so the
    surviving document SET and the index's per-doc band count are both
    hash-checked across engines. Replay idempotence of the sinks is
    pinned separately (tests/test_acid_table.py)."""
    import shutil
    import tempfile

    from turbine_maintenance_etl_spark.io import acid
    from turbine_maintenance_etl_spark.streaming.ingest import (
        stream_incremental_curation,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tmp = tempfile.mkdtemp(prefix="spark_graft_capstone_")
    src, cur, idx = f"{tmp}/src", f"{tmp}/curated", f"{tmp}/index"
    ckpt = f"{tmp}/ckpt"
    try:
        acid.create_table(spark, docs.filter(F.col("doc_id") % 2 == 0), src)
        stream_incremental_curation(spark, src, cur, idx, ckpt, timeout_s=300)
        acid.append_table(spark, docs.filter(F.col("doc_id") % 2 == 1), src)
        stream_incremental_curation(spark, src, cur, idx, ckpt, timeout_s=300)
        curated = acid.read_table(spark, cur).select("doc_id", "source")
        bands = (
            acid.read_table(spark, idx)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bands"))
        )
        out = curated.join(bands, "doc_id").select("doc_id", "source", "n_bands")
        return spark.createDataFrame(
            out.collect(), "doc_id bigint, source string, n_bands bigint"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _cluster_split_oracle(train_pct: int = 80) -> str:
    pairs = _minhash_oracle()
    bucket = (
        "CAST(('0x' || substring(md5(CAST(rep_id AS VARCHAR) || 'split'), 1, 15))"
        " AS BIGINT) % 100"
    )
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN reach r ON e.dst = r.node),
    clusters AS (
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM reach GROUP BY node),
    labeled AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
    SELECT doc_id, rep_id,
           CASE WHEN {bucket} < {train_pct} THEN 'train' ELSE 'eval' END AS split
    FROM labeled
    """


@register("split_cluster_aware", _cluster_split_oracle())
def split_cluster_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/eval split (llm/dedup.py
    ``cluster_aware_split``): the split key is the LSH-resolved
    near-dup cluster representative, so no duplicate pair ever
    straddles the boundary — the contamination a plain id-hash split
    (split_hash_80_20) cannot prevent. Doc-level output
    (doc_id, rep_id, split) so the oracle hash-checks EVERY assignment:
    DuckDB replays candidate pairs, the recursive-CTE transitive
    closure, the representative coalesce, and the salted md5 bucket."""
    return D.cluster_aware_split(_t(spark, sf_dir, "documents")).select(
        "doc_id", "rep_id", "split"
    )


@register(
    "text_bm25_topk",
    f"""
    WITH qterms(query_id, term) AS (
        VALUES ('q_scan', 'table'), ('q_scan', 'scan'), ('q_scan', 'merge'),
               ('q_sort', 'spark'), ('q_sort', 'sort'), ('q_sort', 'window'),
               ('q_agg', 'agg'), ('q_agg', 'hash'), ('q_agg', 'value')),
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(len(toks)) AS avgdl FROM toks),
    tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
            SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM toks)
        WHERE term IN (SELECT DISTINCT term FROM qterms)
        GROUP BY doc_id, dl, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               ROUND(SUM(
                   LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
               ), 6) AS score
        FROM tf JOIN qterms q USING (term) JOIN dfreq d USING (term)
        CROSS JOIN stats s
        GROUP BY q.query_id, tf.doc_id),
    ranked AS (
        SELECT query_id, doc_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        FROM scored)
    SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 5
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval over the corpus (llm/text.py:bm25_topk):
    top-5 documents for three fixed keyword queries. The lexical-ranking
    workhorse behind retrieval-based curation (hard-negative mining,
    benchmark-similarity screens). One corpus (doc, term) shuffle builds
    the postings; everything else runs on broadcast term-filtered
    slices — the oracle replays the full idf/length-normalization
    arithmetic."""
    return TX.bm25_topk(
        _t(spark, sf_dir, "documents"),
        queries=[
            ("q_scan", "table scan merge"),
            ("q_sort", "spark sort window"),
            ("q_agg", "agg hash value"),
        ],
        k=5,
    )


_DUCK_EMB_BUCKET = (
    "((strpos('0123456789abcdef', substr(md5(term), 7, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(term), 8, 1)) - 1)) % 64"
)
_DUCK_EMB_SIGN = (
    "CASE WHEN (strpos('0123456789abcdef', substr(md5(term), 10, 1)) - 1) % 2 = 1"
    " THEN 1 ELSE -1 END"
)


@register(
    "pipeline_chunk_embed_retrieval",
    f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (
        SELECT doc_id, toks,
               UNNEST(list_filter(generate_series(1, len(toks), 28),
                                  st -> st = 1 OR st + 4 <= len(toks))) AS st
        FROM t WHERE len(toks) > 0),
    chunks AS (
        SELECT doc_id,
               doc_id * 10000
                   + ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1
                   AS cid,
               toks[st : st + 31] AS ctoks
        FROM s),
    feat AS (
        SELECT cid, doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS w FROM (
            SELECT cid, doc_id,
                   {_DUCK_EMB_BUCKET} AS bucket, {_DUCK_EMB_SIGN} AS sign
            FROM (SELECT cid, doc_id, UNNEST(ctoks) AS term FROM chunks))
        GROUP BY cid, doc_id, bucket HAVING SUM(sign) <> 0),
    pairs AS (
        SELECT q.cid AS query_id, c.cid AS neighbor_id,
               CAST(SUM(q.w * c.w) AS BIGINT) AS score
        FROM feat q JOIN feat c USING (bucket)
        WHERE q.doc_id < 20 AND c.doc_id <> q.doc_id
        GROUP BY q.cid, c.cid HAVING SUM(q.w * c.w) > 0),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM pairs)
    SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 3
    """,
)
def pipeline_chunk_embed_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed RAG chain — chunk (32/4) -> mapInPandas hashing
    encoder -> inverted-index dot-product top-3 — with the PYTHON
    ENCODER ITSELF value-checked: ``normalize=False`` keeps the encoder
    output exact-integer, and the DuckDB twin replays the md5
    bucket/sign math token by token, so a single flipped bucket or sign
    anywhere in the UDF path hash-mismatches. This closes the gap that
    keeps pipeline_chunk_embed_ann rows-only (float cosine after L2
    normalization isn't bit-portable; integer dot products are).

    Queries are every chunk of docs 0-19; candidates the whole chunked
    corpus; same-document matches excluded (retrieval must not answer a
    chunk with its own document)."""
    from turbine_maintenance_etl_spark.llm.embed import embed_text
    from turbine_maintenance_etl_spark.llm.similarity import inverted_index_topk
    from turbine_maintenance_etl_spark.llm.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=4).withColumn(
        "cid", F.col("doc_id") * 10_000 + F.col("chunk_id")
    )
    emb = embed_text(
        chunks, id_col="cid", text_col="chunk_text", dim=64, normalize=False
    ).withColumn("gdoc", F.expr("cid DIV 10000"))
    # Query side filtered BEFORE its encoder: mapInPandas is opaque to
    # Catalyst, so a post-encode filter would re-encode the WHOLE corpus
    # on the broadcast subtree just to keep 20 docs' chunks.
    q_emb = embed_text(
        chunks.filter(F.col("doc_id") < 20),
        id_col="cid",
        text_col="chunk_text",
        dim=64,
        normalize=False,
    )
    queries = q_emb.select(
        F.col("cid").alias("query_id"), "embedding", F.expr("cid DIV 10000").alias("gdoc")
    )
    return inverted_index_topk(
        emb,
        queries,
        k=3,
        id_col="cid",
        vec_col="embedding",
        group_col="gdoc",
        # bounded by construction (chunks of docs 0-19); skipping the
        # guard saves a count job that would run the query-side encoder
        max_queries=None,
    )


@register("dedup_image_phash_jpeg_progressive", _JPEG_PHASH_ORACLE)
@_image_proof
def dedup_image_phash_jpeg_progressive(did: int) -> bytes:
    """The round-8 companion to dedup_image_phash_jpeg: a FORMAT-MIXED
    corpus — each image encoded baseline (even group) or PROGRESSIVE
    SOF2 (odd group, spectral-selection + successive-approximation
    scans, llm/jpeg.py:encode_jpeg_progressive) — flows through ONE
    decode path, proving the from-spec progressive decoder end to end
    under the driver's oracle. Pixels are identical to the baseline
    entry (q100 block-constant -> decode is BIT-exact in both modes:
    progressive transmits the same quantized coefficients), so the SAME
    DuckDB twin grades both entries value-for-value."""
    from turbine_maintenance_etl_spark.llm.jpeg import (
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    g = did // 2
    enc = encode_jpeg_baseline if g % 2 == 0 else encode_jpeg_progressive
    return enc(_block_pixels(g, did % 2)[:, :, None], quality=100)


@register("dedup_image_phash_jpeg_arith", _JPEG_PHASH_ORACLE)
@_image_proof
def dedup_image_phash_jpeg_arith(did: int) -> bytes:
    """The round-8 ARITHMETIC-coding companion: a four-way format-mixed
    corpus — each image encoded baseline SOF0, progressive SOF2,
    extended-sequential ARITHMETIC SOF9, or progressive ARITHMETIC
    SOF10 by g%4 (llm/jpeg_arith.py: T.81 Annex D QM-coder + Annex F/G
    statistical models, DAC conditioning varied on the sequential-
    arithmetic group) — flows through ONE decode path, proving the
    from-spec arithmetic entropy decoder end to end under the driver's
    oracle. All four encoders transmit IDENTICAL quantized coefficients
    (q100 block-constant -> decode is bit-exact in every mode), so the
    SAME DuckDB twin grades all three JPEG entries value-for-value; the
    arithmetic paths are additionally interop-pinned against the system
    libjpeg in tests/test_jpeg_arith.py."""
    from turbine_maintenance_etl_spark.llm.jpeg import (
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )
    from turbine_maintenance_etl_spark.llm.jpeg_arith import (
        encode_jpeg_arith,
        encode_jpeg_progressive_arith,
    )

    g = did // 2
    px = _block_pixels(g, did % 2)[:, :, None]
    mode = g % 4
    if mode == 0:
        return encode_jpeg_baseline(px, quality=100)
    if mode == 1:
        return encode_jpeg_progressive(px, quality=100)
    if mode == 2:  # non-default DAC conditioning: entropy changes, values must not
        return encode_jpeg_arith(px, quality=100, dc_cond=(0, 2), ac_kx=3)
    return encode_jpeg_progressive_arith(px, quality=100)
