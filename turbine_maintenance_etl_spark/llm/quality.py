"""Corpus-quality operators for LLM training-data curation:
Gopher-style repetition signals and benchmark decontamination.

Both are expression-first. Repetition signals are ZERO-shuffle narrow
maps (every statistic — including top-bigram frequency — is computed
inside the row via higher-order array functions, O(B log B) per doc),
so at 100 TB they run at scan speed with full column pruning.
Decontamination is one explode + one broadcast join: benchmark/eval
sets are small by nature, so their distinct-shingle set broadcasts and
the candidate side streams map-only with no candidate-side shuffle
until the per-doc re-aggregation.

Repetition-signal definitions follow the published Gopher data-quality
rules (Rae et al. 2021, "Scaling Language Models", table of repetition
filters), adapted to word/bigram grain because the synthetic corpus has
no newlines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.llm.dedup import shingles
from turbine_maintenance_etl_spark.llm.text import (  # noqa: F401 (bind_once,
    bind_once,  # tokens_expr: public re-exports kept for API/test compat)
    sqlref,
    tokens_expr,
    tokens_sql,
)


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition / quality statistics, all rounded to 4dp:

    - n_words, n_bigrams
    - dup_word_frac    = (occurrences - distinct words) / occurrences
    - dup_bigram_frac  = (occurrences - distinct bigrams) / occurrences
    - top_bigram_frac  = multiplicity of the most frequent bigram /
                         total bigrams (Gopher's top-n-gram fraction)
    - mean_word_len
    - alpha_word_frac  = fraction of words containing a letter
    - symbol_word_ratio = ('#' + '...' occurrences) / words (Gopher's
                          symbol-to-word ratio)

    Fractions are NULL when the denominator is 0 (empty text).

    Single-parse construction (text.tokens_sql): the whole per-row stats
    struct — bigrams, the run-length aggregate, every ratio — is ONE SQL
    string parsed by one F.expr call; the expression tree (and therefore
    every result) is identical to the per-operator Column build, which
    paid ~10 py4j lambda bridges per call."""

    def frac(num: str, den: str) -> str:
        return f"round(({num}) / (CASE WHEN ({den}) > 0 THEN {den} END), 4)"

    t = sqlref(text_col)
    n1 = "greatest(size(toks) - 1, 0)"
    bgs_build = (
        f"zip_with(slice(toks, 1, {n1}), slice(toks, 2, {n1}), "
        "(a, b) -> concat_ws(' ', a, b))"
    )
    n_words = "size(toks)"
    n_bigrams = "size(bgs)"
    sum_len = "aggregate(toks, cast(0 as bigint), (a, x) -> a + length(x))"
    n_alpha = "size(filter(toks, x -> x rlike '[A-Za-z]'))"
    n_symbols = (
        f"length({t}) - length(regexp_replace({t}, '#', '')) + "
        f"floor((length({t}) - length(regexp_replace({t}, '\\\\.\\\\.\\\\.', ''))) / 3)"
    )
    run = "CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE cast(1 as bigint) END"
    top_run = (
        "aggregate(array_sort(bgs), "
        "named_struct('prev', cast(null as string), 'run', cast(0 as bigint), "
        "'best', cast(0 as bigint)), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, "
        f"'best', greatest(acc.best, {run})), acc -> acc.best)"
    )
    struct = (
        "named_struct("
        f"'n_words', cast({n_words} as bigint), "
        f"'n_bigrams', cast({n_bigrams} as bigint), "
        f"'dup_word_frac', {frac(f'{n_words} - size(array_distinct(toks))', n_words)}, "
        f"'dup_bigram_frac', {frac(f'{n_bigrams} - size(array_distinct(bgs))', n_bigrams)}, "
        f"'top_bigram_frac', {frac(top_run, n_bigrams)}, "
        f"'mean_word_len', {frac(sum_len, n_words)}, "
        f"'alpha_word_frac', {frac(n_alpha, n_words)}, "
        f"'symbol_word_ratio', {frac(n_symbols, n_words)})"
    )
    # BIND the bigram array once per row via a second nested transform
    # (r11, guide §4.1 expression choice): higher-order-function
    # subexpressions are not CSE'd by codegen, and the un-bound form
    # re-evaluated the zip_with bigram build 8x per row (counted in
    # the optimized plan); same trick the outer transform plays for
    # `toks`, value-identical expression tree per reference
    s = F.expr(
        f"transform(array({tokens_sql(t)}), toks -> "
        f"transform(array({bgs_build}), bgs -> {struct})[0])[0]"
    )
    return df.select(F.col(id_col), s.alias("_s")).select(id_col, "_s.*")


def decontamination_scores(
    candidates: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark contamination: for each candidate document, the
    fraction of its DISTINCT word n-gram shingles that also occur
    anywhere in the benchmark corpus (the standard train/eval
    decontamination test used for LLM corpora).

    Scale shape: the benchmark's distinct shingle set is exploded,
    deduped, and BROADCAST (eval sets are tiny relative to the corpus);
    candidates explode their shingles map-side, hash-join against the
    broadcast, and re-aggregate per document — the only candidate-side
    shuffle is the final per-doc groupBy. Documents with no shingles
    (< n words) survive with n_shingles = 0 and NULL contamination."""
    bench_sh = (
        benchmark.select(F.explode(shingles(text_col, n)).alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    cand = candidates.select(
        F.col(id_col), F.explode_outer(shingles(text_col, n)).alias("sh")
    )
    scored = (
        cand.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("sh").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_contaminated"),
        )
    )
    contamination = F.round(
        F.col("n_contaminated") / F.when(F.col("n_shingles") > 0, F.col("n_shingles")),
        4,
    )
    return scored.select(
        id_col,
        "n_shingles",
        "n_contaminated",
        contamination.alias("contamination"),
        F.when(contamination > flag_threshold, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("flagged"),
    )


def fuzzy_decontamination(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    text_col: str = "text",
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """NEAR-match decontamination: corpus documents that are fuzzy
    duplicates of a benchmark/eval document — the paraphrase-robust
    complement of the exact-shingle ``decontamination_scores`` (a
    lightly reworded eval question shares few exact 13-gram shingles
    but keeps a high Jaccard over 3-gram shingles and LSH-collides).

    Two stages, both linear in the corpus:

    1. **Candidate generation** — MinHash band buckets for BOTH sides
       with the same portable hash family (``dedup.lsh_band_buckets``),
       equi-joined on (band, band-hash). The benchmark index is tiny
       (eval sets), so Catalyst broadcasts it; the corpus side streams.
       Mega-buckets on the benchmark side are capped like the
       incremental-LSH probe (boilerplate buckets fan out otherwise).
    2. **Verification** — n-gram Jaccard on the candidate pairs only
       (never all pairs), via a broadcast of the benchmark shingle
       arrays; pairs >= ``threshold`` are contamination hits.

    Returns (doc_id, bench_id, jaccard) rows — feed to a left-anti join
    (``decontaminate``) to drop hits, or keep for audit. Deterministic:
    same seed -> same buckets -> same pairs, so a SQL oracle can replay
    it exactly."""
    from turbine_maintenance_etl_spark.llm import dedup as D

    bench_idx = D.lsh_band_buckets(
        benchmark, num_hashes, bands, n, text_col, id_col, seed
    ).select(F.col(id_col).alias(bench_id_col), "band", "bh")
    if max_bucket_size is not None:
        ok = (
            bench_idx.groupBy("band", "bh")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") <= max_bucket_size)
            .drop("_sz")
        )
        # benchmark-sized on both sides -> broadcast (the corpus-scale
        # twin in incremental_lsh_candidates correctly shuffles instead)
        bench_idx = bench_idx.join(F.broadcast(ok), ["band", "bh"], "left_semi")
    doc_buckets = D.lsh_band_buckets(
        docs, num_hashes, bands, n, text_col, id_col, seed
    )
    cand = (
        doc_buckets.join(F.broadcast(bench_idx), ["band", "bh"])
        .select(id_col, bench_id_col)
        .distinct()
    )
    b_sh = benchmark.select(
        F.col(id_col).alias(bench_id_col), shingles(text_col, n).alias("_sh_b")
    )
    # The candidate list is broadcast for the corpus-side verify join:
    # with capped benchmark buckets it scales with the contamination
    # rate (collisions against a tiny eval set), not the corpus, so the
    # corpus is never shuffled — one map-side scan probes both broadcast
    # sides. (A corpus whose benchmark hit list overflows a broadcast
    # isn't a decontamination problem — run near-dup DEDUP first.)
    # Corpus shingles are computed AFTER the candidate join, so the
    # verify stage re-shingles only the hit candidates, not the whole
    # corpus — Catalyst does not move a projection below a join on its
    # own, so projecting first paid a second full-corpus shingle pass
    # on top of the signature pipeline's (round-8 plan pass).
    pairs = (
        docs.select(F.col(id_col), F.col(text_col))
        .join(F.broadcast(cand), id_col)
        .withColumn("_sh_d", shingles(text_col, n))
        .join(F.broadcast(b_sh), bench_id_col)
    )
    inter = F.expr("size(filter(`_sh_d`, x -> array_contains(`_sh_b`, x)))")
    union = F.size("_sh_d") + F.size("_sh_b") - inter
    # threshold on the EXACT ratio; round only the reported column (r10
    # review): rounding first flagged pairs up to 5e-5 BELOW the
    # threshold (0.19996 rounds to 0.2 >= 0.2) — decontaminate() then
    # dropped documents the '>= threshold' contract says to keep
    jac = inter / F.nullif(union.cast("double"), F.lit(0.0))
    return (
        pairs.withColumn("_j", jac)
        .filter(F.col("_j") >= threshold)
        .select(id_col, bench_id_col, F.round("_j", 4).alias("jaccard"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Corpus minus fuzzy benchmark matches: one left-anti join on the
    hit list from ``fuzzy_decontamination``."""
    hits = fuzzy_decontamination(
        docs, benchmark, threshold, id_col=id_col, **kwargs
    ).select(id_col).distinct()
    return docs.join(hits, id_col, "left_anti")


# PII patterns: portable between Java regex (Spark) and RE2 (DuckDB) —
# no backrefs, no lookaround, \b and bounded quantifiers only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[- ]\d{4}\b"


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails and phone-shaped numbers from a text column —
    the minimal PII pass every training corpus gets before release.
    Pure regexp expressions (codegen, zero shuffle); adds counts so the
    redaction rate is auditable per document."""
    c = F.col(text_col)

    def count_matches(pattern: str) -> Column:
        # NULL text must count NULL, matching the oracle's
        # len(regexp_extract_all(NULL)) — un-guarded, the NULL match
        # array reaches size() as legacy -1 under the ANSI-off session
        # (r10 adversarial sweep; same class as text.tokens_expr)
        return F.when(
            c.isNotNull(), F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))
        )

    return df.withColumn(
        "n_emails", count_matches(EMAIL_RE)
    ).withColumn(
        "n_phones", count_matches(PHONE_RE)
    ).withColumn(
        out_col,
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
    )


def segment_repetition_signals(
    df: DataFrame,
    sep_regex: str = r"\n+",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment-level Gopher repetition filters (Rae et al. 2021:
    duplicate line / paragraph fraction and the char-mass variants),
    with the segment boundary as a parameter (``\\n+`` lines by
    default; ``\\n\\n+`` paragraphs; ``\\.\\s+`` sentence-ish).

    Per document, over trimmed non-empty segments:

    - n_segments
    - dup_seg_frac       = (occurrences - distinct segments) / occurrences
    - dup_seg_char_frac  = chars in EVERY occurrence of a repeated
                           segment / total segment chars (Gopher counts
                           all copies of a duplicated line, not just the
                           extras)

    Zero-shuffle like the word/bigram signals: the repeated-segment char
    mass comes from one ``aggregate`` pass over the SORTED segment array
    tracking (prev, run length, duplicated char mass) — when a run
    reaches length 2 the accumulator adds both occurrences, then one per
    further repeat. Linear per row, no explode, no join-back.
    """

    def frac(num: str, den: str) -> str:
        return f"round(({num}) / (CASE WHEN ({den}) > 0 THEN {den} END), 4)"

    n_segs = "size(segs)"
    total_chars = "aggregate(segs, cast(0 as bigint), (a, x) -> a + length(x))"
    is_rep = "x <=> acc.prev"
    run = f"CASE WHEN {is_rep} THEN acc.run + 1 ELSE cast(1 as bigint) END"
    add = (
        f"CASE WHEN ({is_rep}) AND acc.run = 1 THEN cast(length(x) as bigint) * 2 "
        f"WHEN {is_rep} THEN cast(length(x) as bigint) "
        "ELSE cast(0 as bigint) END"
    )
    dup_chars = (
        "aggregate(array_sort(segs), "
        "named_struct('prev', cast(null as string), 'run', cast(0 as bigint), "
        "'dup', cast(0 as bigint)), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, 'dup', acc.dup + ({add})), "
        "acc -> acc.dup)"
    )
    n_dup = f"{n_segs} - size(array_distinct(segs))"
    struct = (
        "named_struct("
        f"'n_segments', cast({n_segs} as bigint), "
        f"'n_dup_segments', cast({n_dup} as bigint), "
        f"'dup_seg_frac', {frac(n_dup, n_segs)}, "
        f"'dup_seg_char_frac', {frac(dup_chars, total_chars)})"
    )
    # coalesce guard (r10 review, same rule as text.tokens_expr): NULL
    # text must read as ZERO segments — un-coalesced, the NULL array
    # reaches size() as legacy -1 under the ANSI-off session and the
    # row reports n_segments = -1. Single-parse construction like
    # repetition_signals.
    sep_lit = sep_regex.replace("\\", "\\\\").replace("'", "\\'")
    segs_expr = (
        f"coalesce(filter(transform(split({sqlref(text_col)}, '{sep_lit}'), "
        "x -> trim(x)), x -> x != ''), cast(array() as array<string>))"
    )
    s = F.expr(f"transform(array({segs_expr}), segs -> {struct})[0]")
    return df.select(F.col(id_col), s.alias("_s")).select(id_col, "_s.*")


# --- Bloom-filter decontamination -----------------------------------------
#
# decontamination_scores broadcasts the benchmark's EXACT distinct-shingle
# set. That is the right plan while the set fits comfortably in a broadcast
# (eval suites: MBs). When the "benchmark" side is itself large — e.g.
# held-out validation shards, a whole eval UNION, or cross-corpus
# contamination checks — the exact set stops broadcasting and the join
# degrades to shuffling EVERY corpus shingle. The bloom path compresses the
# benchmark set into a fixed-size bit array (~10 bits/element at 1% FPR:
# a 100M-shingle benchmark becomes a ~120 MB broadcast instead of multi-GB),
# tests corpus shingles MAP-SIDE against it, and only the surviving ~1%
# enter the exact verification join — so the candidate-side shuffle (or
# broadcast-probe work) shrinks by ~100x while the final answer stays EXACT
# (blooms have no false negatives; false positives are removed by the
# verify join).


def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Standard bloom sizing: m = -n ln p / (ln 2)^2 bits, k = m/n ln 2."""
    import math

    n = max(1, expected_items)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64  # whole 64-bit words
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _bloom_positions(col: Column, m: int, k: int) -> Column:
    """The k bit positions of a value: pmod(xxhash64(value, seed_i), m).
    Computed JVM-side (codegen) so build and probe sides agree by
    construction."""
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)).alias(f"h{i}") for i in range(k)]
    )


def build_shingle_bloom(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    expected_items: int | None = None,
    fpp: float = 0.01,
):
    """Distributed bloom-filter build over the benchmark's shingle set.

    Returns ``(bitmap, m, k)`` where ``bitmap`` is a numpy uint64 array of
    ``m/64`` words. The build is one explode + one groupBy(word_idx) with
    ``bit_or`` partial aggregation (map-side combine collapses each
    partition to <= m/64 rows before the shuffle), then a driver collect
    of the set words — bounded by the FILTER size (m/64 words), which is
    sized from the benchmark, never from the corpus. No distinct pass is
    needed: duplicate shingles set the same bits.

    ``expected_items``: upper bound on distinct benchmark shingles; if
    None, one count job measures it (exact count of distinct shingles is
    not needed — total shingle occurrences is a safe upper bound and
    avoids a distinct shuffle).
    """
    import numpy as np

    sh = benchmark.select(F.explode(shingles(text_col, n)).alias("sh"))
    if expected_items is None:
        expected_items = sh.count()
    m, kk = _bloom_params(expected_items, fpp)
    words = (
        sh.select(F.explode(_bloom_positions(F.col("sh"), m, kk)).alias("pos"))
        .groupBy((F.col("pos") / 64).cast("bigint").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("bits")
        )
        .collect()
    )
    bitmap = np.zeros(m // 64, dtype=np.uint64)
    for r in words:
        bitmap[int(r["w"])] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bitmap, m, kk


def bloom_decontamination(
    candidates: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    flag_threshold: float = 0.5,
    fpp: float = 0.01,
    expected_items: int | None = None,
    exact_verify: bool = True,
) -> DataFrame:
    """Decontamination with a bloom prefilter — same semantics and output
    schema as ``decontamination_scores`` when ``exact_verify=True``
    (differential-tested equal), but the candidate side only joins the
    shingles the bloom could not rule out.

    Plan shape at 100 TB:
      1. build: benchmark explode → bit_or agg → driver bitmap (bounded
         by filter size), broadcast via SparkContext (torrent, once per
         executor — NOT a plan literal, so the plan stays small).
      2. probe: corpus shingles explode map-side; k xxhash64 positions
         (codegen); one vectorized Arrow-batched pandas UDF tests the
         bits (numpy gather, no Python loop). ~99% of shingles drop
         here without touching a join or shuffle.
      3. verify (exact_verify=True): survivors join the exact benchmark
         shingle set — now a small fraction of the corpus, so this join
         broadcasts or shuffles cheaply either way. False positives die
         here; the result is EXACTLY ``decontamination_scores``.
         With exact_verify=False the result is the bloom upper bound
         (n_contaminated may overcount by ~fpp x n_shingles; flagged is
         a superset) and the benchmark set is never materialized on the
         probe path at all.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = candidates.sparkSession
    bitmap, m, kk = build_shingle_bloom(
        benchmark, text_col=text_col, n=n, expected_items=expected_items, fpp=fpp
    )
    bc = spark.sparkContext.broadcast(bitmap)

    def _maybe(positions: pd.Series) -> pd.Series:
        bm = bc.value
        if len(positions) == 0:
            return pd.Series([], dtype=bool)
        P = np.stack(positions.to_numpy())  # (batch, k) int64 >= 0
        words = bm[P >> 6]
        bits = (words >> (P & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    # explicit annotations (evaluated objects, not strings) so pandas_udf
    # infers the scalar eval type under `from __future__ import annotations`
    _maybe.__annotations__ = {"positions": pd.Series, "return": pd.Series}
    maybe_in_bloom = pandas_udf("boolean")(_maybe)

    cand = candidates.select(
        F.col(id_col), F.explode_outer(shingles(text_col, n)).alias("sh")
    )
    # per-doc shingle count comes from a NARROW map (shingles() is
    # already array_distinct, never NULL: size of the array == what the
    # exploded count would see) + a doc-count-row aggregate — NOT from a
    # second full-corpus explode whose shuffle carries every shingle
    totals = (
        candidates.select(
            F.col(id_col), F.size(shingles(text_col, n)).alias("_n")
        )
        .groupBy(id_col)
        .agg(F.sum("_n").cast("bigint").alias("n_shingles"))
    )
    probed = cand.where(F.col("sh").isNotNull()).where(
        maybe_in_bloom(_bloom_positions(F.col("sh"), m, kk))
    )
    if exact_verify:
        # NO broadcast hint: small benchmarks broadcast via AQE/threshold
        # anyway, and the large-benchmark case this operator exists for
        # must be free to shuffle-join (a forced hint would rebuild the
        # exact multi-GB set on the driver — the cliff the bloom avoids).
        # The shuffle's left side is only the bloom survivors (~fpp of
        # clean shingles + true hits), which is the point.
        bench_sh = benchmark.select(
            F.explode(shingles(text_col, n)).alias("sh")
        ).distinct()
        probed = probed.join(bench_sh, "sh", "inner")
    hits = probed.groupBy(id_col).agg(
        F.count("sh").cast("bigint").alias("n_contaminated")
    )
    scored = totals.join(hits, id_col, "left").withColumn(
        "n_contaminated", F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint")
    )
    contamination = F.round(
        F.col("n_contaminated") / F.when(F.col("n_shingles") > 0, F.col("n_shingles")),
        4,
    )
    return scored.select(
        id_col,
        "n_shingles",
        "n_contaminated",
        contamination.alias("contamination"),
        F.when(contamination > flag_threshold, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("flagged"),
    )
