"""N-gram language-model perplexity scoring — the CCNet / KenLM-style
quality gate (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data"): train a smoothed bigram LM on a corpus,
score every document by perplexity, and filter / bucket on it. Low
perplexity ≈ fluent in-domain text; high perplexity ≈ boilerplate,
tables, non-language noise.

Spark-first design (100 TB corpus):

- **Training is one aggregation pass.** Documents explode into bigram
  rows (narrow), then ``groupBy(gram).count`` with map-side partial
  aggregation — the shuffle carries one (gram, count) pair per distinct
  gram per map partition, not one row per token occurrence. Unigram
  (history) counts derive from the bigram table with a second small
  aggregation instead of a second pass over the corpus.
- **Scoring is a fact-side lookup join.** Each document's bigrams join
  the model tables on the gram key. The model is vocabulary-sized
  (≪ corpus); Catalyst/AQE broadcasts it when it fits, and the join
  degrades gracefully to a shuffle join keyed on the gram when the
  vocabulary is genuinely huge. Hot grams ("of the") skew the join key,
  but the build side is the *model* (one row per gram), so every
  fact row matches exactly one model row — no pair explosion, and AQE
  skew-split handles oversized partitions.
- **Everything is JVM-side SQL expressions** (split/filter/transform/
  explode + log arithmetic) — no Python in any row path, which keeps
  the whole operator exactly reproducible in DuckDB for the oracle.
  The higher-order functions (filter, transform) are interpreted, not
  codegen'd, so the token array is bound once per row (see
  ``doc_bigrams``).

Smoothing: add-k (Lidstone) over the observed vocabulary,
``p(w2 | w1) = (c(w1 w2) + k) / (c(w1·) + k * V)``, with unseen
histories scoring the uniform ``1 / V``. Deliberately simpler than
KenLM's modified Kneser-Ney — the *shape* (train = one agg pass, score
= lookup join + per-doc agg) is identical, and add-k keeps the operator
SQL-expressible so the driver's DuckDB oracle can verify it exactly.

Reference parity: the reference has no LM gate; this is part of the
LLM-training-data extension surface (SURVEY.md §6 posture).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.llm.text import sqlref, tokens_sql
from turbine_maintenance_etl_spark.util import ensure_parallelism


def _count_hint(df: DataFrame) -> DataFrame:
    """Join hint for the MODEL COUNT tables (distinct-ngram-sized, not
    vocabulary-sized): broadcast by default — measured fastest at every
    tested SF, and count pruning keeps the tables small at moderate
    scale. At web scale distinct n-grams are billions of rows even
    pruned, and an explicit broadcast hint would override the session
    threshold straight into the 8 GB broadcast hard limit — set
    ``SPARK_GRAFT_LM_BROADCAST=off`` to drop the hint and let
    Catalyst/AQE pick the join (a gram-keyed shuffle join), which is
    the real graceful-degradation path. The 1-row scalar frames stay
    unconditionally broadcast (they cannot grow)."""
    import os

    if os.environ.get("SPARK_GRAFT_LM_BROADCAST", "on").lower() in (
        "off", "0", "false",
    ):
        return df
    return F.broadcast(df)


BOS = "<s>"  # beginning-of-sentence pseudo-token: every doc contributes
# one (BOS, first-word) bigram so single-token documents still score.


def doc_bigrams(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, w1, w2) bigram rows per document, lowercase, BOS-prefixed.

    Narrow: tokenize → prepend BOS → transform to bigram structs →
    explode. Documents with no tokens emit no rows (they get NULL
    perplexity downstream, never a divide-by-zero)."""
    # single-parse construction (text.tokens_sql): one F.expr instead of
    # ~30 py4j round-trips + a lambda bridge per call
    toks = f"concat(array('{BOS}'), {tokens_sql('lower(' + sqlref(text_col) + ')')})"
    # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of being
    # empty, so a token-less doc would index element_at(t, 0) -> error
    starts = (
        "CASE WHEN size(t) > 1 THEN sequence(1, size(t) - 1) "
        "ELSE cast(array() as array<int>) END"
    )
    # BIND the token array once per row (text.bind_once's shape):
    # higher-order functions are CodegenFallback, so no subexpression
    # elimination runs inside a lambda body, and pasting the tokenizer
    # into every size/element_at re-ran it 2n + 2 times for a doc of n
    # tokens (3n + 2 for trigrams) — quadratic in document length.
    grams = F.expr(
        f"transform(array({toks}), t -> transform({starts}, i -> named_struct("
        "'w1', element_at(t, i), 'w2', element_at(t, i + 1))))[0]"
    )
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(F.col(id_col), F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )


def train_bigram_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Train pass: (bigram counts, history counts).

    Returns ``(bigrams, histories)`` where ``bigrams`` is
    (w1, w2, c12) and ``histories`` is (w1, c1) with c1 = Σ_w2 c12.
    One corpus-wide shuffle (gram groupBy, partial-agg combined); the
    history table is a reaggregation of the already-vocabulary-sized
    bigram table, NOT a second corpus pass."""
    from turbine_maintenance_etl_spark.ops.materialize import barrier

    grams = doc_bigrams(df, text_col, id_col)
    # MATERIALIZE the bigram table (multi-consumer barrier rule): it
    # feeds the history reaggregation, the scoring join's broadcast
    # build, and the fused path's |V| scalar — unbarriered, each re-ran
    # the corpus explode+aggregate (measured r7 at sf0.1, warm A/B:
    # 3.3-12.8s -> 2.4-3.8s for the fused self-scoring chain). The
    # frame is vocabulary-sized, so the checkpoint is bounded by model
    # size at any corpus scale.
    bigrams = barrier(
        grams.groupBy("w1", "w2").agg(F.count("*").alias("c12")), "lm-bigrams"
    )
    histories = bigrams.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return bigrams, histories


def vocab_size(bigrams: DataFrame) -> int:
    """|V| = distinct predicted tokens (w2 side). One small job over the
    vocabulary-sized bigram table."""
    return bigrams.select("w2").distinct().count()


def _logprob(c12: str, c1: str, v: str, k: float) -> Column:
    """Add-k log p(w2|w1); unseen history (c1 NULL) → uniform 1/V.
    All args are SQL fragments (single-parse construction); ``v`` is a
    double literal for the explicit train/score API or a column
    reference into the fused path's broadcast scalar frame."""
    seen = f"(coalesce({c12}, 0) + {k!r}D) / ({c1} + {k!r}D * {v})"
    return F.expr(
        f"CASE WHEN {c1} IS NULL THEN log(1.0D / {v}) ELSE log({seen}) END"
    )


def score_perplexity(
    docs: DataFrame,
    bigrams: DataFrame,
    histories: DataFrame,
    v: int,
    k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document perplexity under the trained LM.

    Output: (id, n_bigrams, avg_logprob, perplexity), perplexity =
    exp(-avg log p), rounded to 4 dp for cross-engine determinism.
    Documents with zero tokens are preserved with NULLs (dropping them
    would silently shrink the corpus).

    Ids must be unique: the scorer aggregates per id, so documents
    sharing an id collapse into ONE output row scored over all their
    grams. Nothing checks this (a check would cost a job per call).

    Plan: doc bigrams LEFT JOIN bigram counts on (w1,w2), LEFT JOIN
    history counts on w1, per-doc aggregate. Model tables are
    broadcast-hinted by default via ``_count_hint`` — set
    ``SPARK_GRAFT_LM_BROADCAST=off`` when distinct n-grams outgrow the
    broadcast limit and the joins shuffle on the gram key instead."""
    return _score_bigram(
        docs, bigrams, histories, repr(float(v)) + "D", k, text_col, id_col
    )


def _score_bigram(
    docs: DataFrame,
    bigrams: DataFrame,
    histories: DataFrame,
    v_col: str,
    k: float,
    text_col: str,
    id_col: str,
    scalars: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring body: ``v_col`` is either a literal (explicit
    train/score API) or a column of the broadcast 1-row ``scalars``
    frame (fused self-perplexity — no separate vocab-count job)."""
    grams = doc_bigrams(docs, text_col, id_col)
    if scalars is not None:
        grams = grams.crossJoin(F.broadcast(scalars))
    scored = (
        grams.join(_count_hint(bigrams), ["w1", "w2"], "left")
        .join(_count_hint(histories), ["w1"], "left")
        .withColumn("_lp", _logprob("c12", "c1", v_col, k))
    )
    # r11 (guide §2.4): token-less docs are preserved by UNIONING one
    # NULL-marker sentinel row per doc into the SAME per-doc aggregate
    # (count(_real) skips sentinels -> n=0, NULL avg), replacing the
    # left join back to the doc-id set — which cost an extra exchange
    # of the id scan plus a doc-count-sized broadcast build per scorer
    # query. NULL-sum/zero-count arithmetic reproduces the old
    # left-join NULLs exactly; the explicit marker keeps the count
    # identical to the old count(*) even if a score expression ever
    # yields NULL (e.g. k=0 log(0)).
    seeds = docs.select(
        F.col(id_col),
        F.lit(None).cast("double").alias("_lp"),
        F.lit(None).cast("int").alias("_real"),
    )
    per_doc = (
        scored.select(F.col(id_col), F.col("_lp"), F.lit(1).alias("_real"))
        .unionByName(seeds)
        .groupBy(id_col)
        .agg(
            F.count("_real").alias("n_bigrams"),
            F.sum("_lp").alias("_sum_lp"),
        )
    )
    avg_lp = F.col("_sum_lp") / F.col("n_bigrams")
    return per_doc.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.round(avg_lp, 4).alias("avg_logprob"),
        F.round(F.exp(-avg_lp), 4).alias("perplexity"),
    )


def perplexity_scores(
    df: DataFrame,
    k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-perplexity convenience: train on ``df``, score ``df``.

    The production deployment trains on a held-out high-quality corpus
    (CCNet trains on Wikipedia) and scores the crawl; the train/score
    split is just two calls. ONE job total: |V| rides along as a
    broadcast 1-row scalar frame instead of a separate count job, so
    the whole train+score chain is a single plan whose corpus-pass
    shuffles are shared via ReusedExchange (measured r5: 1.3s -> 0.5s
    at sf0.1 — the second corpus pass was ~60% of the chain).

    Ids must be unique, as for ``score_perplexity``: duplicate ids
    collapse into one output row."""
    bigrams, histories = train_bigram_counts(df, text_col, id_col)
    v_df = bigrams.agg(F.count_distinct("w2").cast("double").alias("_v"))
    return _score_bigram(
        df, bigrams, histories, "`_v`", k, text_col, id_col, scalars=v_df
    )


# --- Stupid-backoff trigram LM --------------------------------------------
#
# The production CCNet gate is a 5-gram KenLM (modified Kneser-Ney);
# Kneser-Ney's discount arithmetic is messy to reproduce exactly
# cross-engine, but Brants et al. 2007's STUPID BACKOFF ("Large Language
# Models in Machine Translation") is the published at-scale alternative
# KenLM itself benchmarks against: pure count ratios with a fixed 0.4
# backoff factor, no discounting — designed precisely for distributed
# count-based training. That makes it both a real quality upgrade over
# the add-k bigram (longer context) and exactly DuckDB-oracle-checkable.
#
# S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)        if c(w1w2w3) > 0
#               = 0.4 * c(w2w3)/c(w2)      elif c(w2w3) > 0
#               = 0.4^2 * c(w3)/N          elif c(w3) > 0
#               = 0.4^2 / (V+1)            else (OOV floor — SB leaves
#                                          OOV undefined; uniform keeps
#                                          log finite and deterministic)
# Scores are not probabilities (SB is a ranking score); "perplexity" is
# exp(-mean ln S), monotone in the mean score — exactly what a gate cuts
# on.

SB_ALPHA = 0.4


def doc_trigrams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w1, w2, w3) trigram rows per document, lowercase, padded
    with TWO BOS tokens so every real token is predicted exactly once
    (position i's trigram ends at token i). Narrow explode, same shape
    as doc_bigrams."""
    toks = (
        f"concat(array('{BOS}', '{BOS}'), "
        f"{tokens_sql('lower(' + sqlref(text_col) + ')')})"
    )
    starts = (
        "CASE WHEN size(t) > 2 THEN sequence(1, size(t) - 2) "
        "ELSE cast(array() as array<int>) END"
    )
    grams = F.expr(
        f"transform(array({toks}), t -> transform({starts}, i -> named_struct("
        "'w1', element_at(t, i), 'w2', element_at(t, i + 1), "
        "'w3', element_at(t, i + 2))))[0]"
    )
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(
            F.col(id_col),
            F.col("g.w1").alias("w1"),
            F.col("g.w2").alias("w2"),
            F.col("g.w3").alias("w3"),
        )
    )


def train_sb3_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prune_min_count: int = 2,
):
    """Train the stupid-backoff trigram model: ONE corpus explode, then
    vocabulary-sized reaggregations off the trigram table (each with
    map-side partial aggregation — the shuffle carries distinct-gram
    rows, not token occurrences). Returns
    ``(tri, hist2, pair2, hist1, uni, n_tokens, v)``:

    - ``tri``   (w1, w2, w3, c3): trigram counts;
    - ``hist2`` (w1, w2, ch2): trigram-history counts Σ_w3 c3 — this
      INCLUDES the (BOS, BOS) context (deriving histories from bigram
      pairs would miss it and NULL-poison every first-token score);
    - ``pair2`` (wa, wb, cb2): bigram counts — every padded bigram ends
      exactly one trigram, so (w2, w3) occurrences ARE the bigram
      occurrences;
    - ``hist1`` (w, ch1): bigram-history counts Σ_wb cb2 (includes BOS);
    - ``uni``   (w, cu): unigram counts of predicted (real) tokens;
    - ``n_tokens``: corpus size N = Σ cu; ``v``: |vocabulary| for the
      OOV floor (one tiny job for both).

    **Count pruning (the 100 TB lever).** Zipf's law makes hapax grams
    dominate the distinct-gram tables — typically well over half of
    distinct trigrams occur exactly once — so the lookup/broadcast
    model grows near-linearly with the corpus if kept whole (the
    round-4 scale probe measured a 3.5x cost ratio at 8x data).
    CCNet/Brants-style vocabulary pruning drops ``tri``/``pair2`` rows
    with count < ``prune_min_count`` AFTER the history tables are
    derived from the UNPRUNED sums: scoring then backs off exactly as
    if the pruned gram were unseen, the retained ratios are unchanged
    (denominators keep the full mass), and the gate stays a
    deterministic count arithmetic the DuckDB oracle mirrors with two
    HAVING-style filters. ``uni``/``hist1`` stay whole — they are
    vocabulary-sized already. ``prune_min_count=1`` disables pruning
    (the exact unpruned model).
    """
    tri, hist2, pair2, hist1, uni = _sb3_tables(df, text_col, id_col, prune_min_count)
    totals = uni.agg(F.sum("cu").alias("n"), F.count("*").alias("v")).collect()[0]
    return tri, hist2, pair2, hist1, uni, int(totals["n"] or 0), int(totals["v"] or 0)


def _sb3_tables(
    df: DataFrame, text_col: str, id_col: str, prune_min_count: int
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The five sb3 model tables (see train_sb3_counts) without the
    totals collect — the fused self-scoring path derives N/|V| as a
    broadcast scalar frame instead of a separate job."""
    from turbine_maintenance_etl_spark.ops.materialize import barrier

    # MATERIALIZE the two multi-consumer model frames (the repo's
    # barrier rule): tri_all feeds hist2 + pair2_all + the pruned tri
    # broadcast, pair2_all feeds hist1 + uni + the pruned pair2
    # broadcast — without a barrier each broadcast build re-runs the
    # full corpus explode+aggregate chain (measured r7 at sf0.1,
    # alternating warm A/B: 7.8-14.2s -> 3.3-4.2s for the fused
    # self-scoring path). Both frames are DISTINCT-GRAM-sized
    # (vocabulary tables, count-pruned downstream), so the checkpoint
    # is bounded by model size, never corpus size — safe at 100 TB.
    tri_all = barrier(
        doc_trigrams(df, text_col, id_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c3")),
        "sb3-tri-all",
    )
    hist2 = tri_all.groupBy("w1", "w2").agg(F.sum("c3").alias("ch2"))
    pair2_all = barrier(
        tri_all.groupBy(F.col("w2").alias("wa"), F.col("w3").alias("wb"))
        .agg(F.sum("c3").alias("cb2")),
        "sb3-pair2-all",
    )
    hist1 = pair2_all.groupBy(F.col("wa").alias("w")).agg(F.sum("cb2").alias("ch1"))
    uni = pair2_all.groupBy(F.col("wb").alias("w")).agg(F.sum("cb2").alias("cu"))
    tri = tri_all.filter(F.col("c3") >= prune_min_count) if prune_min_count > 1 else tri_all
    pair2 = (
        pair2_all.filter(F.col("cb2") >= prune_min_count)
        if prune_min_count > 1
        else pair2_all
    )
    return tri, hist2, pair2, hist1, uni


def score_sb3_perplexity(
    docs: DataFrame,
    tri: DataFrame,
    hist2: DataFrame,
    pair2: DataFrame,
    hist1: DataFrame,
    uni: DataFrame,
    n_tokens: int,
    v: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document stupid-backoff score: the candidate gram stream
    takes five vocabulary-sized lookup joins (trigram, trigram history,
    backoff bigram, backoff history, final unigram) — all
    broadcast-hinted like the bigram scorer, every fact row matching at
    most one model row — then one per-doc aggregate.

    Output: (id, n_trigrams, avg_logscore, perplexity) — same shape as
    the bigram scorer so gates swap models without schema churn.

    Ids must be unique: the scorer aggregates per id, so documents
    sharing an id collapse into ONE output row scored over all their
    grams. Nothing checks this (a check would cost a job per call)."""
    return _score_sb3(
        docs, tri, hist2, pair2, hist1, uni,
        repr(float(max(n_tokens, 1))) + "D", repr(float(v + 1)) + "D",
        text_col, id_col,
    )


def _score_sb3(
    docs: DataFrame,
    tri: DataFrame,
    hist2: DataFrame,
    pair2: DataFrame,
    hist1: DataFrame,
    uni: DataFrame,
    n_col: str,
    v1_col: str,
    text_col: str,
    id_col: str,
    scalars: DataFrame | None = None,
) -> DataFrame:
    """Shared sb3 scoring body: ``n_col``/``v1_col`` (corpus size, |V|+1)
    are SQL fragments — double literals for the explicit train/score API
    or column references into the broadcast 1-row ``scalars`` frame for
    the fused self-scoring path."""
    grams = doc_trigrams(docs, text_col, id_col)
    if scalars is not None:
        grams = grams.crossJoin(F.broadcast(scalars))
    # FOLD the history tables into their count tables on the MODEL side
    # (r10, guide §3: shuffle/probe the corpus-sized fact stream through
    # fewer joins): every tri row's (w1,w2) exists in hist2 and every
    # pair2 row's wa exists in hist1 (the histories are UNPRUNED sums
    # over the same tables), so an inner model-side join loses no rows
    # and the fact stream probes 3 broadcast tables instead of 5. ch2 is
    # only read when c3 matched and ch1 only when cb2 matched, so a
    # folded NULL (no tri/pair2 match) is never consumed — the score
    # CASE below is value-identical to the 5-join form.
    tri_m = tri.join(hist2, ["w1", "w2"])
    pair2_m = pair2.join(
        hist1.select(F.col("w").alias("wa"), F.col("ch1").alias("_ch1")), ["wa"]
    )
    scored = (
        grams.join(_count_hint(tri_m), ["w1", "w2", "w3"], "left")
        .join(
            _count_hint(
                pair2_m.select(
                    F.col("wa").alias("w2"), F.col("wb").alias("w3"),
                    F.col("cb2").alias("_cb2"), "_ch1",
                )
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            _count_hint(uni.select(F.col("w").alias("w3"), F.col("cu").alias("_cu"))),
            ["w3"],
            "left",
        )
    )
    a = SB_ALPHA
    s = (
        "CASE WHEN c3 IS NOT NULL THEN c3 / ch2 "
        f"WHEN _cb2 IS NOT NULL AND _ch1 IS NOT NULL THEN {a!r}D * _cb2 / _ch1 "
        f"WHEN _cu IS NOT NULL THEN {a!r}D * {a!r}D * _cu / {n_col} "
        f"ELSE {a!r}D * {a!r}D / {v1_col} END"
    )
    # sentinel-union zero-token preservation (r11 — see _score_bigram):
    # one NULL-marker row per doc into the same aggregate, no join-back
    seeds = docs.select(
        F.col(id_col),
        F.lit(None).cast("double").alias("_ls"),
        F.lit(None).cast("int").alias("_real"),
    )
    per_doc = (
        scored.withColumn("_ls", F.expr(f"log({s})"))
        .select(F.col(id_col), F.col("_ls"), F.lit(1).alias("_real"))
        .unionByName(seeds)
        .groupBy(id_col)
        .agg(F.count("_real").alias("n_trigrams"), F.sum("_ls").alias("_sum_ls"))
    )
    avg_ls = F.col("_sum_ls") / F.col("n_trigrams")
    return per_doc.select(
        F.col(id_col),
        F.col("n_trigrams"),
        F.round(avg_ls, 4).alias("avg_logscore"),
        F.round(F.exp(-avg_ls), 4).alias("perplexity"),
    )


def sb3_perplexity_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prune_min_count: int = 2,
) -> DataFrame:
    """Self-scored stupid-backoff trigram perplexity (train on ``df``,
    score ``df``) — the drop-in longer-context upgrade of
    ``perplexity_scores``. Trains with CCNet-style count pruning by
    default (see ``train_sb3_counts``). Fused like the bigram path:
    N/|V| ride along as a broadcast scalar frame, so train+score is ONE
    job sharing its corpus-pass shuffles instead of paying a separate
    totals-collect pass.

    Ids must be unique, as for ``score_sb3_perplexity``: duplicate ids
    collapse into one output row."""
    tri, hist2, pair2, hist1, uni = _sb3_tables(df, text_col, id_col, prune_min_count)
    scalars = uni.agg(
        F.greatest(F.sum("cu"), F.lit(1)).cast("double").alias("_n"),
        (F.count("*") + 1).cast("double").alias("_v1"),
    )
    return _score_sb3(
        df, tri, hist2, pair2, hist1, uni,
        "`_n`", "`_v1`", text_col, id_col, scalars=scalars,
    )
