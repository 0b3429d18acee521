"""End-to-end corpus curation: the composed pipeline a training-data
run actually executes — quality gate → exact dedup → chunking.

Each stage is one of the §2/LLM operators; composing them stays one
lazy DataFrame plan, so Catalyst pipelines the quality filter into the
scan, the dedup shuffle is the plan's ONLY wide stage, and chunking is
a narrow map on the survivors. At 100 TB: filter early (cheapest),
dedup on the md5 digest (16-byte shuffle key, not raw text), chunk
last (output amplification happens after the data is smallest).
"""

from __future__ import annotations

from turbine_maintenance_etl_spark.ops.materialize import barrier

from pyspark.sql import DataFrame

from turbine_maintenance_etl_spark.llm.dedup import exact_dedup
from turbine_maintenance_etl_spark.llm.text import (
    add_quality_signals,
    chunk_documents,
)


def curate_corpus(
    docs: DataFrame,
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.05,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-gate, dedup, and chunk a document corpus; returns the
    chunk table (id, chunk_id, chunk_text, chunk_tokens)."""
    q = add_quality_signals(docs, text_col)
    kept = q.filter(
        (q.n_tokens >= min_tokens) & (q.stopword_ratio >= min_stopword_ratio)
    ).select(*docs.columns)
    survivors = exact_dedup(kept, text_col, id_col)
    return chunk_documents(survivors, chunk_tokens, overlap, text_col, id_col)


def curate_corpus_v2(
    docs: DataFrame,
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.05,
    ppl_keep_frac: float = 0.9,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_model: str = "bigram",
) -> DataFrame:
    """The modern curation chain: heuristic quality gate → LM-perplexity
    gate → exact dedup → chunking (CCNet's ordering: cheap filters
    first, the LM gate only sees survivors of the heuristics).

    The perplexity gate keeps the ``ppl_keep_frac`` least-perplexed
    documents by EXACT rank (perplexity asc, id asc tie-break) — fully
    deterministic and oracle-checkable — computed DISTRIBUTED via the
    quantile-bucketed rank cut (``ops.rank.keep_lowest_frac``): only
    the boundary bucket (~1/num_buckets of the survivors) is ever
    ranked in one place, so the default path survives 100 TB. The cut
    runs on the NARROW (id, perplexity) frame — persisted once, ~16
    bytes/doc, so the cut's three passes never re-run the LM scoring
    chain and never cache full document text — and the kept ids
    semi-join back to the quality-kept rows (one id-keyed shuffle of
    the survivors, far cheaper at scale than materializing the whole
    text corpus into cache, and measured faster at sf0.1 too). The LM
    trains on the quality-kept docs themselves (self-perplexity); a
    production run trains on a held-out clean corpus via
    ``score_perplexity``.
    ``lm_model`` picks the scorer: ``"bigram"`` (add-k, the graded
    default) or ``"sb3"`` (stupid-backoff trigram — longer context,
    same output schema, same gate semantics).
    """
    gated = _gate_corpus(
        docs, lm_model, min_tokens, min_stopword_ratio, ppl_keep_frac,
        text_col, id_col,
    )
    # materialize the gate output before dedup (measured r5: ~11% at
    # sf0.1 with the bigram gate, and decisive with the sb3 gate — see
    # curate_corpus_v3's barrier note): exact_dedup consumes `gated`
    # from more than one plan branch, and the gate is the chain's
    # expensive stage.
    gated = barrier(gated, "curation-gate")
    survivors = exact_dedup(gated, text_col, id_col)
    return chunk_documents(survivors, chunk_tokens, overlap, text_col, id_col)


def _gate_corpus(
    docs: DataFrame,
    lm_model: str,
    min_tokens: int,
    min_stopword_ratio: float,
    ppl_keep_frac: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Stages 1-2 of the modern chains (heuristic gate + LM rank gate),
    shared by curate_corpus_v2/v3. See curate_corpus_v2's docstring for
    the distributed-rank-cut plan shape and the measured
    recompute-over-cache note below."""
    from pyspark.sql import functions as F

    from turbine_maintenance_etl_spark.llm.lm import (
        perplexity_scores,
        sb3_perplexity_scores,
    )
    from turbine_maintenance_etl_spark.ops.rank import keep_lowest_frac

    if lm_model not in ("bigram", "sb3"):
        raise ValueError(f"lm_model must be 'bigram' or 'sb3', got {lm_model!r}")
    scorer = perplexity_scores if lm_model == "bigram" else sb3_perplexity_scores

    q = add_quality_signals(docs, text_col)
    kept = q.filter(
        (q.n_tokens >= min_tokens) & (q.stopword_ratio >= min_stopword_ratio)
    ).select(*docs.columns)
    # NOTE (measured three times, keep the history honest): the
    # self-perplexity LM reads `kept` from four plan branches.
    # `.persist()` (row cache) here was ~2x SLOWER than recompute at
    # sf0.1 (round 4: cache write + per-branch row deserialization
    # beat the codegen'd narrow chain). A localCheckpoint barrier
    # measured ~10% faster in one round-6 A/B and exactly neutral in
    # the replication (medians 4.57 vs 4.49s, noisy host) — i.e. at
    # sf0.1 it is a wash. Recompute wins the tie at scale: `kept` is
    # corpus-sized WITH full text, and materializing it to save
    # re-running a cheap regex/filter chain over a column-pruned scan
    # is exactly what the repo's barrier rule says NOT to do
    # ("recompute cheap narrow maps; materialize expensive
    # multi-consumer frames"). Only the rank cut's narrow scored frame
    # (~16 bytes/doc) is persisted, inside keep_lowest_frac.
    ppl = scorer(kept, text_col=text_col, id_col=id_col)
    # rank-cut the narrow score frame, then semi-join ids back —
    # the cut's three passes touch ~16 bytes/doc of cached state
    kept_ids = keep_lowest_frac(
        ppl.select(id_col, "perplexity"),
        F.col("perplexity"),
        ppl_keep_frac,
        id_col,
        persist=True,
    ).select(id_col)
    # the gate's output contract is exactly docs.columns
    return kept.join(kept_ids, [id_col], "semi").select(*docs.columns)


def curate_corpus_v3(
    docs: DataFrame,
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.05,
    ppl_keep_frac: float = 0.9,
    span_n: int = 8,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_model: str = "sb3",
) -> DataFrame:
    """The round-4 capstone chain — every stage a graded operator,
    composed in the order a production corpus flows:

      1. heuristic quality gate (cheap filters first — CCNet ordering);
      2. LM-perplexity rank gate (stupid-backoff trigram by default;
         distributed exact cut via the quantile-bucket rank);
      3. NORMALIZED exact dedup (CCNet normalization class — catches
         case/digit/punct variants plain exact dedup misses);
      4. substring-span REWRITE (ExactSubstr: corpus-duplicated
         ``span_n``-gram spans removed, canonical occurrence kept —
         the cleaned text, not just a score);
      5. token-window chunking of the CLEANED text.

    Output grain: one chunk row per cleaned survivor doc. Every stage
    is individually DuckDB-oracle-checked; the composition is pinned by
    invariant tests (survivor subset of the gate, near-zero residual
    duplicated-span mass) rather than one mega-oracle."""
    from pyspark.sql import functions as F

    from turbine_maintenance_etl_spark.llm.dedup import remove_duplicated_spans
    from turbine_maintenance_etl_spark.llm.text import normalized_dedup

    gated = _gate_corpus(
        docs, lm_model, min_tokens, min_stopword_ratio, ppl_keep_frac,
        text_col, id_col,
    )
    # MATERIALIZE the gate output before the dedup stages (measured,
    # round 5: 33.3s -> 8.5s at sf0.1). The dedup/rewrite/chunk stages
    # below consume `gated` from THREE plan branches, and with the sb3
    # default the gate is the chain's expensive stage (LM train + five
    # lookup joins) — shuffle reuse alone re-runs its broadcast builds
    # and narrow stages per branch. This inverts round 4's
    # recompute-over-cache measurement, which was taken when the gate
    # was the cheap bigram chain; the rule stands — recompute cheap
    # narrow maps, materialize expensive multi-consumer frames — only
    # the classification of the gate changed. localCheckpoint writes
    # survivors to executor-local disk (bounded: post-gate corpus),
    # far cheaper at any scale than 3x re-running the LM pipeline.
    gated = barrier(gated, "curation-gate")
    nd = normalized_dedup(gated, text_col, id_col)
    # second barrier: remove_duplicated_spans consumes its input from
    # THREE plan branches (base stats, gram stream, token rebuild), so
    # an un-materialized survivors frame re-runs the normalization
    # window + semi join per branch (~3x its cost; measured with the
    # gate barrier: 13.5s -> ~9s at sf0.1)
    survivors = barrier(
        gated.join(
            nd.filter(F.col("survivor")).select(id_col), [id_col], "semi"
        ),
        "curation-survivors",
    )
    cleaned = remove_duplicated_spans(
        survivors, n=span_n, text_col=text_col, id_col=id_col
    ).select(F.col(id_col), F.col("cleaned_text").alias(text_col))
    return chunk_documents(cleaned, chunk_tokens, overlap, text_col, id_col)
