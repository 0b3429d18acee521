"""Tests for llm/lm.py — n-gram LM perplexity scoring.

The sf-data self-perplexity path is oracle-checked in test_oracle.py;
these tests pin hand-computed probabilities, the train/score split
(unseen words and histories — the branch self-perplexity can't reach),
and the quality-ordering property the CCNet gate depends on.
"""

from __future__ import annotations

import math

import pytest

from turbine_maintenance_etl_spark.llm.lm import (
    perplexity_scores,
    score_perplexity,
    train_bigram_counts,
    vocab_size,
)


@pytest.fixture(scope="module")
def train_docs(spark):
    rows = [
        (1, "the cat sat"),
        (2, "the cat ran"),
        (3, "the dog sat"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hand_computed_bigram_probs(spark, train_docs):
    bigrams, histories = train_bigram_counts(train_docs)
    big = {(r["w1"], r["w2"]): r["c12"] for r in bigrams.collect()}
    hist = {r["w1"]: r["c1"] for r in histories.collect()}
    # corpus bigrams: (<s>,the)x3 (the,cat)x2 (the,dog)x1 (cat,sat)x1
    #                 (cat,ran)x1 (dog,sat)x1
    assert big[("<s>", "the")] == 3
    assert big[("the", "cat")] == 2
    assert hist["the"] == 3 and hist["<s>"] == 3
    # predicted vocab = {the, cat, dog, sat, ran}
    assert vocab_size(bigrams) == 5


def test_self_perplexity_exact_value(spark, train_docs):
    """doc 1 'the cat sat': lp = log p(the|<s>) + log p(cat|the)
    + log p(sat|cat), add-k k=0.5, V=5."""
    out = {r["doc_id"]: r.asDict() for r in perplexity_scores(train_docs).collect()}
    p1 = (3 + 0.5) / (3 + 0.5 * 5)
    p2 = (2 + 0.5) / (3 + 0.5 * 5)
    p3 = (1 + 0.5) / (2 + 0.5 * 5)
    avg = (math.log(p1) + math.log(p2) + math.log(p3)) / 3
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_logprob"] == round(avg, 4)
    assert out[1]["perplexity"] == round(math.exp(-avg), 4)


def test_unseen_words_and_empty_docs(spark, train_docs):
    bigrams, histories = train_bigram_counts(train_docs)
    v = vocab_size(bigrams)
    score = spark.createDataFrame(
        [
            (10, "the cat sat"),        # fully in-domain
            (11, "zebra quark flux"),   # every history unseen -> uniform 1/V
            (12, ""),                   # no tokens -> NULL scores, row kept
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in score_perplexity(score, bigrams, histories, v).collect()
    }
    # unseen histories (zebra, quark) give exactly uniform 1/V; the
    # (<s>, zebra) bigram has a SEEN history <s> with an unseen word.
    p_bos_unseen = 0.5 / (3 + 0.5 * v)
    avg11 = (math.log(p_bos_unseen) + 2 * math.log(1.0 / v)) / 3
    assert out[11]["avg_logprob"] == round(avg11, 4)
    assert out[12]["n_bigrams"] == 0 and out[12]["perplexity"] is None
    # in-domain text must score strictly better than OOV noise
    assert out[10]["perplexity"] < out[11]["perplexity"]


def test_duplicate_ids_collapse_into_one_row(spark):
    """Ids must be unique (a documented, unchecked precondition): both
    scorers aggregate per id, so two documents sharing an id come out
    as ONE row counted over both documents' grams."""
    from turbine_maintenance_etl_spark.llm.lm import sb3_perplexity_scores

    df = spark.createDataFrame(
        [(1, "the cat sat"), (1, "the dog ran down"), (2, "the cat ran")],
        "doc_id long, text string",
    )
    bigram = {r["doc_id"]: r["n_bigrams"] for r in perplexity_scores(df).collect()}
    sb3 = {r["doc_id"]: r["n_trigrams"] for r in sb3_perplexity_scores(df).collect()}
    assert bigram == {1: 3 + 4, 2: 3}
    assert sb3 == {1: 3 + 4, 2: 3}


def test_quality_ordering_on_mixed_corpus(spark):
    """Fluent repeated-domain text scores lower perplexity than random
    character noise under a self-trained LM — the property the CCNet
    quality gate relies on."""
    fluent = [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)]
    noise = [(100 + i, f"zzq{i}x wvu{i}t plm{i}k hgf{i}d") for i in range(3)]
    df = spark.createDataFrame(fluent + noise, "doc_id long, text string")
    out = perplexity_scores(df).collect()
    fl = [r["perplexity"] for r in out if r["doc_id"] < 100]
    nz = [r["perplexity"] for r in out if r["doc_id"] >= 100]
    assert max(fl) < min(nz)


def _py_sb3_scores(texts: dict, prune_min_count: int = 2) -> dict:
    """Pure-Python stupid-backoff reference (Brants et al. 2007,
    alpha=0.4, uniform OOV floor, CCNet-style count pruning: histories
    keep full mass, grams below the min count back off as unseen) for
    the differential test."""
    import math
    from collections import Counter

    tris = Counter()
    for t in texts.values():
        toks = ["<s>", "<s>"] + t.lower().split()
        for i in range(2, len(toks)):
            tris[(toks[i - 2], toks[i - 1], toks[i])] += 1
    hist2, pair2 = Counter(), Counter()
    for (a, b, c), n in tris.items():
        hist2[(a, b)] += n
        pair2[(b, c)] += n
    hist1, uni = Counter(), Counter()
    for (a, b), n in pair2.items():
        hist1[a] += n
        uni[b] += n
    N, V = sum(uni.values()), len(uni)

    out = {}
    for doc_id, t in texts.items():
        toks = ["<s>", "<s>"] + t.lower().split()
        logs = []
        for i in range(2, len(toks)):
            w1, w2, w3 = toks[i - 2], toks[i - 1], toks[i]
            if tris[(w1, w2, w3)] >= prune_min_count:
                s = tris[(w1, w2, w3)] / hist2[(w1, w2)]
            elif pair2[(w2, w3)] >= prune_min_count:
                s = 0.4 * pair2[(w2, w3)] / hist1[w2]
            elif uni[w3]:
                s = 0.16 * uni[w3] / N
            else:
                s = 0.16 / (V + 1)
            logs.append(math.log(s))
        if logs:
            avg = sum(logs) / len(logs)
            out[doc_id] = (len(logs), round(avg, 4), round(math.exp(-avg), 4))
        else:
            out[doc_id] = (0, None, None)
    return out


def test_sb3_differential_vs_pure_python(spark):
    """Spark stupid-backoff trigram scores == the pure-Python reference
    on a mixed corpus (repeats, unseen-in-isolation orderings, empty and
    single-token docs)."""
    from turbine_maintenance_etl_spark.llm.lm import sb3_perplexity_scores

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox sleeps",
        3: "quick brown the the the",
        4: "completely novel wording here",
        5: "",
        6: "single",
        7: "the quick brown fox jumps over the lazy dog",  # exact repeat
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    # default pruned model (prune_min_count=2): docs 1/7 repeat so their
    # trigrams survive the prune; the singleton docs' trigrams are
    # pruned and must back off exactly like the reference
    got = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logscore"], r["perplexity"])
        for r in sb3_perplexity_scores(df).collect()
    }
    assert got == _py_sb3_scores(texts, prune_min_count=2)
    # and the unpruned model stays exact too
    got_unpruned = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logscore"], r["perplexity"])
        for r in sb3_perplexity_scores(df, prune_min_count=1).collect()
    }
    assert got_unpruned == _py_sb3_scores(texts, prune_min_count=1)
    # pruning must actually change at least one singleton doc's score
    # on this fixture (otherwise the differential proves nothing)
    assert got != got_unpruned


def test_sb3_orders_fluent_below_noise(spark):
    """Train on fluent text; a scrambled/noise doc must score strictly
    higher perplexity than an in-domain doc (the gate property)."""
    from turbine_maintenance_etl_spark.llm.lm import (
        score_sb3_perplexity,
        train_sb3_counts,
    )

    fluent = [
        (i, "the turbine engine runs at steady load and temperature " * 3)
        for i in range(20)
    ]
    train = spark.createDataFrame(fluent, "doc_id long, text string")
    model = train_sb3_counts(train)
    cands = spark.createDataFrame(
        [
            (100, "the turbine engine runs at steady load"),
            (101, "zzq qqz load the at engine xxy turbine"),
        ],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r["perplexity"]
        for r in score_sb3_perplexity(cands, *model).collect()
    }
    assert scores[100] < scores[101]


def test_curation_v2_sb3_gate(spark):
    """curate_corpus_v2(lm_model='sb3') runs the whole chain with the
    trigram gate and keeps a strict subset of the quality-kept docs."""
    from turbine_maintenance_etl_spark.llm.curation import curate_corpus_v2

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = curate_corpus_v2(docs, ppl_keep_frac=0.5, lm_model="sb3")
    n_docs = chunks.select("doc_id").distinct().count()
    assert 0 < n_docs < docs.count()


def test_curation_v3_invariants(spark):
    """The v3 capstone chain: (a) output docs are a subset of v2's gate
    survivors (v3 adds dedup stages, never docs); (b) residual
    corpus-duplicated span mass in the CLEANED texts is far below the
    input's (the span rewrite actually cleaned); (c) chunk schema
    matches v2's."""
    from pyspark.sql import functions as F

    from turbine_maintenance_etl_spark.llm.curation import (
        curate_corpus_v2,
        curate_corpus_v3,
    )
    from turbine_maintenance_etl_spark.llm.dedup import duplicated_span_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    v3 = curate_corpus_v3(docs, ppl_keep_frac=0.8).cache()
    v2 = curate_corpus_v2(docs, ppl_keep_frac=0.8, lm_model="sb3")
    assert v3.columns == v2.columns
    v3_docs = {r["doc_id"] for r in v3.select("doc_id").distinct().collect()}
    v2_docs = {r["doc_id"] for r in v2.select("doc_id").distinct().collect()}
    assert v3_docs and v3_docs <= v2_docs

    # span mass before vs after the rewrite stage, measured on the
    # PRE-CHUNK cleaned documents (chunk windows overlap by design, so
    # chunk-joined text re-duplicates 8-grams and is the wrong probe)
    from turbine_maintenance_etl_spark.llm.dedup import remove_duplicated_spans
    from turbine_maintenance_etl_spark.llm.text import normalized_dedup

    surv_ids = normalized_dedup(docs).filter(F.col("survivor")).select("doc_id")
    survivors = docs.join(surv_ids, ["doc_id"], "semi")
    cleaned = remove_duplicated_spans(survivors).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    before = (
        duplicated_span_stats(survivors).agg(F.sum("n_dup_tokens")).collect()[0][0]
    )
    after = (
        duplicated_span_stats(cleaned).agg(F.sum("n_dup_tokens")).collect()[0][0]
    )
    assert before and (after or 0) < 0.2 * before
