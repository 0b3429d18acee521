"""The whitespace tokenizer runs once per row in every builder that
reads the token array more than once.

Higher-order functions (filter, transform) are CodegenFallback, so no
subexpression elimination runs inside a lambda body: a builder that
pastes the tokenizer's SQL into each reference re-tokenizes the
document per reference, and the n-gram builders did so per gram
position (quadratic in document length). The count of ``split(`` in the
optimized plan is a deterministic counter for that cost.

The exploded gram rows are also checked against a pure-Python n-gram
over ``str.split()`` on edge documents.
"""

from __future__ import annotations

import pytest

from turbine_maintenance_etl_spark.llm import classify, lm, text

BUILDERS = {
    "doc_bigrams": lm.doc_bigrams,
    "doc_trigrams": lm.doc_trigrams,
    "chunk_documents": text.chunk_documents,
    "add_quality_signals": text.add_quality_signals,
    "fingerprint": text.fingerprint,
    "weak_quality_labels": classify.weak_quality_labels,
}

EDGE_DOCS = [
    (1, "The cat sat on the MAT and the cat ran"),
    (2, ""),
    (3, None),
    (4, "   \t \n "),
    (5, "alpha\tbeta\ngamma\r\ndelta   epsilon"),
    (6, "single"),
    (7, "<s> opens and <s> closes <s>"),
    (8, "two words"),
]


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_tokenizer_runs_once_per_row(spark, name):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, None), (3, "one")],
        "doc_id long, text string",
    )
    out = BUILDERS[name](df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    out.collect()  # the plan also runs


def _py_grams(docs, n: int) -> list[tuple]:
    rows = []
    for doc_id, txt in docs:
        toks = [lm.BOS] * (n - 1) + (txt or "").lower().split()
        rows += [(doc_id, *toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return sorted(rows)


@pytest.mark.parametrize("builder, n", [(lm.doc_bigrams, 2), (lm.doc_trigrams, 3)])
def test_doc_grams_match_pure_python(spark, builder, n):
    df = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    got = sorted(tuple(r) for r in builder(df).collect())
    assert got == _py_grams(EDGE_DOCS, n)
    # a token-less doc yields no grams; a one-token doc yields exactly one
    assert {r[0] for r in got} == {1, 5, 6, 7, 8}
    assert sum(r[0] == 6 for r in got) == 1
