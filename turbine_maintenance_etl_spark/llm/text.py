"""Text analysis operators: tokenization, quality signals, language ID,
document fingerprinting.

All pure `pyspark.sql.functions` column expressions (JVM-side, whole-stage
codegen, zero Python in the row path) — at 100 TB these run at scan speed
with full predicate/column pruning, unlike UDF-based tokenizers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.util import ensure_parallelism

# Minimal per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately tiny + deterministic (a real deployment would load
# a broadcast table); enough to discriminate on stopword-bearing text.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"),
}


def bind_once(col: Column, f) -> Column:
    """Evaluate ``col`` once per row and reuse it in ``f`` via a lambda
    binding. Spark does not common-subexpression-eliminate inside
    interpreted higher-order functions, so an expression like trigram
    shingling that references the token array 3x per shingle would
    otherwise re-run the tokenizer O(len) times per row. Wrapping the
    value in a 1-element array and ``transform``-ing binds it to a lambda
    variable — evaluated exactly once."""
    return F.transform(F.array(col), f)[0]


import re as _re

_IDENT_RE = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def sqlref(col: str) -> str:
    """SQL text for a string column argument: a plain identifier is
    backtick-quoted (the historical ``F.col(name)`` semantics); anything
    else is passed through as a SQL expression fragment, which is how
    the string-built internals compose (e.g. ``lower(`text`)``)."""
    return f"`{col}`" if _IDENT_RE.match(col) else col


def tokens_sql(col_sql: str) -> str:
    """SQL text of the whitespace tokenizer over a column expression.

    The hot builders in this package construct their expressions as ONE
    SQL string parsed by a single ``F.expr`` call instead of hundreds of
    per-operator py4j round-trips: measured r10, a 4-operator Column
    chain costs ~20 ms of driver time and one higher-order-function
    lambda ~70 ms, while parsing an equivalent expression string costs
    ~3-5 ms total — the analyzed plan (and therefore every result and
    physical plan) is identical, only the construction path changes."""
    return (
        "coalesce(filter(split(" + col_sql + r", '\\s+'), x -> x != ''), "
        "cast(array() as array<string>))"
    )


def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokens with empties dropped — split + higher-order
    ``filter``, no UDF. TOTAL: NULL text yields an EMPTY array, never
    NULL — under the repo's ANSI-off session ``size(NULL)`` is -1
    (legacy sizeOfNull), so an un-coalesced NULL token array poisons
    every downstream count/ratio (n_tokens = -1, stopword_ratio = 1.0,
    language scores = (-1)/(-1) = 1.0 'english') instead of reading as
    the empty document it is."""
    if isinstance(text, str):
        return F.expr(tokens_sql(sqlref(text)))
    # Column-typed input: legacy construction (API compat; all internal
    # hot paths pass strings and take the single-parse route above)
    return F.coalesce(
        F.filter(F.split(text, r"\s+"), lambda x: x != F.lit("")),
        F.array().cast("array<string>"),
    )


def add_tokens(df: DataFrame, text_col: str = "text", out_col: str = "tokens") -> DataFrame:
    return df.withColumn(out_col, tokens_expr(text_col))


def token_count_expr(text: Column | str) -> Column:
    return F.size(tokens_expr(text))


def bpe_ish_token_count_expr(text: Column | str) -> Column:
    """BPE-ish token estimate: count regex word-pieces (runs of letters,
    digits, or single punctuation) — a deterministic stand-in for a real
    subword tokenizer, still codegen'd JVM-side."""
    # same coalesce guard as tokens_expr (r10 review): NULL text must
    # count 0 pieces, not legacy size(NULL) = -1 under the ANSI-off
    # session — a -1 token count poisons every downstream sum/average
    if isinstance(text, str):
        return F.expr(
            "size(" + tokens_sql(
                "regexp_replace(" + sqlref(text)
                + r", '([^\\sA-Za-z0-9]|\\d+)', ' $1 ')"
            ) + ")"
        )
    pieces = F.filter(
        F.split(F.regexp_replace(text, r"([^\sA-Za-z0-9]|\d+)", r" $1 "), r"\s+"),
        lambda x: x != F.lit(""),
    )
    return F.size(F.coalesce(pieces, F.array().cast("array<string>")))


def add_quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: token count, mean token length,
    punctuation ratio, stopword ratio, uppercase ratio.

    Stopwords match CASE-INSENSITIVELY (an all-caps but fluent document
    must not read as stopword-free and fail the gate — language ID
    already lowercases; the two signals must agree on the same text).
    mean_token_len is EXACT (non-whitespace chars / tokens — identical
    to the sum of token lengths); the old (n_char - n_tok + 1)/n_tok
    shortcut assumed exactly one single-space separator and inflated the
    signal on multi-space/newline/indented text, precisely the
    boilerplate the signal exists to flag. NULL text reads as an empty
    document: n_tokens 0, ratios NULL."""
    t = sqlref(text_col)
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_stop = "size(filter(toks, x -> lower(x) IN (" + sw + ")))"
    n_nonspace = "length(regexp_replace(" + t + r", '\\s', ''))"
    n_punct = "length(regexp_replace(" + t + ", '[^.,;:!?]', ''))"
    n_upper = "length(regexp_replace(" + t + ", '[^A-Z]', ''))"
    safe_tok = "nullif(cast(size(toks) as double), 0.0D)"
    safe_char = "nullif(cast(length(" + t + ") as double), 0.0D)"
    # BIND the token array once per row (r11): higher-order functions
    # are CodegenFallback, so codegen subexpression elimination never
    # sees them and the un-bound form re-ran the tokenize split 4x per
    # row (n_tokens, two ratio denominators, the stopword filter).
    # transform(array(x), toks -> ...)[0] names the value; expression
    # per reference is identical, so every output value is unchanged.
    q = (
        "transform(array(" + tokens_sql(t) + "), toks -> named_struct("
        "'n_tokens', size(toks), "
        f"'mean_token_len', round({n_nonspace} / {safe_tok}, 4), "
        f"'stopword_ratio', round({n_stop} / {safe_tok}, 4)))[0]"
    )
    tmp = df.select("*", F.expr(q + " AS _q"))
    # same output columns, same order, same values as the per-column
    # construction (the struct only carries the token-dependent ones)
    return tmp.select(
        *df.columns,
        F.col("_q.n_tokens").alias("n_tokens"),
        F.col("_q.mean_token_len").alias("mean_token_len"),
        F.expr(f"round({n_punct} / {safe_char}, 4) AS punct_ratio"),
        F.col("_q.stopword_ratio").alias("stopword_ratio"),
        F.expr(f"round({n_upper} / {safe_char}, 4) AS upper_ratio"),
    )


def add_language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID. Emits ``score_{lang}`` per language
    and an argmax ``lang_pred`` ('und' when every score is 0).
    Deterministic tie-break: language order en > de > es > fr."""
    toks_build = "array_distinct(" + tokens_sql("lower(" + sqlref(text_col) + ")") + ")"
    n = "nullif(cast(size(toks) as double), 0.0D)"
    langs = list(STOPWORDS)
    fields = []
    for lang, words in STOPWORDS.items():
        wl = ", ".join(f"'{w}'" for w in words)
        hits = "size(filter(toks, x -> x IN (" + wl + ")))"
        fields.append(f"'score_{lang}', round({hits} / {n}, 4)")
    # bind the distinct-token array once per row (r11 — see
    # add_quality_signals): un-bound, the tokenize+distinct ran 2x per
    # language (hit filter + denominator); values per reference identical
    s = (
        "transform(array(" + toks_build + "), toks -> named_struct("
        + ", ".join(fields) + "))[0]"
    )
    tmp = df.select("*", F.expr(s + " AS _ls"))
    out = tmp.select(
        *df.columns,
        *[F.col(f"_ls.score_{lang}").alias(f"score_{lang}") for lang in langs],
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    cases = " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    )  # WHEN order == deterministic tie-break order
    return out.withColumn(
        "lang_pred",
        F.expr(
            f"CASE WHEN {best} IS NULL OR {best} = 0 THEN 'und' {cases} END"
        ),
    )


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Canonical document fingerprint: md5 over the sorted distinct token
    set — whitespace/word-order/duplication insensitive, so trivially
    reordered or re-spaced copies collide. Content-defined and portable
    (md5), unlike engine-specific hash().

    Token-less docs (NULL/empty/whitespace text) fingerprint as NULL,
    never md5('') — same doctrine as simhash (r10 adversarial sweep): a
    contentless doc has nothing to fingerprint, and a shared empty-hash
    would collapse every such doc into one dedup class."""
    # token array bound once per row (see add_quality_signals)
    toks = tokens_sql(sqlref(text_col))
    canon = "md5(concat_ws(' ', array_sort(array_distinct(t))))"
    return df.withColumn(
        out_col,
        F.expr(f"transform(array({toks}), t -> CASE WHEN size(t) > 0 THEN {canon} END)[0]"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Top-k TF-IDF terms per document, DataFrame-native (no MLlib
    vectors, so it stays SQL-expressible and oracle-checkable):

    explode tokens → per-(doc, term) TF → per-term document frequency →
    smoothed idf = ln((1+N)/(1+df)) + 1 → tf*idf → window top-k.

    Scale shape: two shuffles — (doc, term) count then term-level DF join.
    The DF table is vocabulary-sized (≪ corpus), broadcast back; at
    100 TB prune the vocabulary first (min_df filter cuts the hapax
    mass, typically >40% of distinct terms). Ties break alphabetically
    for determinism."""
    # N as a broadcast 1-row aggregate folded into the plan — a driver
    # .count() here would cost a separate Spark job per invocation
    n_docs = F.broadcast(df.agg(F.count("*").cast("double").alias("_n_docs")))
    terms = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # tf rows are distinct per (doc, term) by construction, so plain
    # count(*) IS the document frequency — countDistinct here would add
    # an expand + second shuffle for nothing
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    idf = F.log((F.lit(1.0) + F.col("_n_docs")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(n_docs)
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 retrieval: top-k documents per query — the lexical
    ranking function behind retrieval-based curation (hard-negative
    mining, benchmark-similarity screens, RAG baselines).

    score(q, d) = Σ_{t ∈ q} ln(1 + (N - df + .5)/(df + .5))
                  · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    summed over the query's UNIQUE terms (whitespace tokens). Output:
    (query_id, doc_id, score, rank), rank ≤ k, ties on doc_id.

    Scale shape: ONE corpus-wide (doc, term) shuffle builds the TF
    table; everything query-dependent happens on term-filtered slices.
    The semi-join on query terms is broadcast and pushes into the TF
    aggregate's output, so the per-term DF counts and the scoring join
    touch only postings for queried terms — the inverted-index access
    pattern, never a second corpus scan. N/avgdl ride as a broadcast
    1-row aggregate (no driver collect). Scores are exact-integer
    ratios fed through ln once per term, rounded to 6 dp AFTER the
    per-query sum (the registry determinism rule)."""
    spark = df.sparkSession
    qterms = sorted(
        {(qid, t) for qid, qtext in queries for t in str(qtext).split() if t}
    )
    if not qterms:
        raise ValueError("bm25_topk needs at least one non-empty query")
    qdf = F.broadcast(
        spark.createDataFrame(qterms, schema=f"query_id string, term string")
    )
    toks = ensure_parallelism(df).select(
        F.col(id_col), tokens_expr(text_col).alias("_toks")
    )
    # N and avgdl over the WHOLE corpus (zero-token docs included): both
    # are exact-integer aggregates in fp64 at any realistic scale, so
    # the derived doubles are bit-identical across engines
    stats = F.broadcast(
        toks.agg(
            F.count("*").cast("double").alias("_n_docs"),
            F.avg(F.size("_toks")).alias("_avgdl"),
        )
    )
    # Barrier the TF postings: BOTH the per-term DF counts and the
    # scoring join consume them, and un-barriered each consumer would
    # re-run the corpus explode + shuffle (the multi-consumer recompute
    # r7 fixed across the LM/LSH entries). The frame is tiny — postings
    # for queried terms only.
    from turbine_maintenance_etl_spark.ops.materialize import barrier

    exploded = toks.select(
        F.col(id_col), F.size("_toks").alias("dl"), F.explode("_toks").alias("term")
    )
    # r11: the queried-term filter is driver-side KNOWLEDGE — a literal
    # IN predicate pushed below the aggregate, not a broadcast semi
    # join (two fewer AQE broadcast-build jobs: the distinct and the
    # join build; same surviving rows). Degenerate many-term query
    # lists keep the join form (an IN list scales to hundreds, not
    # hundreds of thousands).
    uniq_terms = sorted({t for _qid, t in qterms})
    if len(uniq_terms) <= 1000:
        postings = exploded.filter(F.col("term").isin(uniq_terms))
    else:
        postings = exploded.join(qdf.select("term").distinct(), "term")
    tf = barrier(
        postings.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf")),
        tag="bm25-tf",
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # single-parse construction (tokens_sql); 0.5/k1/b carry the D
    # suffix so they parse as the same double literals F.lit built
    idf = "log(1.0D + (`_n_docs` - df + 0.5D) / (df + 0.5D))"
    tf_part = (
        f"(tf * {k1 + 1.0!r}D) / "
        f"(tf + {k1!r}D * ({1.0 - b!r}D + {b!r}D * dl / `_avgdl`))"
    )
    scored = (
        tf.join(qdf, "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(stats)
        .groupBy("query_id", id_col)
        .agg(F.expr(f"round(sum(({idf}) * ({tf_part})), 6)").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows —
    the standard pre-training / RAG chunker, as pure array expressions:

    tokenize once → ``sequence(1, n, stride)`` generates chunk starts →
    ``posexplode`` → ``slice`` + ``concat_ws`` rebuilds each window.
    One narrow transformation (no shuffle at all): each executor chunks
    its own documents; output grain is (doc_id, chunk_id).

    Every token appears in ≥1 chunk; consecutive chunks share
    ``overlap`` tokens; the final chunk may be short (never dropped —
    droppping tails silently loses corpus mass at scale)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens_sql(sqlref(text_col))
    # raw starts -> drop tail starts whose window adds no new tokens
    # (fully inside the previous chunk's coverage); chunk_tokens by
    # SLICE GEOMETRY (r10 review): the count is min(chunk_tokens,
    # n - s + 1) by construction. One expression string, bound once per
    # row via the transform(array(...))[0] trick (bind_once's shape).
    raw = (
        f"CASE WHEN size(t) > 0 THEN sequence(1, size(t), {stride}) "
        "ELSE cast(array() as array<int>) END"
    )
    starts = f"filter({raw}, s -> s = 1 OR s + {overlap} <= size(t))"
    window_struct = (
        f"named_struct('text', concat_ws(' ', slice(t, s, {chunk_tokens})), "
        f"'n', least({chunk_tokens}, size(t) - s + 1))"
    )
    chunks = F.expr(
        f"transform(array({toks}), t -> "
        f"transform({starts}, s -> {window_struct}))[0]"
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_c")
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("_c.text").alias("chunk_text"),
        F.col("_c.n").alias("chunk_tokens"),
    )


def corpus_report(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The corpus DATA CARD: the one-table statistics artifact a
    training-data release ships (docs, token mass, emptiness, exact
    duplication, source/language diversity, quality-gate pass rate,
    mean quality signals) in long (metric, value) format so downstream
    dashboards/drift monitors consume it uniformly.

    ONE aggregation job: every metric is an aggregate over the same
    quality-signal projection (count-distincts ride the same shuffle as
    partial aggregates), then a ``stack`` melt of the single result row
    — no per-metric scans. All metrics are exact (no sketches), so the
    DuckDB oracle checks them value-for-value."""
    # NULL text hashes to NULL (countDistinct skips it) and is counted
    # per-doc below — matching dedup._content_key's doctrine ('NULL text
    # is absent content, not shared content'): under the previous
    # md5(coalesce(text, '')) a million failed-extraction NULL rows
    # read as ONE distinct text and the card reported ~1.0 duplication
    # for rows the pipeline's own exact_dedup would never drop
    # (r10 review).
    q = add_quality_signals(df, text_col).withColumn("_h", F.md5(F.col(text_col)))
    # diversity metrics only for columns the corpus actually carries —
    # the generic (df, text_col, id_col) signature must not crash on a
    # single-source crawl or a chunked frame without 'source'/'lang'
    diversity = [
        F.countDistinct(c).cast("double").alias(f"n_{c}s")
        for c in ("source", "lang")
        if c in df.columns
    ]
    agg = q.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(F.when(F.col("n_tokens") == 0, 1).otherwise(0))
        .cast("double")
        .alias("n_empty_docs"),
        F.sum("n_tokens").cast("double").alias("total_tokens"),
        F.avg("n_tokens").alias("mean_tokens_per_doc"),
        (
            F.countDistinct("_h")
            + F.sum(F.when(F.col(text_col).isNull(), 1).otherwise(0))
        )
        .cast("double")
        .alias("n_distinct_texts"),
        *diversity,
        F.avg("stopword_ratio").alias("mean_stopword_ratio"),
        F.avg("punct_ratio").alias("mean_punct_ratio"),
        F.avg(
            F.when(
                (F.col("n_tokens") >= 20) & (F.col("stopword_ratio") >= 0.05), 1.0
            ).otherwise(0.0)
        ).alias("quality_pass_frac"),
    ).withColumn(
        "exact_dup_frac",
        F.lit(1.0) - F.col("n_distinct_texts") / F.col("n_docs"),
    )
    metrics = [
        "n_docs", "n_empty_docs", "total_tokens", "mean_tokens_per_doc",
        "n_distinct_texts", "exact_dup_frac",
        *(["n_sources"] if "source" in df.columns else []),
        *(["n_langs"] if "lang" in df.columns else []),
        "mean_stopword_ratio", "mean_punct_ratio", "quality_pass_frac",
    ]
    stack_args = ", ".join(f"'{m}', ROUND({m}, 4)" for m in metrics)
    return agg.selectExpr(
        f"stack({len(metrics)}, {stack_args}) AS (metric, value)"
    )


def normalize_text_expr(col: Column | str) -> Column:
    """CCNet-style dedup normalization (Wenzek et al.: lowercase, strip
    punctuation, map digits to zero, collapse whitespace) as one chain
    of codegen'd regexp/string expressions — the canonical form two
    near-identical documents (case, numbering, punctuation variants)
    collapse to before EXACT dedup. Portable Java-regex/RE2 classes
    only, so the DuckDB oracle applies the identical normalization.

    UNICODE-preserving: the kept class is ``\\p{L}\\p{N}`` (any letter or
    digit, any script), not ``[a-z0-9]`` — an ASCII-only class would
    normalize every non-Latin document (and every accented word) to the
    same empty/mangled string, mass-false-positive-deduping a
    multilingual corpus."""
    if isinstance(col, str):
        return F.expr(normalize_text_sql(sqlref(col)))
    c = F.lower(col)
    c = F.regexp_replace(c, r"\p{N}", "0")
    c = F.regexp_replace(c, r"[^\p{L}0 ]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def normalize_text_sql(col_sql: str) -> str:
    """SQL text of ``normalize_text_expr`` (single-parse construction)."""
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace(lower("
        + col_sql
        + r"), '\\p{N}', '0'), '[^\\p{L}0 ]', ' '), '\\s+', ' '))"
    )


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the NORMALIZED text (the CCNet paragraph-dedup
    key, at document grain): every doc maps to its normalization-class
    md5; min-id per class survives. Catches the case/digit/punctuation
    variants plain exact dedup misses, at exactly the same cost — one
    shuffle keyed on the 16-byte digest; the normalization itself is a
    narrow codegen map. Output: (id, norm_hash, survivor) for every
    input row (survivor = false rows are the drop set).

    Docs whose normalization is EMPTY (punctuation-only / NULL text)
    carry a NULL norm_hash and each survives as its own class: they are
    not copies of one another, and at 100 TB a shared empty-class hash
    would both false-positive-drop them all and pile every such row
    into one window partition."""
    ns = normalize_text_sql(sqlref(text_col))
    h = F.expr(f"CASE WHEN {ns} != '' THEN md5({ns}) END").alias("norm_hash")
    # NULL-hash docs get a per-doc partition key: no skew, no window
    # mass — their survivor flag is statically true
    key = F.coalesce(
        F.col("norm_hash"), F.concat(F.lit("__empty__"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(key)
    return (
        df.select(F.col(id_col), h)
        .withColumn("_min", F.min(id_col).over(w))
        .select(
            id_col,
            "norm_hash",
            (F.col(id_col) == F.col("_min")).alias("survivor"),
        )
    )
