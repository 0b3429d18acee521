"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB corpus):
- **Exact dedup** is a hash-groupBy — one shuffle on a 128-bit digest,
  map-side partial agg; never a global sort.
- **Pairwise Jaccard is quadratic** — only valid inside small candidate
  sets. The scale path is MinHash-LSH: shingle → K minhashes → B bands →
  explode to (band, band-hash) keys → self-join per bucket. The shuffle
  key is the band bucket, candidate generation is linear in corpus size +
  bucket-pair cost, and skewed mega-buckets (boilerplate shingles) can be
  salted or capped.
- Hashes are **portable md5-prefix** values (not Spark's murmur3
  ``F.hash``) so signatures are reproducible across engines/runs — this
  keeps the operators oracle-checkable and stable under Spark upgrades.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.ops.materialize import barrier

from turbine_maintenance_etl_spark.llm.text import sqlref, tokens_expr, tokens_sql
from turbine_maintenance_etl_spark.util import ensure_parallelism

# Mersenne prime 2^31 - 1: the MinHash permutation modulus. The modulus
# must be SMALL relative to a*h+b so the affine map actually wraps:
# with a,b < p and h reduced mod p, a*h+b reaches ~2^62 (fits int64) and
# wraps mod p many times over, giving a genuine universal hash family.
# (The round-1 bug: modulus 2^61-1 with a*h+b < 2^60 never wrapped, so
# every 'permutation' was monotone in h and all K slots were determined
# by the single minimum shingle hash — LSH banding collapsed to one
# equality test. A statistical test now pins the fix.)
_MERSENNE31 = (1 << 31) - 1


def md5_hash64(col: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5, base-16 →
    decimal. Reproducible in any engine with md5 (DuckDB oracle parity)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_hash64_sql(col_sql: str) -> str:
    """SQL text of ``md5_hash64`` (single-parse construction — see
    ``text.tokens_sql`` for the measured py4j-vs-parse numbers)."""
    return f"cast(conv(substring(md5({col_sql}), 1, 15), 16, 10) as bigint)"


def shingles_sql(col_sql: str, n: int = 3) -> str:
    """SQL text of ``shingles`` over a column expression. Identical
    expression tree to the Column builder (tokens bound once per row via
    the transform(array(...))[0] binding, 1-based element_at, same
    empty-array guard), constructed with one parser pass instead of
    ~n×4 py4j round-trips plus two lambda bridges per call."""
    toks = tokens_sql(col_sql)
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, i + {j})" for j in range(n)
    ) + ")"
    count = f"greatest(size(toks) - {n - 1}, 0)"
    grams = (
        f"CASE WHEN {count} > 0 THEN transform(sequence(1, {count}), i -> {gram}) "
        "ELSE cast(array() as array<string>) END"
    )
    return f"array_distinct(transform(array({toks}), toks -> {grams})[0])"


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (default trigrams).
    Pure higher-order functions: ``transform`` over an index ``sequence``
    with 1-based ``element_at`` — no UDF, no explode until the caller
    chooses to. The token array is bound once per row (``bind_once``) —
    without it Spark re-tokenizes per element_at reference, a ~100x
    slowdown on real documents."""
    if isinstance(text, str):
        return F.expr(shingles_sql(sqlref(text), n))
    from turbine_maintenance_etl_spark.llm.text import bind_once

    def grams(toks: Column) -> Column:
        count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(1), count)
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        )
        return F.when(count > 0, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )

    return F.array_distinct(bind_once(tokens_expr(text), grams))


def _content_key(text_col: str, id_col: str) -> Column:
    """Dedup class key: md5 of the text, with NULL-text rows keyed
    PER DOC. NULL text is absent content, not shared content — grouping
    it (md5(NULL) = NULL partitions as one key) would both delete
    millions of distinct failed-extraction rows as 'duplicates' of text
    that was never compared AND pile them into a single hot window
    partition. '\\x00null:' cannot collide with a 32-hex digest."""
    return F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
    )


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: md5(text) → (content hash, surviving id =
    min id, multiplicity). One hash-shuffle; at 100 TB group on the digest
    (16 bytes), never the raw text. NULL-text rows are their own
    singleton groups (content_hash NULL)."""
    key = _content_key(text_col, id_col)
    return (
        df.select(key.alias("_k"), F.col(id_col))
        .groupBy("_k")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .select(
            F.when(~F.col("_k").startswith("\x00null:"), F.col("_k")).alias(
                "content_hash"
            ),
            "keep_id",
            "dup_count",
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Survivor rows after exact dedup (deterministic: min id per content
    hash wins — not ``dropDuplicates``, whose surviving row is
    partition-order dependent). NULL-text rows all survive (their own
    singleton classes — see ``_content_key``)."""
    w = Window.partitionBy(_content_key(text_col, id_col)).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rows: int = 10_000,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity >= threshold.

    Quadratic — the *verification* kernel, meant for candidate sets (LSH
    buckets) or small corpora; the linear-scale path is
    ``minhash_lsh_candidates`` feeding this on bucket-mates only. Guarded
    (like ``brute_force_topk``) so the O(n^2) pair join cannot silently
    run on a full-scale corpus: raises beyond ``max_rows`` input rows
    (one count job); pass ``max_rows=None`` to force.
    """
    if max_rows is not None:
        n_rows = df.count()
        if n_rows > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs got {n_rows} rows (> {max_rows}): this is "
                "the quadratic verification kernel — generate candidates with "
                "minhash_lsh_candidates first, or pass max_rows=None to force"
            )
    base = ensure_parallelism(df).select(F.col(id_col), shingles(text_col, n).alias("sh"))
    a = base.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.expr("size(filter(sh_a, x -> array_contains(sh_b, x)))")
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter / F.nullif(union.cast("double"), F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """K-permutation MinHash signature per document.

    Scale shape: explode shingles → one md5 per shingle → K affine
    permutations ``(a_i * h + b_i) mod p`` (p = 2^31-1, h pre-reduced
    mod p so ``a*h+b < 2^62`` stays exact int64 while wrapping p many
    times — a real universal hash family, not a monotone map) as plain
    codegen'd int64 expressions → ``groupBy(id).min`` per permutation.
    The min aggregation combines map-side (partial agg), so the shuffle
    carries only K int64s per document regardless of document size, and
    the per-shingle work parallelizes across all cores/executors (a
    per-row array-transform formulation would pin each document to one
    thread and run interpreted, not codegen'd). Empty shingle sets
    yield NULL signature slots."""
    import random

    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]
    # single-parse construction (see text.tokens_sql): the K affine-min
    # aggregates and the signature array are one F.expr each instead of
    # ~6 py4j round-trips per permutation slot
    exploded = ensure_parallelism(df).select(
        F.col(id_col), F.explode_outer(shingles(text_col, n)).alias("_sh")
    ).select(
        F.col(id_col),
        F.expr(f"({md5_hash64_sql('`_sh`')}) % {_MERSENNE31} AS _h"),
    )
    aggs = [
        F.expr(f"min((`_h` * {ai} + {bi}) % {_MERSENNE31}) AS mh_{i}")
        for i, (ai, bi) in enumerate(coeffs)
    ]
    sig = "array(" + ", ".join(f"mh_{i}" for i in range(num_hashes)) + ") AS signature"
    return exploded.groupBy(id_col).agg(*aggs).select(F.col(id_col), F.expr(sig))


def _band_struct_expr(bands: int, rows: int) -> Column:
    """array<struct<band,bh>> of per-band hashes over a ``signature``
    column: band bi hashes signature slots [bi*rows, (bi+1)*rows).

    A doc with ZERO shingles (< n tokens) has all-NULL signature slots;
    its band hash is NULL — never md5('') (concat_ws skips NULLs), which
    would put EVERY short/empty doc into one shared bucket in every band
    and emit quadratic false pairs between totally dissimilar docs."""
    structs = ", ".join(
        f"named_struct('band', {bi}, 'bh', "
        f"CASE WHEN signature[{bi * rows}] IS NOT NULL THEN md5(concat_ws(',', "
        + ", ".join(f"signature[{bi * rows + r}]" for r in range(rows))
        + ")) END)"
        for bi in range(bands)
    )
    return F.expr(f"array({structs})")


def lsh_band_buckets(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """(id, band, bh) LSH bucket rows — the PERSISTABLE index. At 100 TB
    this is what you store (partitioned/bucketed by (band, bh)) so the
    next ingest batch never re-hashes the corpus: build once, append
    each batch's rows (``index.unionByName(new_rows)`` → write), and
    probe with ``incremental_lsh_candidates``. B rows of
    (int, 32-char hash) per document — ~300 bytes/doc at the defaults,
    independent of document size."""
    if num_hashes % bands != 0:
        # bare assert vanishes under python -O and would silently drop
        # the trailing signature slots, changing collision probability
        # with no error (r10 review)
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    rows = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, n, text_col, id_col, seed)
    return (
        sigs.select(
            F.col(id_col), F.explode(_band_struct_expr(bands, rows)).alias("b")
        )
        .select(F.col(id_col), F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
        # shingle-less docs emit NO bucket rows: they cannot be
        # near-duplicate candidates of anything (see _band_struct_expr)
        .filter(F.col("bh").isNotNull())
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    saturated_policy: str = "skip",
) -> DataFrame:
    """Near-dup candidates of an INCOMING BATCH against an EXISTING
    corpus index (``lsh_band_buckets`` output) — the production ingest
    shape: signatures are computed for the new batch only (linear in the
    batch, not the corpus), then an equi-join on (band, bh) probes the
    stored index. Returns distinct (new_id, existing_id) pairs.

    New-vs-new duplicates inside the batch are a separate (cheap)
    ``minhash_lsh_candidates(new_docs)`` call; keeping the two paths
    split keeps this join's build side strictly index rows.

    ``max_bucket_size`` mirrors the batch path's mega-bucket guard:
    probing an over-cap index bucket would fan every matching new doc
    out to the whole bucket. ``saturated_policy`` decides what hitting
    one MEANS: ``"skip"`` (default) ignores the bucket — but in a
    continuous-ingest loop that is self-defeating: once a bucket
    saturates, every future near-duplicate landing in it is admitted
    forever. ``"match_all"`` emits one ``(new_id, existing_id=NULL)``
    row per new doc that hits a saturated bucket — the bucket AS A
    WHOLE is the match (a ≥cap-member band collision is near-certainly
    the same boilerplate cluster), linear cost, and the ingest loop
    stays closed. Capped via one aggregation over the index
    (vocabulary-sized relative to the corpus), not a window over the
    join."""
    if saturated_policy not in ("skip", "match_all"):
        raise ValueError(
            f"saturated_policy must be 'skip' or 'match_all', "
            f"got {saturated_policy!r}"
        )
    new_buckets = lsh_band_buckets(
        new_docs, num_hashes, bands, n, text_col, id_col, seed
    ).select(F.col(id_col).alias("new_id"), "band", "bh")
    idx = index.select(
        F.col(id_col).alias("existing_id"), F.col("band"), F.col("bh")
    )
    sat_hits = None
    if max_bucket_size is not None:
        sizes = idx.groupBy("band", "bh").agg(F.count("*").alias("_sz"))
        if saturated_policy == "match_all":
            # two consumers of the batch's signature pipeline (saturated-
            # bucket probe + the main probe join) and two of the bucket-
            # size aggregation (ok + sat filters): barrier both so
            # neither lineage re-executes — new_buckets is B rows/doc of
            # the BATCH, sizes is one row per distinct index bucket;
            # both bounded (the r7 minhash_lsh_candidates treatment).

            new_buckets = barrier(new_buckets, "incr-lsh-new-buckets")
            sizes = barrier(sizes, "incr-lsh-bucket-sizes")
        ok = sizes.filter(F.col("_sz") <= max_bucket_size).drop("_sz")
        if saturated_policy == "match_all":
            sat = sizes.filter(F.col("_sz") > max_bucket_size).drop("_sz")
            sat_hits = (
                new_buckets.join(sat, ["band", "bh"], "left_semi")
                .select(
                    "new_id",
                    F.lit(None).cast(index.schema[id_col].dataType)
                    .alias("existing_id"),
                )
                .distinct()
            )
        idx = idx.join(ok, ["band", "bh"], "left_semi")
    out = (
        new_buckets.join(idx, ["band", "bh"])
        .filter(F.col("new_id") != F.col("existing_id"))
        .select("new_id", "existing_id")
        .distinct()
    )
    if sat_hits is not None:
        out = out.unionByName(sat_hits)
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    saturated_policy: str = "skip",
) -> DataFrame:
    """LSH candidate pairs: split the K-slot signature into ``bands``
    bands of K/bands rows each, hash every band, and group documents by
    (band index, band hash). Documents sharing any band bucket become a
    candidate pair — linear shuffle on the bucket key instead of an
    all-pairs cross join. Deduplicates pairs found in multiple bands.

    Pair generation is groupBy + in-bucket combination expansion rather
    than a bucket self-join: the signature pipeline runs ONCE (a
    self-join would execute it per side). The quadratic blowup of a
    pathological mega-bucket is capped BY DEFAULT via ``max_bucket_size``
    (a boilerplate-heavy 100 TB corpus can put millions of docs in one
    bucket → one O(b^2) collect_list row → executor OOM).

    ``saturated_policy`` decides what an over-cap bucket contributes:
    ``"skip"`` (default) drops it — right when exact-dedup ran first and
    the full pair set is wanted elsewhere; ``"representative"`` pairs
    every member with the bucket's min-id representative — LINEAR in the
    bucket, so a near-dup mega-cluster (templated docs differing only in
    timestamps, which exact-dedup cannot absorb) still collapses to one
    survivor instead of silently passing uncapped through a
    candidate-level dedup chain."""
    if num_hashes % bands != 0:
        # bare assert vanishes under python -O and would silently drop
        # the trailing signature slots, changing collision probability
        # with no error (r10 review)
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    if saturated_policy not in ("skip", "representative"):
        raise ValueError(
            f"saturated_policy must be 'skip' or 'representative', "
            f"got {saturated_policy!r}"
        )
    buckets = lsh_band_buckets(df, num_hashes, bands, n, text_col, id_col, seed)
    if max_bucket_size is not None and saturated_policy == "representative":
        # the representative branch consumes `buckets` from THREE plan
        # branches (pair grouping, over-cap detection, rep pairing) and
        # each re-ran the whole shingle->md5->K-min signature pipeline.
        # The bucket index is B rows of (id, int, 32-char hash) per doc
        # (~300 B/doc, document-size-independent — the persistable-index
        # framing above), so materializing it is bounded and exactly
        # what a production deployment stores anyway. Measured r7:
        # split_cluster_aware 4.0 -> ~3.1s warm at sf0.1.

        buckets = barrier(buckets, "lsh-buckets")
    # The cap must exclude over-cap buckets BEFORE collect_list builds
    # the array (r10 review): a single aggregation key's buffer cannot
    # spill, so filtering on F.size AFTER the agg still materialized
    # the multi-million-element mega-bucket array it was documented to
    # prevent. The window count hash-partitions on the SAME (band, bh)
    # key as the groupBy, so it rides one shuffle — over-cap rows are
    # dropped row-wise and the collect_list buffer is bounded by the
    # cap by construction.
    to_group = buckets
    if max_bucket_size is not None:
        w_sz = Window.partitionBy("band", "bh")
        to_group = (
            buckets.withColumn("_bsz", F.count("*").over(w_sz))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    grouped = to_group.groupBy("band", "bh").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    # expand each bucket's id list into its (i < j) combinations
    # (single-parse: two nested SQL lambdas instead of two py4j bridges)
    ids = F.col("ids")
    pairs = F.expr(
        "flatten(transform(sequence(1, size(ids) - 1), i -> "
        "transform(sequence(i + 1, size(ids)), j -> "
        "named_struct('id_a', element_at(ids, i), 'id_b', element_at(ids, j)))))"
    )
    out = (
        grouped.filter(F.size(ids) > 1)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    if max_bucket_size is not None and saturated_policy == "representative":
        # over-cap buckets: LINEAR pairing against the bucket's min-id
        # representative instead of dropping the bucket entirely —
        # an aggregate (count, min) per bucket, never a collect_list,
        # so the OOM the cap guards against cannot reappear. Costs one
        # extra execution of the signature pipeline (two aggregations
        # over `buckets`); callers on an expensive upstream should
        # materialize the input first.
        big = (
            buckets.groupBy("band", "bh")
            .agg(F.count("*").alias("_sz"), F.min(id_col).alias("_rep"))
            .filter(F.col("_sz") > max_bucket_size)
            .select("band", "bh", "_rep")
        )
        rep_pairs = (
            buckets.join(big, ["band", "bh"])
            .filter(F.col(id_col) != F.col("_rep"))
            .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
            .distinct()
        )
        out = out.unionByName(rep_pairs).distinct()
    return out


def minhash_lsh_bucket_stats(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Bucket-size distribution + capped-bucket accounting for the LSH
    pass — 'no silent caps': run this alongside ``minhash_lsh_candidates``
    to see exactly how many buckets (and docs) the ``max_bucket_size``
    guard dropped. Returns one row per band with n_buckets,
    max_bucket_size observed, n_capped_buckets, n_docs_in_capped.
    A nonzero capped count means near-100%-duplicate boilerplate the
    exact-dedup pass should have removed first."""
    if num_hashes % bands != 0:
        # bare assert vanishes under python -O and would silently drop
        # the trailing signature slots, changing collision probability
        # with no error (r10 review)
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    sizes = (
        lsh_band_buckets(df, num_hashes, bands, n, text_col, id_col, seed)
        .groupBy("band", "bh")
        .agg(F.count("*").alias("sz"))
    )
    cap = F.lit(max_bucket_size) if max_bucket_size is not None else None
    capped = (F.col("sz") > cap) if cap is not None else F.lit(False)
    return sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_bucket_size"),
        F.sum(F.when(capped, 1).otherwise(0)).alias("n_capped_buckets"),
        F.sum(F.when(capped, F.col("sz")).otherwise(0)).alias("n_docs_in_capped"),
    )


def simhash(
    df: DataFrame,
    bits: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: per token hash, each of ``bits`` positions
    votes +1/-1; the sign vector packs into a bigint. Near-duplicate
    texts land at small Hamming distance. Expressed as ``bits``
    aggregate-free columnar expressions over the token-hash array (60
    usable bits from the portable hash — more raises instead of a
    silent clamp). Token-less docs (empty/NULL text) get a NULL
    fingerprint, never 0: millions of empty docs all sitting at Hamming
    distance 0 from each other would blow up any near-dup join on the
    hot fingerprint 0."""
    if bits > 60:
        raise ValueError(
            f"bits={bits} > 60: the portable md5-fold hash provides 60 "
            "usable bits; pass bits <= 60"
        )
    # single-parse construction: the per-bit vote aggregates are one SQL
    # string (bits × aggregate lambdas used to cost ~bits × 70 ms of
    # driver py4j round-trips per call — see text.tokens_sql)
    hashed = F.expr(
        f"transform(array_distinct({tokens_sql(sqlref(text_col))}), "
        f"t -> {md5_hash64_sql('t')})"
    )

    def bit_vote(b: int) -> str:
        votes = (
            "aggregate(`_h`, 0, (acc, h) -> acc + "
            f"(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END))"
        )
        return f"(CASE WHEN {votes} > 0 THEN {1 << b} ELSE 0 END)"

    packed = " + ".join(bit_vote(b) for b in range(bits))
    return ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).withColumn("_h", hashed).select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN size(`_h`) > 0 THEN cast({packed} as bigint) END AS simhash"
        ),
    )


def resolve_duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 10,
) -> DataFrame:
    """Resolve candidate pairs into duplicate CLUSTERS (connected
    components) — the step between LSH candidate generation and actual
    removal: every doc in a component keeps the component's min id as
    ``cluster_id``; survivors are the rows where doc_id == cluster_id.

    Min-label propagation WITH POINTER JUMPING: each round every node
    adopts the smallest label among itself and its neighbors (one hop),
    then labels chase their own label's label (``label := label[label]``
    — pointer jumping / path doubling). The hop spreads the minimum like
    BFS; the jump squares the reach per round, so convergence is
    O(log diameter) rounds, not O(diameter) — a 1M-long chain converges
    in ~20 rounds instead of 1M. (Plain propagation capped at max_iter
    would silently return WRONG clusters for any component with diameter
    > max_iter; this version instead converges fast and RAISES if the
    cap is ever genuinely hit.) Each round costs two shuffles (neighbor
    groupBy-min + the self-join jump) over the edge/label lists;
    lineage is cut per round with localCheckpoint. The equivalent
    alternating large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce") has the same bound.

    Input: (id_a, id_b) pairs. Output: (doc_id, cluster_id)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # materialize ONCE: every round's neighbor join reads `edges`,
        # so an un-checkpointed edge list re-executes the upstream
        # candidate-pair pipeline (LSH signatures — the expensive part)
        # once per round. Labels were already checkpointed per round;
        # this closes the same leak on the static side of the loop
        # (measured r5: dedup_graph_suite 5.3s -> ~2x faster at sf0.1).
        .transform(lambda d: barrier(d, "dedup-edges"))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iter):
        # hop: label each node with min(own, neighbors') labels. The
        # node's PREVIOUS label rides along as `_old` (present on the
        # own-row only — min() ignores the neighbor rows' NULLs), so the
        # convergence check below never needs to join this round's
        # output back against `labels`: that join cost two extra
        # exchanges + a rescan of both checkpoints EVERY round (r10
        # optimization — the per-round count is now a narrow filter of
        # the round's own checkpoint).
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(
                F.col("src").alias("node"),
                "label",
                F.lit(None).cast(labels.schema["label"].dataType).alias("_old"),
            )
        )
        hopped = (
            labels.withColumn("_old", F.col("label"))
            .unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("_old").alias("_old"))
        )
        # jump: label := label's label (pointer jumping -> log convergence)
        parent = hopped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        jumped = (
            hopped.join(parent, hopped.label == parent.p_node, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("p_label", "label")).alias("new_label"),
                "_old",
            )
        )
        # checkpoint FIRST: one materialization per round serves both the
        # convergence count and the next iteration (or the caller). The
        # old order returned the CONVERGING round's labels with their full
        # lineage attached — every downstream action re-executed the whole
        # candidate-pair pipeline (caught by the PLANS.md exchange count:
        # 19 shuffles in the consumer's plan vs 0 from a checkpoint).
        # lazy barrier (r10): the convergence count below is a full scan
        # of this frame, so it MATERIALIZES the checkpoint — one job per
        # round instead of checkpoint-job + count-job (reliable mode
        # keeps its eager distributed write)
        new_labels = barrier(
            jumped.select(
                "node",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("_old")).alias("_chg"),
            ),
            "dedup-labels",
            eager=False,
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(
        f"connected components did not converge in {max_iter} rounds — "
        "component diameter > 2^max_iter is pathological for LSH duplicate "
        "graphs; raise max_iter"
    )


def neardup_survivors(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The kept corpus after cluster collapse: each cluster's min-id
    representative survives (``resolve_duplicate_clusters`` labels with
    the component minimum, so representative == ``cluster_id ==
    id``), untouched docs pass through. Left join + filter; the
    clusters table is ≪ the corpus, so it broadcasts. ONE home for the
    survivor rule (r10 review: it previously lived verbatim in both
    the graded suite row and the registry original, free to drift)."""
    return docs.join(F.broadcast(clusters), id_col, "left").filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col(id_col))
    )


def containment_scores(
    df: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_pairs: int = 10_000_000,
) -> DataFrame:
    """Asymmetric containment for candidate pairs: ``c_a_in_b`` =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — near 1.0 when A is an
    EXCERPT of B even though their symmetric Jaccard is low (the case
    near-dup thresholds miss: quotes, boilerplate-wrapped reposts,
    chunked copies). Emits both directions plus Jaccard so one pass
    classifies: high jaccard = near-dup, asymmetric high containment =
    subset relationship.

    Scale shape: like ``ngram_jaccard_pairs`` this is the per-pair
    VERIFICATION kernel — linear in the candidate pair list (feed it
    LSH candidates, never a cross join); two broadcast-or-shuffle hash
    joins attach the shingle sets to the pairs. Guarded like the other
    per-pair kernels: refuses a pair list beyond ``max_pairs`` (one
    count job — catches a cross join passed by mistake); ``None`` to
    force. The guard localCheckpoints the pair list first so the count
    and the later join share ONE execution of the upstream candidate
    pipeline instead of running LSH twice."""
    if max_pairs is not None:
        pairs = barrier(pairs, "dedup-pairs")
        n_pairs = pairs.count()
        if n_pairs > max_pairs:
            raise ValueError(
                f"containment_scores got {n_pairs} pairs (> {max_pairs}): "
                "this is the per-pair verification kernel — feed it LSH "
                "candidates, not a cross join, or pass max_pairs=None to force"
            )
    sh = df.select(F.col(id_col), shingles(text_col, n).alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.expr("size(filter(sh_a, x -> array_contains(sh_b, x)))")
    union = F.size("sh_a") + F.size("sh_b") - inter
    return joined.select(
        "id_a",
        "id_b",
        F.round(inter / F.nullif(F.size("sh_a").cast("double"), F.lit(0.0)), 4).alias(
            "c_a_in_b"
        ),
        F.round(inter / F.nullif(F.size("sh_b").cast("double"), F.lit(0.0)), 4).alias(
            "c_b_in_a"
        ),
        F.round(inter / F.nullif(union.cast("double"), F.lit(0.0)), 4).alias("jaccard"),
    )


def _span_struct_sql(n: int) -> str:
    """SQL text of the positional n-gram span builder shared by the two
    ExactSubstr passes: array<struct<pos,g>> over a bound ``_toks``
    column with ``n_tokens`` alongside (single-parse construction).

    The span key is the md5 digest as 16 BYTES (``unhex``), not the
    32-char hex string (guide §2.3 — narrower shuffle keys): the key
    dominates the gram-stream row (16B key + 8B id + 4B pos vs 32B+ as
    hex), it only ever partitions/groups (never reaches any output),
    and ``unhex`` is injective on md5's hex alphabet, so every grouping
    class — and therefore every count, canonical choice and result —
    is unchanged."""
    return (
        f"CASE WHEN n_tokens >= {n} THEN transform(sequence(1, n_tokens - {n - 1}), "
        f"i -> named_struct('pos', i, 'g', unhex(md5(array_join(slice(_toks, i, {n}), ' '))))) "
        "ELSE cast(array() as array<struct<pos:int,g:binary>>) END"
    )


def duplicated_span_stats(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-level dedup signal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" / ExactSubstr
    shape, on word n-grams instead of a suffix array): every n-token span
    whose content occurs >= ``min_count`` times ANYWHERE in the corpus is
    a duplicated span; per document report the span count and the
    fraction of tokens covered by at least one duplicated span — the
    curation gate signal (docs above a coverage threshold get trimmed or
    dropped).

    Replaces the reference-free suffix-array pass with pure DataFrame
    algebra, all JVM-side:

    1. tokenize once per row (``tokens_expr``);
    2. enumerate positional n-grams via ``transform`` over an index
       ``sequence`` + ``slice`` (guarded for short docs — Spark's
       ``sequence(1, 0)`` counts DOWN, so the span list is built only
       when ``len >= n``), hashing each span to its FULL md5 digest (a 32-char key — at
       100 TB the corpus holds ~2^44 distinct spans, where a 60-bit
       key's birthday collisions number ~10^8 and every one deletes
       legitimate unique text; 128 bits puts the expected count below
       one);
    3. ONE hash-shuffle on the span key marks duplicated positions: a
       per-key window count (no ordering frame) instead of a
       groupBy-count + join-back — the gram pipeline (the expensive
       tokenize+md5 narrow stage) executes once, not once per join side,
       and the full gram stream crosses the network exactly once
       (measured faster than the agg+join shape at sf0.1 too);
    4. the exact union-of-intervals coverage is ONE groupBy(doc) over
       the duplicated hits: collect the span positions (one int per
       hit), expand to covered indices and count the distinct union in
       a single array expression — the r10 shape. The previous shape
       exploded every hit to its n covered (doc, index) rows and ran
       DISTINCT + a second groupBy over them: n× the rows across two
       extra exchanges for the same per-doc number.

    Scale shape: everything is linear in corpus token count; shuffles key
    on 32-byte digests; no driver collect, no quadratic pair stage (unlike
    Jaccard verification this needs no candidate cap). A corpus-dominant
    boilerplate span is a hot key under any keyed-by-span plan; the
    min_count filter drops it immediately after the count, so the hot
    partition does O(its rows) work and emits them filtered.
    """
    toks = df.select(
        F.col(id_col), tokens_expr(text_col).alias("_toks")
    ).select(
        id_col, "_toks", F.size("_toks").alias("n_tokens")
    )
    grams = toks.select(
        id_col, F.explode(F.expr(_span_struct_sql(n))).alias("s")
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))

    hits = (
        grams.withColumn("_cnt", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("_cnt") >= min_count)
        .drop("_cnt")
    )

    # span count and interval-union coverage in the SAME aggregation:
    # the buffer holds one int per duplicated hit (bounded by the doc's
    # token count), the union/distinct runs as a post-agg array
    # expression — no row explosion, no (doc, idx) DISTINCT exchange
    per_doc = hits.groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.expr(
            "size(array_distinct(flatten(transform(collect_list(pos), "
            f"p -> sequence(p, p + {n - 1})))))"
        ).alias("n_dup_tokens"),
    )
    return (
        toks.select(id_col, "n_tokens")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint").alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The REWRITE counterpart of ``duplicated_span_stats``: emit the
    cleaned corpus with corpus-duplicated spans REMOVED, keeping exactly
    one canonical occurrence per span content (Lee et al. 2022
    ExactSubstr dedup's actual output — the stats operator measures, this
    one produces the training corpus).

    Semantics (deterministic, oracle-checkable):
      - a span = n consecutive tokens; duplicated if its content occurs
        >= ``min_count`` times corpus-wide (full-md5 span key, like the
        stats pass — collision-free at any realistic corpus size);
      - the canonical occurrence of each duplicated span is the one with
        the smallest (doc_id, pos) — every OTHER occurrence is marked;
      - a token is dropped iff covered by >= 1 marked occurrence AND NOT
        covered by any canonical occurrence — the canonical-protection
        clause is what makes 'exactly one surviving occurrence per span
        content' TRUE under overlap (periodic text like 'a a a ... a'
        marks occurrences that overlap the canonical one; without
        protection their removal punches holes through the canonical
        copy and the corpus can retain ZERO complete occurrences);
      - affected docs re-join surviving tokens in order (single-space
        separator); UNAFFECTED docs pass through with their ORIGINAL
        text — re-joining them would collapse newlines/indentation
        corpus-wide for a rewrite that touched nothing.

    Plan shape (r10 — two wide stages total):
      1. the gram pipeline (tokenize + positional slice + md5) runs ONCE
         (narrow);
      2. ONE hash-shuffle on the span key computes per-key count and
         min-(doc_id,pos) in the same window pass — no join-back of a
         second gram stream;
      3. ONE groupBy(doc) over the duplicated occurrences builds the
         per-doc removed-index set as an array expression —
         ``array_except(∪ marked coverage, ∪ canonical coverage)`` —
         with a buffer of one (pos, is_first) pair per duplicated hit
         (bounded by document length);
      4. the rebuild is a NARROW map: affected docs left-join their
         removed set back (id-keyed; only docs that actually lose
         tokens have a row) and the cleaned text is
         ``kept indices = array_except(sequence(1, n_tokens), removed)``
         mapped through ``element_at`` — no token-stream explosion, no
         per-token anti-join, no per-doc sort-rebuild aggregate.
      (The pre-r10 shape exploded both coverage sets to (doc, idx) rows
      with DISTINCT exchanges, anti-joined them, localCheckpointed the
      result, and rebuilt affected docs via posexplode + anti-join +
      collect_list — five extra wide stages carrying n× amplified rows
      for identical output.)

    At 100 TB: both wide stages key on bounded-width keys and carry (a)
    the gram key stream once, (b) one int per duplicated hit — each
    linear, no quadratic stage, no driver state. A boilerplate mega-span
    is one hot key whose window pass is O(occurrences) with no pair
    expansion.
    """
    toks = df.select(
        F.col(id_col), F.col(text_col).alias("_text"),
        tokens_expr(text_col).alias("_toks"),
    ).select(id_col, "_text", "_toks", F.size("_toks").alias("n_tokens"))

    grams = toks.select(
        id_col, F.explode(F.expr(_span_struct_sql(n))).alias("s")
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))

    w = Window.partitionBy("g")
    occ = grams.select(
        id_col,
        "pos",
        F.count("*").over(w).alias("_cnt"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).over(w).alias("_first"),
    )
    is_first = (F.col("_first")[id_col] == F.col(id_col)) & (
        F.col("_first")["pos"] == F.col("pos")
    )
    dup = occ.filter(F.col("_cnt") >= min_count).withColumn("_isfirst", is_first)

    # canonical protection: tokens inside a canonical occurrence are
    # never removed, even when an overlapping marked occurrence covers
    # them — this is what keeps one COMPLETE copy of every span content.
    # ``array_except`` IS the (distinct marked coverage) minus (distinct
    # canonical coverage) set difference, computed per doc in one
    # aggregation; ``collect_list`` drops the CASE's NULLs, so each side
    # sees exactly its own occurrences' positions. Docs whose marked
    # coverage is fully canonical-protected lose no tokens and are
    # filtered out here — they pass through the left join below
    # unchanged, exactly like docs with no duplicated spans at all.
    per_doc = (
        dup.groupBy(id_col)
        .agg(
            F.expr(
                "array_except("
                "flatten(transform(collect_list(CASE WHEN NOT _isfirst THEN pos END), "
                f"p -> sequence(p, p + {n - 1}))), "
                "flatten(transform(collect_list(CASE WHEN _isfirst THEN pos END), "
                f"p -> sequence(p, p + {n - 1}))))"
            ).alias("_removed")
        )
        .filter(F.size("_removed") > 0)
    )

    # the rebuild: kept indices in ascending order are
    # array_except(sequence(1, n_tokens), _removed) — sequence order is
    # preserved, membership is hash-set lookups — mapped through
    # element_at. A fully-removed doc yields an empty kept array and
    # emits '' (array_join of []); UNAFFECTED docs (no per_doc row) emit
    # their ORIGINAL text — including a NULL one (coalescing to ''
    # conflated a NULL doc with an empty doc; r10 adversarial sweep).
    # n_removed = size(_removed): every removed index lies in
    # [1, n_tokens] and the set is distinct by construction.
    out = (
        toks.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.when(F.col("_removed").isNull(), F.lit(0))
            .otherwise(F.size("_removed"))
            .cast("bigint")
            .alias("n_removed_tokens"),
            F.when(F.col("_removed").isNull(), F.col("_text"))
            .otherwise(
                F.expr(
                    "array_join(transform("
                    "array_except(sequence(1, n_tokens), _removed), "
                    "i -> element_at(_toks, i)), ' ')"
                )
            )
            .alias("cleaned_text"),
        )
    )
    return out


def cluster_aware_split(
    df: DataFrame,
    train_pct: int = 80,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "split",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_bucket_size: int | None = 1000,
    saturated_policy: str = "representative",
) -> DataFrame:
    """LEAKAGE-PROOF train/eval split: a plain id-hash split (the
    ``hash_split`` family) lets near-duplicate documents straddle the
    boundary — the classic train/test contamination that inflates every
    downstream eval. Here the split key is the document's near-dup
    CLUSTER representative (LSH candidate pairs -> connected components
    -> min-id ``cluster_id``; unclustered docs represent themselves),
    so an entire duplicate cluster always lands on one side.

    Membership stays a pure deterministic function of content-derived
    ids (portable md5 bucket of the representative + salt), so the
    split is stable under repartitioning, appends of unrelated docs,
    and engine changes — and fully oracle-checkable (the cluster step
    replays as a recursive-CTE transitive closure).

    Scale shape: LSH candidates are bucketed (never all-pairs), the
    component resolution is O(log diameter) rounds over the edge list,
    and attaching representatives is one id-keyed join of a
    (doc_id, cluster_id) frame that holds only CLUSTERED docs (AQE
    broadcasts it when small). Output: input rows + ``rep_id`` +
    ``split`` ('train' | 'eval').

    ``saturated_policy`` defaults to 'representative' HERE (unlike the
    raw candidate generator): a mega-cluster whose band buckets exceed
    ``max_bucket_size`` is exactly the highest-duplication content — a
    skip policy would emit no pairs for it and scatter the whole
    template cluster ~80/20 across the boundary, silently forfeiting
    the leakage guarantee for the content that needs it most. The
    representative pairing is linear (count/min aggregate, no
    collect_list), so the cap's OOM protection is intact."""
    from turbine_maintenance_etl_spark.ops.sampling import hash_bucket

    pairs = minhash_lsh_candidates(
        df,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        saturated_policy=saturated_policy,
    )
    # resolver output is (doc_id, cluster_id) regardless of id_col —
    # realign so the join works for any caller-chosen id column
    clusters = resolve_duplicate_clusters(pairs).withColumnRenamed("doc_id", id_col)
    rep = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return (
        df.join(clusters, id_col, "left")
        .withColumn("rep_id", rep)
        .withColumn(
            "split",
            F.when(hash_bucket(rep, 100, salt) < train_pct, F.lit("train")).otherwise(
                F.lit("eval")
            ),
        )
        .drop("cluster_id")
    )
