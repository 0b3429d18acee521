"""Consolidated suite entries: several registered originals, reshaped
into one tagged-union graded row.

Only the first ``GRADE_WINDOW`` (50) registry entries are graded. Each
suite here spends one window slot on a whole operator family; its
single-operator originals stay registered below the window, still
selfchecked and still run by ``tests/test_oracle.py``.

Most branches are DERIVED from an original, never restated. A branch is
one part ``(original entry, WHERE or None, [SQL select items])``, and
one parts list drives both engines:

* ``_parts_frame`` (Spark) calls each original's builder once, applies
  ``.filter(where)`` and ``.selectExpr(*items)``, and ``unionByName``s
  the parts;
* ``_parts_sql`` (DuckDB) emits
  ``SELECT items FROM (<original oracle>) [WHERE where]`` per part,
  joined with ``UNION ALL``.

The select items use SQL both engines accept (``CAST(x AS STRING)``,
``ROUND``, ``COUNT``), so each column mapping is written once and an
edit to an original reaches its suite on both sides.

A branch stays hand-written in both engines only where no registered
original emits the columns it reduces: the p3 constant probe (no
``tag`` column), the j2 keygen checksum (needs ``n_nationkey``), the a9
two-level aggregate (needs the customer count), the ``topk_recent``
branch (needs ``value``) and ``w_core_suite`` (its fused builder is the
one-exchange plan). ``dedup_graph_suite`` keeps its own builder, which
shares one clusters frame between both branches, but reads its select
items and its oracle from its parts list. ``a_stats_suite`` melts its
originals with ``_melt_oracle``. ``tests/test_suite_consistency.py``
pins every suite against its originals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# queries_ext registers the P1/P4/P10/P12/O1/A16 originals and imports
# queries_llm (the sim/text/dedup originals) before the parts lists
# below read their oracles
import turbine_maintenance_etl_spark.queries_ext  # noqa: F401
from turbine_maintenance_etl_spark.queries import REGISTRY, _t, register

# (original entry, WHERE or None, SQL select items)
Part = tuple[str, str | None, list[str]]


def _parts_sql(parts: list[Part]) -> str:
    """DuckDB half: each part selects from its original's oracle."""
    return "\nUNION ALL\n".join(
        f"SELECT {', '.join(items)} FROM (\n{REGISTRY[orig].oracle}\n)"
        + (f" WHERE {where}" if where else "")
        for orig, where, items in parts
    )


def _parts_frame(spark: SparkSession, sf_dir: str, parts: list[Part]) -> DataFrame:
    """Spark half: each part selects from its original's builder, which
    runs once per call even when it feeds several parts."""
    built: dict[str, DataFrame] = {}
    out = None
    for orig, where, items in parts:
        if orig not in built:
            built[orig] = REGISTRY[orig].fn(spark, sf_dir)
        df = built[orig] if where is None else built[orig].filter(where)
        df = df.selectExpr(*items)
        out = df if out is None else out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# P-family: projections / filters / casts (P1, P2, P5/P6, P7, P8, P10,
# P11, P12) — each branch is the original operator reduced to a
# deterministic (n, checksum, min, max) row so nine full-row results
# become one 9-row graded entry.
# ---------------------------------------------------------------------------

def _checksum(op: str, chk: str, s: str) -> list[str]:
    """(op, n, chk, smin, smax) items over all of an original's rows."""
    return [f"'{op}' AS op", "COUNT(*) AS n", f"{chk} AS chk",
            f"MIN({s}) AS smin", f"MAX({s}) AS smax"]


_P_CAST_PARTS: list[Part] = [
    ("p1_positional_truncation", None, _checksum(
        "p1_truncate", "ROUND(CAST(SUM(l_suppkey + l_linenumber) AS DOUBLE), 2)",
        "CAST(l_orderkey AS STRING)")),
    ("p2_projection", None, _checksum(
        "p2_project", "ROUND(SUM(l_quantity), 2)", "CAST(l_partkey AS STRING)")),
    ("p5_cast_projection", None, _checksum(
        "p5_cast", "ROUND(CAST(SUM(price_int) AS DOUBLE), 2)", "key_str")),
    # P6 counts the values that survived the lossy coercion
    ("p5_cast_projection", None, [
        "'p6_coerce' AS op", "COUNT(prio_num) AS n",
        "ROUND(COALESCE(SUM(prio_num), 0.0), 2) AS chk",
        "CAST(NULL AS STRING) AS smin", "CAST(NULL AS STRING) AS smax"]),
    ("p7_membership_filter", None, _checksum(
        "p7_membership", "ROUND(SUM(acctbal), 2)", "c_mktsegment")),
    ("p8_comparison_filter", None, _checksum(
        "p8_compare", "ROUND(SUM(value), 2)", "event_type")),
    ("p10_rename_projection", None, _checksum(
        "p10_rename", "ROUND(SUM(balance), 2)", "supplier_name")),
    ("p11_literal_tag", None, _checksum(
        "p11_tag", "ROUND(CAST(SUM(r_regionkey) AS DOUBLE), 2)", "dataset")),
    ("p12_regex_column_select", None, _checksum(
        "p12_colregex", "ROUND(CAST(SUM(l_suppkey) AS DOUBLE), 2)",
        "CAST(l_partkey AS STRING)")),
]


@register("p_projection_cast_suite", _parts_sql(_P_CAST_PARTS))
def p_projection_cast_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 positional truncation + P2 subset projection + P5 typed casts +
    P6 lossy coercion (try_cast → NULL) + P7 membership + P8 comparison
    filters + P10 rename + P11 literal tag + P12 regex column selection,
    each reduced to one deterministic checksum row (op, n, chk, smin,
    smax)."""
    return _parts_frame(spark, sf_dir, _P_CAST_PARTS)


# ---------------------------------------------------------------------------
# P3 + P4: data-dependent schema pruning (constant columns / all-null
# columns) in one probe table.
# ---------------------------------------------------------------------------

_P4_PARTS: list[Part] = [
    ("p4_allnull_detection", None, [
        "'allnull' AS probe", "col", "CAST(n_nonnull AS BIGINT) AS metric",
        "dropped AS flag"]),
]


@register(
    "p_schema_pruning_suite",
    """
    SELECT 'constant' AS probe, col, metric,
           CASE WHEN metric <= 1 THEN 1 ELSE 0 END AS flag
    FROM (
        SELECT 'o_orderstatus' AS col,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS metric FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(DISTINCT o_orderpriority) FROM orders
        UNION ALL
        SELECT 'tag', COUNT(DISTINCT 'fixed') FROM orders)
    UNION ALL
    """
    + _parts_sql(_P4_PARTS),
)
def p_schema_pruning_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (constant-column detection, the reference's
    ``nunique(dropna=True) <= 1`` pre-pass, probed with a literal
    ``tag`` column no original carries) + P4 (all-null column drop,
    ``dropna(axis=1, how='all')``, derived from p4_allnull_detection)
    as one probe table with the keep/drop flag as a checkable value."""
    const = (
        _t(spark, sf_dir, "orders")
        .withColumn("tag", F.lit("fixed"))
        .agg(
            F.countDistinct("o_orderstatus").alias("m_status"),
            F.countDistinct("o_orderpriority").alias("m_prio"),
            F.countDistinct("tag").alias("m_tag"),
        )
        .selectExpr(
            "stack(3, 'o_orderstatus', m_status, 'o_orderpriority', m_prio,"
            " 'tag', m_tag) AS (col, metric)"
        )
        .select(
            F.lit("constant").alias("probe"),
            "col",
            F.col("metric").cast("bigint").alias("metric"),
            F.when(F.col("metric") <= 1, 1).otherwise(0).alias("flag"),
        )
    )
    return const.unionByName(_parts_frame(spark, sf_dir, _P4_PARTS))


# ---------------------------------------------------------------------------
# J-family: J2 positional key-gen + left outer + semi + anti in one
# graded row (J1's broadcast equi-join keeps its own slot + plan pin).
# ---------------------------------------------------------------------------

_JOIN_PARTS: list[Part] = [
    ("j_left_outer_join", None, [
        "'left_outer' AS op", "COUNT(*) AS n", "ROUND(SUM(total_bal), 2) AS chk",
        "CAST(NULL AS STRING) AS key", "CAST(SUM(n_suppliers) AS DOUBLE) AS chk2"]),
    *(
        ("j_semi_anti_join", f"op = '{op}'", [
            f"'{op}' AS op", "COUNT(*) AS n",
            "ROUND(CAST(SUM(key) AS DOUBLE), 2) AS chk", "MIN(name) AS key",
            "CAST(NULL AS DOUBLE) AS chk2"])
        for op in ("semi", "anti")
    ),
]


@register(
    "j_join_suite",
    """
    SELECT 'j2_keygen' AS op, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(rn * n_nationkey) AS DOUBLE), 2) AS chk,
           MAX(CASE WHEN rn = 1 THEN n_name END) AS key,
           CAST(NULL AS DOUBLE) AS chk2
    FROM (SELECT n_name, n_nationkey,
                 CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT) AS rn
          FROM nation)
    UNION ALL
    """
    + _parts_sql(_JOIN_PARTS),
)
def j_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (order-pinned row_number key generation, the RUL-file line↔unit
    mapping) + left outer + semi + anti join strategies, each reduced to
    a checksum row. The rn*key product pins the positional mapping, not
    just the count, which is why J2 reads ``nation`` itself: its
    original does not emit ``n_nationkey``."""
    rn_frame = _t(spark, sf_dir, "nation").select(
        "n_name",
        "n_nationkey",
        F.row_number().over(Window.orderBy("n_nationkey")).cast("bigint").alias("rn"),
    )
    j2 = rn_frame.agg(
        F.lit("j2_keygen").alias("op"),
        F.count("*").alias("n"),
        F.round(F.sum(F.col("rn") * F.col("n_nationkey")).cast("double"), 2).alias("chk"),
        F.max(F.when(F.col("rn") == 1, F.col("n_name"))).alias("key"),
        F.lit(None).cast("double").alias("chk2"),
    )
    return j2.unionByName(_parts_frame(spark, sf_dir, _JOIN_PARTS))


# ---------------------------------------------------------------------------
# A-family: A1 grouped min/max/count + A9 two-level agg + A10
# conditional share + A16 summary statistics.
# ---------------------------------------------------------------------------

_AGG_PARTS: list[Part] = [
    ("a1_grouped_minmax", None, [
        "'a1_minmax' AS op", "'orders_by_cust' AS k", "COUNT(*) AS n",
        "ROUND(SUM(price_min), 2) AS v1", "ROUND(SUM(price_max), 2) AS v2",
        "CAST(SUM(n_orders) AS DOUBLE) AS v3"]),
    ("a10_conditional_share", None, [
        "'a10_share' AS op", "o_orderstatus AS k", "n", "big_share AS v1",
        "CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3"]),
    ("a16_summary_stats", None, [
        "'a16_describe' AS op", "col AS k", "n", "mean AS v1", "std AS v2",
        "max AS v3"]),
]


@register(
    "a_grouped_agg_suite",
    """
    SELECT 'a9_two_level' AS op, CAST(NULL AS STRING) AS k, COUNT(*) AS n,
           ROUND(AVG(mx), 4) AS v1, ROUND(AVG(cnt), 4) AS v2,
           CAST(NULL AS DOUBLE) AS v3
    FROM (SELECT o_custkey, MAX(o_totalprice) AS mx, COUNT(*) AS cnt
          FROM orders GROUP BY o_custkey)
    UNION ALL
    """
    + _parts_sql(_AGG_PARTS),
)
def a_grouped_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (grouped min/max/count, re-aggregated to a checksum over all
    customer groups) + A9 (two-level agg — DAX AVERAGEX over SUMMARIZE;
    hand-written because its original does not emit the customer count)
    + A10 (conditional share) + A16 (describe()-style summary stats)."""
    per_cust = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.max("o_totalprice").alias("mx"), F.count("*").alias("cnt")
    )
    a9 = per_cust.agg(
        F.lit("a9_two_level").alias("op"),
        F.lit(None).cast("string").alias("k"),
        F.count("*").alias("n"),
        F.round(F.avg("mx"), 4).alias("v1"),
        F.round(F.avg("cnt"), 4).alias("v2"),
        F.lit(None).cast("double").alias("v3"),
    )
    return a9.unionByName(_parts_frame(spark, sf_dir, _AGG_PARTS))


# ---------------------------------------------------------------------------
# W-family: W1 partition max + W2/W3 rolling means + W4 lag diff + W5
# z-score + W6/A4 last-per-group flag — ONE projection, two WindowSpecs
# sharing one hash exchange (the engine's single-WindowSpec rule).
# Hand-written in both engines: deriving it from the five originals
# would run five window plans, and the NaN-aware stddev exists only in
# the DuckDB SQL.
# ---------------------------------------------------------------------------

@register(
    "w_core_suite",
    """
    SELECT event_id, user_id,
           ROUND(MAX(value) OVER wp - value, 4) AS headroom,
           ROUND(AVG(value) OVER (wo ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
               AS mean5,
           ROUND(AVG(value) OVER (wo ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6)
               AS mean20,
           ROUND(value - LAG(value) OVER wo, 4) AS d_value,
           ROUND((value - AVG(value) OVER wp)
                 / NULLIF(CASE WHEN bool_or(isnan(value)) OVER wp THEN 'nan'::DOUBLE
                          ELSE STDDEV_POP(CASE WHEN NOT isnan(value) THEN value END)
                               OVER wp END, 0), 6) AS z_value,
           CASE WHEN ROW_NUMBER() OVER wo = COUNT(*) OVER wp THEN 1 ELSE 0 END
               AS is_last
    FROM events
    WINDOW wp AS (PARTITION BY user_id),
           wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w_core_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (unbounded partition max — the RUL pattern) + W2/W3 (rolling
    means 5/20) + W4 (lag diff) + W5 (population z-score, zero-variance →
    NULL) + W6/A4 (last-row-per-group as an is_last flag: row_number ==
    partition count) in ONE projection. Both WindowSpecs share the
    user_id partitioning, so the whole family runs off a single hash
    exchange."""
    e = _t(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    z = (F.col("value") - F.avg("value").over(wp)) / F.nullif(
        F.stddev_pop("value").over(wp), F.lit(0.0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.max("value").over(wp) - F.col("value"), 4).alias("headroom"),
        F.round(F.avg("value").over(wo.rowsBetween(-4, 0)), 6).alias("mean5"),
        F.round(F.avg("value").over(wo.rowsBetween(-19, 0)), 6).alias("mean20"),
        F.round(F.col("value") - F.lag("value", 1).over(wo), 4).alias("d_value"),
        F.round(z, 6).alias("z_value"),
        F.when(
            F.row_number().over(wo) == F.count("*").over(wp), 1
        ).otherwise(0).alias("is_last"),
    )


# ---------------------------------------------------------------------------
# O-family: composite sort + top-k by value + top-k by recency + limit —
# every branch LIMIT-bounded so Catalyst plans TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_ORDER_PARTS: list[Part] = [("o1_composite_sort", None, ["*"])]


@register(
    "o_order_limit_suite",
    _parts_sql(_ORDER_PARTS)
    + """
    UNION ALL
    SELECT * FROM (
        SELECT 'topk_recent' AS src, event_id AS k1,
               CAST(CAST(epoch_us(ts) AS BIGINT) AS VARCHAR) AS k2,
               ROUND(value, 2) AS price
        FROM events ORDER BY ts DESC, event_id DESC LIMIT 100)
    """,
)
def o_order_limit_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (composite unit,cycle-style sort) + O3/O4 (top-k by value,
    head/limit) — exactly o1_composite_sort's rows — + O2 (top-k by
    timestamp, hand-written: o2_topk_recent does not emit ``value``).
    All three branches are LIMIT-bounded sorts → TakeOrderedAndProject,
    never a global sort."""
    topk_recent = (
        _t(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .select(
            F.lit("topk_recent").alias("src"),
            F.col("event_id").alias("k1"),
            F.unix_micros("ts").cast("string").alias("k2"),
            F.round("value", 2).alias("price"),
        )
    )
    return _parts_frame(spark, sf_dir, _ORDER_PARTS).unionByName(topk_recent)


# ---------------------------------------------------------------------------
# Round-5 window compaction (WINDOW_CHANGELOG.md entry r5): suites that
# UNION the original builders' full row-level output (tagged, columns
# aligned) — no checksum reduction, so per-row graded evidence is
# preserved. The freed slots promoted the round-4 flagship entries into
# the graded window.
# ---------------------------------------------------------------------------

_SIM_PARTS: list[Part] = [
    (orig, None, [f"'{variant}' AS variant", "*"])
    for variant, orig in (
        ("brute", "sim_brute_force_topk"),
        ("lsh", "sim_lsh_topk"),
        ("multiprobe", "sim_multiprobe_topk"),
    )
]


@register("sim_topk_suite", _parts_sql(_SIM_PARTS))
def sim_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-search top-k family in one graded row: the guarded
    brute-force cosine baseline, single-probe SRP-LSH, and multi-probe
    SRP-LSH (Hamming-1 probe expansion) — identical output schemas
    tagged by variant, each branch exactly the original entry's rows
    (same fixed seeded hyperplanes embedded in both engines). The IVF /
    PQ / IVF-PQ cousins carry their own rows-only entries (iterative
    k-means is not SQL-expressible)."""
    return _parts_frame(spark, sf_dir, _SIM_PARTS)


_EVENTS_WINDOW_PARTS: list[Part] = [
    ("events_tumbling_window", None, [
        "'tumbling' AS variant", "win5m AS k1", "event_type AS k2",
        "CAST(NULL AS BIGINT) AS k3", "n", "total_value"]),
    ("events_session_window", None, [
        "'session' AS variant", "user_id AS k1",
        "CAST(session_start_us AS STRING) AS k2", "session_end_us AS k3",
        "n_events AS n", "total_value"]),
]


@register("events_window_suite", _parts_sql(_EVENTS_WINDOW_PARTS))
def events_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowing family in one graded row: the 5-minute
    tumbling aggregation (batch twin of the streaming path) + native
    session windows (30-min gap, streaming/ingest.py plan fragment) —
    full row output of both originals, columns aligned
    (variant, k1, k2, k3, n, total_value)."""
    return _parts_frame(spark, sf_dir, _EVENTS_WINDOW_PARTS)


_TEXT_PARTS: list[Part] = [
    ("text_chunking", None, [
        "'chunk' AS variant", "doc_id", "chunk_id AS k1",
        "CAST(chunk_tokens AS BIGINT) AS k2", "chunk_text AS s"]),
    ("text_pii_redaction", None, [
        "'pii' AS variant", "doc_id", "n_emails AS k1", "n_phones AS k2",
        "redacted_md5 AS s"]),
]


@register("text_pipeline_suite", _parts_sql(_TEXT_PARTS))
def text_pipeline_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow text-transform family in one graded row: the 64/8
    overlapping token-window chunker + the PII redaction proof (counts
    AND md5 of the fully redacted text on synthetic injected PII) —
    full row output of both originals, aligned to
    (variant, doc_id, k1, k2, s). Both are zero-shuffle narrow maps."""
    return _parts_frame(spark, sf_dir, _TEXT_PARTS)


_DEDUP_PARTS: list[Part] = [
    ("dedup_cluster_resolution", None, [
        "'clusters' AS variant", "doc_id", "cluster_id AS k",
        "CAST(NULL AS STRING) AS s"]),
    ("dedup_neardup_survivors", None, [
        "'survivors' AS variant", "doc_id", "CAST(NULL AS BIGINT) AS k",
        "source AS s"]),
]


@register("dedup_graph_suite", _parts_sql(_DEDUP_PARTS))
def dedup_graph_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pair graph resolution family in one graded row: connected-
    component cluster ids (iterative min-label propagation with pointer
    jumping, vs the oracle's recursive-CTE transitive closure) + the
    kept corpus after collapsing each cluster to its min-id survivor.
    The clusters frame is computed ONCE (localCheckpointed by the
    resolver) and feeds both branches — strictly cheaper than calling
    the two originals, which would each run the connected-components
    loop."""
    from turbine_maintenance_etl_spark.llm import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    clusters = DD.resolve_duplicate_clusters(DD.minhash_lsh_candidates(docs))
    (_, _, c_items), (_, _, s_items) = _DEDUP_PARTS
    survivors = DD.neardup_survivors(docs, clusters)
    return clusters.selectExpr(*c_items).unionByName(survivors.selectExpr(*s_items))


_GROUPING_PARTS: list[Part] = [
    ("agg_rollup_cube", None, ["'grouping' AS variant", "*"]),
    *(
        ("agg_pivot", None, [
            "'pivot' AS variant", "'pivot' AS src", "l_returnflag AS d1",
            f"'{status}' AS d2", "CAST(-1 AS BIGINT) AS gid",
            "CAST(NULL AS BIGINT) AS n", f"qty_{status} AS measure"])
        for status in ("O", "F")
    ),
]


@register("agg_grouping_suite", _parts_sql(_GROUPING_PARTS))
def agg_grouping_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets family in one graded row (round-5 third
    compaction): ROLLUP + CUBE with grouping_id (agg_rollup_cube's full
    row output, variant 'grouping') and the PIVOT entry's rows melted
    to the same (src, d1, d2, gid, n, measure) shape (variant 'pivot',
    one row per pivoted cell — no checksum reduction, the cell values
    ARE the rows)."""
    return _parts_frame(spark, sf_dir, _GROUPING_PARTS)


def _melt_oracle(variant: str, sql: str, keys: list[str], metrics: list[str]) -> str:
    """Melt a wide oracle SELECT to (variant, k1, k2, metric, value)
    rows — one row per cell, exact values (counts are exact as
    doubles at these magnitudes; rounded doubles pass through)."""
    k1 = keys[0] if len(keys) > 0 else "CAST(NULL AS VARCHAR)"
    k2 = keys[1] if len(keys) > 1 else "CAST(NULL AS VARCHAR)"
    parts = [
        f"SELECT '{variant}' AS variant, CAST({k1} AS VARCHAR) AS k1, "
        f"CAST({k2} AS VARCHAR) AS k2, '{m}' AS metric, "
        f"CAST({m} AS DOUBLE) AS value FROM _w_{variant}"
        for m in metrics
    ]
    return f"WITH _w_{variant} AS ({sql})\n" + "\nUNION ALL\n".join(parts)


_STATS_SUITE_PARTS = [
    # (variant, original entry, key columns, metric columns)
    ("a5a7", "a5_a7_distinct_global_stats", [],
     ["n_rows", "n_parts", "n_supps", "n_orders", "price_max", "price_min",
      "price_avg", "price_std_pop", "price_std_samp"]),
    ("a11", "a11_grouped_error_metrics", ["event_type"],
     ["n", "mae", "rmse", "mean_value"]),
    ("a12a14", "a12_a14_quantile_corr", [],
     ["qty_median", "price_p25", "price_p75", "corr_price_qty",
      "corr_price_disc"]),
    ("a13a15", "a13_a15_histogram_binning", ["scheme", "bucket"],
     ["n", "avg_price"]),
]


@register(
    "a_stats_suite",
    "\nUNION ALL\n".join(
        f"SELECT * FROM ({_melt_oracle(v, REGISTRY[orig].oracle, ks, ms)})"
        for v, orig, ks, ms in _STATS_SUITE_PARTS
    ),
)
def a_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate family in one graded row (round-6 second
    compaction): distinct/global stats (A5-A8), grouped error metrics
    (A11), median/quantile/correlation (A12/A14), and histogram/CASE
    binning (A13/A15/F7) — each original entry's full output MELTED to
    (variant, k1, k2, metric, value) rows, one row per cell, so
    per-cell evidence is preserved exactly (values keep the originals'
    rounding; the counts are exact as doubles). The four originals
    remain registered below the window; a consistency differential
    pins each melted branch against its original."""
    out = None
    for variant, orig, keys, metrics in _STATS_SUITE_PARTS:
        wide = REGISTRY[orig].fn(spark, sf_dir)
        ids = [F.col(k).cast("string").alias(f"_k{i+1}") for i, k in enumerate(keys)]
        while len(ids) < 2:
            ids.append(F.lit(None).cast("string").alias(f"_k{len(ids)+1}"))
        melted = (
            wide.select(*ids, *[F.col(m).cast("double").alias(m) for m in metrics])
            .unpivot(
                ["_k1", "_k2"], metrics, "metric", "value"
            )
            .select(
                F.lit(variant).alias("variant"),
                F.col("_k1").alias("k1"),
                F.col("_k2").alias("k2"),
                "metric",
                "value",
            )
        )
        out = melted if out is None else out.unionByName(melted)
    return out
