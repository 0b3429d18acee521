"""Window-function feature engine (SURVEY.md §2.5 W1-W5 + §2.2 P3).

This is the analytical core of the reference (pandas at
scripts/etl_turbofan.py:22-42, dbt SQL at
turbine_etl_dbt/models/fct_cycles_features.sql:10-50), rebuilt as ONE
Spark job:

- RUL:        max(time_cycles) over unit  -  time_cycles            (W1)
- mean{w}_c:  trailing rolling avg, ROWS w-1 PRECEDING..CURRENT     (W2/W3)
              == pandas rolling(w, min_periods=1) (short head frames)
- d_c:        c - lag(c) over unit order; NULL on each first row    (W4)
- z_c:        (c - avg over unit) / stddev_pop over unit            (W5)
              ddof=0 (== pandas std(ddof=0)); zero variance -> NULL

Scale design: every expression shares a single Window partitioning
``(dataset, unit_nr)`` — Catalyst collapses all same-spec window ops into
one WindowExec after ONE shuffle+sort, so the whole feature table costs a
single exchange regardless of sensor count. The parallel grain is the
engine unit (100-550 rows each), which stays balanced at any corpus size;
no global sort is ever taken.

The unified output resolves the reference's dbt-vs-Python column split
(SURVEY.md §3.2): one table carrying rolling means, diffs, z-scores, rul.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.schema.cmapss import sensor_columns
from turbine_maintenance_etl_spark.util import quote_ident, select_sql

KEY_COLS = ("dataset", "unit_nr", "time_cycles")


def _constant_stats(df: DataFrame, candidates: list[str]) -> DataFrame:
    """The one-row (min, max, count) frame ``constant_columns`` collects:
    ``_mn_<c>``, ``_mx_<c>``, ``_n_<c>`` per candidate, NaN counted as
    NULL on float columns."""
    from pyspark.sql.types import DoubleType, FloatType

    aggs = []
    for c in candidates:
        v = quote_ident(c)
        # dropna parity for float columns (r10 review): pandas nunique
        # (dropna=True) DROPS NaN, but Spark's min/max rank it greatest,
        # so {5.0, NaN} read as two values (mn=5.0, mx=NaN) and a
        # one-real-value-plus-NaN sensor was kept where the reference
        # drops it. Nullifying NaN up front makes min/max skip it
        # exactly like NULL.
        if isinstance(df.schema[c].dataType, (FloatType, DoubleType)):
            v = f"CASE WHEN NOT isnan({v}) THEN {v} END"
        aggs += [
            f"min({v}) AS {quote_ident(f'_mn_{c}')}",
            f"max({v}) AS {quote_ident(f'_mx_{c}')}",
            f"count({v}) AS {quote_ident(f'_n_{c}')}",
        ]
    return select_sql(df, aggs)


def constant_columns(df: DataFrame, candidates: list[str]) -> list[str]:
    """Columns with <= 1 distinct non-null value — the reference's
    constant-sensor drop (``nunique(dropna=True) <= 1``,
    scripts/etl_turbofan.py:74-78). Detected via (min, max, count) per
    candidate — NOT countDistinct: Catalyst rewrites N distinct
    aggregates through an Expand that replicates every input row N
    times into the shuffle (~21x the scan just to detect constants at
    corpus scale), while min/max/count stay one plain map-side-combined
    pass. ``count==0`` (all NULL) or ``min==max`` (one value, NULLs
    ignored) is exactly ``nunique(dropna=True) <= 1``."""
    if not candidates:
        return []
    row = _constant_stats(df, candidates).collect()[0]

    def _const(c: str) -> bool:
        # count==0: all values were NULL or NaN -> nunique(dropna)==0
        # mn==mx: one distinct non-NaN value (None==None covers the
        # impossible-by-construction residue)
        return row[f"_n_{c}"] == 0 or row[f"_mn_{c}"] == row[f"_mx_{c}"]

    return [c for c in candidates if _const(c)]


def all_null_columns(df: DataFrame, candidates: list[str]) -> list[str]:
    """P4: columns whose every value is NULL (``dropna(axis=1,
    how="all")``, reference scripts/etl_turbofan.py dropna pre-pass).
    Same one-pass shape as ``constant_columns``: ``count(col)`` skips
    NULLs, so one aggregation job over all candidates answers every
    column at once."""
    if not candidates:
        return []
    row = select_sql(df, [f"count({quote_ident(c)})" for c in candidates]).collect()[0]
    return [c for c, n in zip(candidates, row) if n == 0]


def variable_sensor_intersection(dfs: dict[str, DataFrame]) -> list[str]:
    """Sorted intersection of each dataset's variable (non-constant)
    sensors — the multi-dataset schema-consistency pre-pass
    (scripts/etl_turbofan.py:175-206, intersection at 201, sort at 204).
    Driver-side set math over one (min, max, count) agg per dataset
    (``constant_columns``)."""
    kept: set[str] | None = None
    for name, df in dfs.items():
        sensors = sensor_columns(df.columns)
        variable = set(sensors) - set(constant_columns(df, sensors))
        if not variable and not df.take(1):
            # an EMPTY train frame makes every sensor read as constant
            # and would silently empty the intersection for EVERY
            # dataset — a truncated file must fail the run, not strip
            # all sensor features from the whole feature table
            raise ValueError(
                f"dataset {name!r}: train input has no rows — refusing to "
                "treat an empty file as 'all sensors constant'"
            )
        kept = variable if kept is None else (kept & variable)
    return sorted(kept or [], key=lambda c: int(c.removeprefix("sensor")))


def rul_expr(order_col: str, over: str) -> str:
    """The single RUL definition (per-partition max cycle minus current
    cycle, int) shared by ``add_rul`` and ``build_features`` — one
    place to change if the semantics ever move (r10 review: the
    expression previously lived in both, free to drift). SQL text;
    ``over`` is the window's ``PARTITION BY ...`` clause."""
    o = quote_ident(order_col)
    return f"CAST(max({o}) OVER ({over}) - {o} AS INT)"


def _partition_by(partition_cols: tuple[str, ...]) -> str:
    return "PARTITION BY " + ", ".join(quote_ident(c) for c in partition_cols)


def add_rul(df: DataFrame, partition_cols: tuple[str, ...] = ("dataset", "unit_nr")) -> DataFrame:
    """W1: remaining useful life = per-unit max cycle minus current cycle
    (scripts/etl_turbofan.py:22-24; fct_cycles_features.sql:23-26)."""
    return df.withColumn("rul", F.expr(rul_expr("time_cycles", _partition_by(partition_cols))))


def build_features(
    df: DataFrame,
    sensors: list[str] | None = None,
    windows: tuple[int, ...] = (5, 20),
    partition_cols: tuple[str, ...] = ("dataset", "unit_nr"),
    order_col: str = "time_cycles",
    include_settings: bool = True,
) -> DataFrame:
    """Engineered feature table at grain (dataset, unit_nr, time_cycles).

    All window expressions share one partitioning, so the physical plan is
    scan -> ONE exchange on (dataset, unit_nr) -> sort within partitions
    -> one WindowExec chain -> project. Verified via explain() in
    tests/test_explain_plans.py.
    """
    if sensors is None:
        sensors = sensor_columns(df.columns)

    # SQL text in one projection, not a Column per expression: each
    # Column operator is a py4j round trip, while one parsed string is
    # not (the measurement behind llm.text.tokens_sql); same analyzed plan.
    unbounded = _partition_by(partition_cols)
    ordered = f"{unbounded} ORDER BY {quote_ident(order_col)}"

    exprs = [
        quote_ident(c) for c in df.columns if include_settings or not c.startswith("setting")
    ]
    exprs.append(f"{rul_expr(order_col, unbounded)} AS rul")
    for c in sensors:
        q = quote_ident(c)
        for wlen in windows:
            start = f"{wlen - 1} PRECEDING" if wlen != 1 else "CURRENT ROW"
            exprs.append(
                f"avg({q}) OVER ({ordered} ROWS BETWEEN {start} AND CURRENT ROW)"
                f" AS {quote_ident(f'mean{wlen}_{c}')}"
            )
        exprs.append(f"{q} - lag({q}, 1) OVER ({ordered}) AS {quote_ident(f'd_{c}')}")
        # stddev_pop (ddof=0), NOT Spark's default sample stddev; NULLif
        # guards zero-variance stretches -> NULL (SURVEY.md §7.4.2). The
        # 0.0D is a DOUBLE literal (a bare 0.0 parses as DECIMAL).
        exprs.append(
            f"({q} - avg({q}) OVER ({unbounded}))"
            f" / nullif(stddev_pop({q}) OVER ({unbounded}), 0.0D) AS {quote_ident(f'z_{c}')}"
        )
    return select_sql(df, exprs)


def units_summary(df: DataFrame, partition_cols: tuple[str, ...] = ("dataset", "unit_nr")) -> DataFrame:
    """A1: per-unit min/max/count of cycles (scripts/etl_turbofan.py:130-133).
    Computed over the FULL multi-dataset union — the reference's
    replace-per-iteration bug (last dataset only) is intentionally not
    reproduced (SURVEY.md §7.4.5)."""
    return df.groupBy(*partition_cols).agg(
        F.min("time_cycles").alias("cycles_min"),
        F.max("time_cycles").alias("cycles_max"),
        F.count("time_cycles").alias("cycles_count"),
    )
