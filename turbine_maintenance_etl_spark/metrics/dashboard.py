"""Serving/dashboard queries — the reference's Streamlit pages
(scripts/streamlit_dashboard.py:16-183) and Power BI DAX measures
(dashboard/dax-measures) as reusable engine functions over the feature
and prediction tables.

These are thin compositions of the §2 operator library — grouped here so
the serving surface is one import. All stay fully distributed (two-level
aggs, no collect-then-pandas)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.util import quote_ident, select_sql


def fleet_overview(features: DataFrame) -> DataFrame:
    """Headline measures per dataset: engines, rows, avg/max RUL, avg
    lifetime (avg over per-unit max cycles — DAX AVERAGEX(SUMMARIZE...))."""
    per_unit = features.groupBy("dataset", "unit_nr").agg(
        F.max("time_cycles").alias("life")
    )
    lifetimes = per_unit.groupBy("dataset").agg(
        F.round(F.avg("life"), 2).alias("avg_lifetime"),
        F.round(F.expr("median(life)"), 2).alias("median_lifetime"),
    )
    overview = features.groupBy("dataset").agg(
        F.countDistinct("unit_nr").alias("n_engines"),
        F.count("*").alias("n_cycles"),
        F.round(F.avg("rul"), 2).alias("avg_rul"),
        F.max("rul").alias("max_rul"),
    )
    return overview.join(lifetimes, "dataset")


def critical_share(
    features: DataFrame, threshold: int = 30, warning: int = 60, watch: int = 120
) -> DataFrame:
    """Share of cycles in the critical RUL band (DAX CALCULATE ratio,
    dashboard/dax-measures:27-33), with the SWITCH(TRUE()) band split.

    All three band boundaries are parameters (r10 review: with only
    ``threshold`` exposed, any value >= 60 silently swallowed the
    hardcoded 'warning' band — the when-chain short-circuits), and they
    must ascend or the chain misclassifies."""
    if not threshold < warning < watch:
        raise ValueError(
            f"band boundaries must ascend: threshold={threshold} < "
            f"warning={warning} < watch={watch}"
        )
    band = (
        F.when(F.col("rul") < threshold, "critical")
        .when(F.col("rul") < warning, "warning")
        .when(F.col("rul") < watch, "watch")
        .otherwise("healthy")
    )
    from pyspark.sql import Window

    counts = (
        features.select(band.alias("band")).groupBy("band").agg(F.count("*").alias("n"))
    )
    # Share of total via an undeclared-partition (global) window — the
    # pattern this codebase otherwise treats as a scale red flag. It is
    # SAFE here, and only here, because the input is the already-
    # aggregated band-count frame: at most 4 rows (one per CASE band)
    # regardless of corpus size, so the SinglePartition exchange moves
    # <= 4 rows. The full-table aggregation above is where the data
    # volume was reduced. Do NOT copy this shape onto unaggregated
    # frames — use the quantile-bucketed ops in ops/rank.py instead.
    return counts.withColumn(
        "share", F.round(F.col("n") / F.sum("n").over(Window.partitionBy()), 6)
    )


def rul_distribution(features: DataFrame, bin_width: int = 25) -> DataFrame:
    """Histogram of RUL (A13 fixed-width binning)."""
    return (
        features.select((F.floor(F.col("rul") / bin_width) * bin_width).cast("int").alias("rul_bin"))
        .groupBy("rul_bin")
        .agg(F.count("*").alias("n"))
    )


def sensor_bounds(features: DataFrame, cols: list[str]) -> dict[str, tuple]:
    """(min, max) for MANY sensor columns in ONE aggregation pass —
    compute this once per dashboard render (or once per session and
    cache the dict) and feed each histogram its ``bounds``, so N
    histograms cost one stats scan instead of N. The aggregate is one
    SQL-text projection (``util.select_sql``), so building it costs the
    same py4j round trips for any number of sensors."""
    if not cols:
        return {}
    aggs = [f"{f}({quote_ident(c)})" for c in cols for f in ("min", "max")]
    row = select_sql(features, aggs).collect()[0]
    return {c: (row[2 * i], row[2 * i + 1]) for i, c in enumerate(cols)}


def sensor_histogram(
    features: DataFrame,
    col: str,
    bins: int = 30,
    bounds: tuple | None = None,
) -> DataFrame:
    """30-bin histogram of a sensor column with data-driven range
    (scripts/streamlit_dashboard.py:155-170). Pass ``bounds`` (lo, hi)
    — e.g. from one ``sensor_bounds`` pass over all rendered sensors —
    to make this a single scan; with ``bounds=None`` it falls back to
    its own bounded min/max stats fetch (one extra scan per render,
    the reference's two-pass behavior)."""
    v = F.col(quote_ident(col))
    lo, hi = bounds if bounds is not None else features.agg(F.min(v), F.max(v)).collect()[0]
    if lo is None or hi is None:
        # empty or all-NULL column: an EMPTY histogram, not a NoneType
        # comparison crash (r10 review)
        return features.sparkSession.createDataFrame([], "bucket int, n bigint")
    width = (hi - lo) / bins if hi > lo else 1.0
    bucket = F.least(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(bins - 1))
    return (
        features.select(bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def recent_predictions(preds: DataFrame, limit: int = 1000) -> DataFrame:
    """O2 top-k: latest predictions for the dashboard
    (scripts/streamlit_dashboard.py:43-49)."""
    return preds.orderBy(F.desc("prediction_date"), F.desc("id")).limit(limit)
