"""Dashboard/DAX metrics layer over the feature table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_cmapss_pdf
from turbine_maintenance_etl_spark.features.engine import all_null_columns, build_features
from turbine_maintenance_etl_spark.metrics.dashboard import (
    critical_share,
    fleet_overview,
    rul_distribution,
    sensor_bounds,
    sensor_histogram,
)
from turbine_maintenance_etl_spark.util import quote_ident


@pytest.fixture(scope="module")
def features(spark):
    df = spark.createDataFrame(make_cmapss_pdf(n_units=6, seed=21, min_len=40, max_len=90))
    return build_features(df, sensors=["sensor2"]).cache()


def test_fleet_overview(features):
    row = fleet_overview(features).collect()[0]
    assert row["n_engines"] == 6
    assert row["n_cycles"] == features.count()
    # avg lifetime equals avg of per-unit max cycles
    assert 40 <= row["avg_lifetime"] <= 90
    assert row["max_rul"] == row["avg_lifetime"] * 0 + features.agg(F.max("rul")).collect()[0][0]


def test_critical_share_sums_to_one(features):
    rows = critical_share(features).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-6
    assert {r["band"] for r in rows} <= {"critical", "warning", "watch", "healthy"}


def test_rul_distribution_covers_all_rows(features):
    dist = rul_distribution(features)
    assert dist.agg(F.sum("n")).collect()[0][0] == features.count()
    assert dist.filter(F.col("rul_bin") % 25 != 0).count() == 0


def test_sensor_histogram_bins(features):
    hist = sensor_histogram(features, "sensor2", bins=10)
    rows = hist.collect()
    assert sum(r["n"] for r in rows) == features.count()
    assert all(0 <= r["bucket"] <= 9 for r in rows)


def test_sensor_histogram_shared_bounds_single_stats_pass(features):
    """One sensor_bounds pass feeds N histograms: identical counts to
    the self-computed-bounds path, and the bounds-fed histogram plan
    contains no extra aggregate of the input (single scan)."""
    from turbine_maintenance_etl_spark.metrics.dashboard import sensor_bounds

    bounds = sensor_bounds(features, ["sensor2", "sensor3"])
    for col in ("sensor2", "sensor3"):
        with_bounds = sensor_histogram(features, col, bins=10, bounds=bounds[col])
        self_computed = sensor_histogram(features, col, bins=10)
        assert sorted(map(tuple, with_bounds.collect())) == sorted(
            map(tuple, self_computed.collect())
        )
    # the bounds-fed plan is ONE aggregation over the scan (the bucket
    # count) — no second min/max aggregate anywhere
    plan = sensor_histogram(features, "sensor2", bins=10, bounds=bounds["sensor2"])
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert s.count("HashAggregate") <= 2  # partial + final of the count


@pytest.mark.parametrize(
    "fn, expected",
    [
        (lambda df: all_null_columns(df, df.columns), ["p.q"]),
        (
            lambda df: sensor_bounds(df, df.columns),
            {"x`y": (1.0, 3.0), "p.q": (None, None), "a b": (4.0, 8.0)},
        ),
        (
            lambda df: {c: sorted(map(tuple, sensor_histogram(df, c, bins=2).collect()))
                        for c in df.columns},
            {"x`y": [(0, 1), (1, 2)], "p.q": [], "a b": [(0, 2), (1, 1)]},
        ),
    ],
    ids=["all_null_columns", "sensor_bounds", "sensor_histogram"],
)
def test_column_names_are_quoted(spark, fn, expected):
    """A backtick, a dot or a space in a column name is part of the name,
    never SQL syntax or a struct-field path."""
    names = ["x`y", "p.q", "a b"]
    df = spark.createDataFrame(
        [(1.0, None, 4.0), (3.0, None, 4.0), (2.0, None, 8.0)],
        ", ".join(f"{quote_ident(c)} double" for c in names),
    )
    assert df.columns == names
    assert fn(df) == expected
