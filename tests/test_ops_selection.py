"""Differential pins for ops/selection.exact_percentiles: the
distributed order-statistic selection must reproduce Spark's exact
``percentile`` aggregate VALUE-IDENTICALLY (same interpolation doubles)
on every distribution shape that stresses the histogram refinement —
ties, clusters, negatives, tiny n, interpolation on/off rank, and the
bounded-collect and multi-round paths."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.ops.selection import exact_percentiles

PCTS = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]


def _native(spark, vals, pcts):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    row = df.agg(
        F.percentile("v", F.array(*[F.lit(p) for p in pcts])).alias("p")
    ).collect()[0]
    return list(row["p"])


def _check(spark, vals, pcts=PCTS, **kw):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = exact_percentiles(df, "v", pcts, **kw)
    want = _native(spark, vals, pcts)
    assert got == want, f"{got} != {want} on n={len(vals)}"


def test_uniform_random_matches_native(spark):
    rng = random.Random(7)
    _check(spark, [rng.uniform(-1e3, 1e3) for _ in range(5000)])


def test_heavy_ties_and_clusters(spark):
    rng = random.Random(11)
    vals = (
        [42.0] * 2000                      # one dominant tie
        + [rng.gauss(-500, 0.01) for _ in range(500)]   # tight cluster
        + [rng.gauss(500, 0.01) for _ in range(500)]    # far cluster
        + [rng.uniform(-1, 1) for _ in range(100)]
    )
    _check(spark, vals)


def test_small_n_every_size(spark):
    rng = random.Random(13)
    for n in (1, 2, 3, 4, 7):
        _check(spark, [rng.uniform(-5, 5) for _ in range(n)])


def test_all_equal_column(spark):
    _check(spark, [3.25] * 1000)


def test_collect_threshold_path(spark):
    """Force the bounded-collect resolution (threshold > n)."""
    rng = random.Random(17)
    _check(spark, [rng.uniform(0, 1) for _ in range(300)],
           collect_threshold=10_000)


def test_multi_round_refinement_path(spark):
    """Force several histogram rounds (threshold 1: intervals must
    shrink to all-equal before resolving)."""
    rng = random.Random(19)
    _check(spark, [rng.uniform(0, 1) for _ in range(800)],
           pcts := [0.5], collect_threshold=1, max_rounds=64)


def test_max_rounds_zero_fallback_bit_identical(spark):
    """max_rounds=0 sends every rank through the fallback. These sizes
    need ranks r whose p = r/(n-1) does not round-trip in doubles
    (n=300: r=224, 225; n=1000: r=250, 500), where a native percentile
    at p interpolates next to the order statistic instead of on it."""
    rng = random.Random(23)
    for n in (300, 1000):
        _check(spark, [rng.uniform(-1e3, 1e3) for _ in range(n)], max_rounds=0)


def test_empty_and_null_only(spark):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    assert exact_percentiles(df, "v", [0.5]) == [None]
    assert exact_percentiles(df.filter("v is not null"), "v", [0.5]) == [None]


def test_nan_falls_back_to_native(spark):
    vals = [1.0, 2.0, float("nan"), 3.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = exact_percentiles(df, "v", [0.5])
    want = _native(spark, vals, [0.5])
    assert got == want and (got[0] == want[0] or (math.isnan(got[0]) and math.isnan(want[0])))


def test_entry_matches_native_form(spark):
    """The rewired a12_a14 entry must produce the identical row the
    native-percentile form produced (sf0.001)."""
    from turbine_maintenance_etl_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["a12_a14_quantile_corr"].fn(spark, sf).collect()[0].asDict()
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    pp = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.75)))
    want = li.agg(
        F.round(F.median("l_quantity"), 4).alias("qty_median"),
        F.round(pp[0], 4).alias("price_p25"),
        F.round(pp[1], 4).alias("price_p75"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_price_qty"),
        F.round(F.corr("l_extendedprice", "l_discount"), 4).alias("corr_price_disc"),
    ).collect()[0].asDict()
    assert got == want
