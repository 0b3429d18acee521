"""Distributed EXACT percentiles — order-statistic selection without a
single-buffer value map.

Spark's exact ``percentile``/``median`` aggregate keeps a value->count
map per aggregation buffer and merges every map into ONE buffer that is
sorted single-threaded. On distinct-heavy columns that is the engine's
one §2 primitive with an executor-memory cliff (SCALING.md): O(distinct)
bytes in one JVM and O(distinct log distinct) serial time. This module
computes the SAME doubles (Spark's interpolation, reproduced exactly)
with the classic distributed selection algorithm:

1. one aggregate pass: count / min / max (+ NaN guard);
2. the percentile positions ``p * (n-1)`` need at most two ORDER
   STATISTICS each (floor/ceil ranks); each rank is located by
   iterative HISTOGRAM REFINEMENT — one map-side-aggregated pass per
   round computes per-bin counts + observed min/max over the active
   value intervals, the driver walks cumulative counts (<= intervals x
   1024 rows collected, never row data), and each rank's interval
   shrinks to its containing bin's OBSERVED [min, max];
3. a rank resolves when its interval collapses (all values equal) or
   its row count fits ``collect_threshold`` — then one bounded collect
   sorts the survivors and indexes the exact rank.

Bin assignment is monotone in the value (floor of an affine map, both
floating-point-monotone), so per-bin counts partition the sorted order
exactly — the rank bookkeeping is exact regardless of how floating
binning skews bin sizes. Convergence: each round's interval is the
observed min/max of a strict subset whenever the histogram separates
anything; pathological clusters (many distinct values within ulps) are
cut off by ``max_rounds`` and fall back to a distributed sort of the
FILTERED interval (<= the previous round's row count) that fetches the
rank's row by offset. NaN inputs (which Spark orders greatest) take
Spark's native percentile rather than poisoning the arithmetic of the
histogram map.

Callers' DataFrames become partly EAGER: ``exact_percentiles`` runs its
passes and collects when it is called, and returns plain floats, so a
query builder that uses it (e.g. ``a12_a14_quantile_corr``) executes
those jobs at construction time and embeds the results as literals.

Driver payload per round: <= (#distinct intervals) x bins count rows —
O(KB); the final collect is <= collect_threshold doubles per rank.
At 100 TB / 1e12 rows: ceil(log_1024(1e12 / 8192)) = 3 refinement
passes, each a narrow scan + map-side aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BINS = 1024


def exact_percentiles(
    df: DataFrame,
    col: str,
    percentages: list[float],
    collect_threshold: int = 8192,
    max_rounds: int = 8,
) -> list[float | None]:
    """Exact percentiles of a numeric column — value-identical to
    ``F.percentile(col, percentages)`` (Spark's linear interpolation
    between the floor/ceil order statistics, same double arithmetic),
    computed with bounded executor AND driver memory. Returns one float
    per requested percentage (``None`` for an empty/all-NULL column,
    like the native aggregate)."""
    base = df.select(F.col(col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    head = base.agg(
        F.count("*").alias("n"),
        F.min("_v").alias("mn"),
        F.max("_v").alias("mx"),
        F.sum(F.when(F.isnan("_v"), 1).otherwise(0)).alias("nnan"),
    ).collect()[0]
    n = int(head["n"] or 0)
    if n == 0:
        return [None for _ in percentages]
    if int(head["nnan"] or 0) > 0:
        return _native(base, percentages)
    positions = [p * (n - 1) for p in percentages]
    ranks = sorted({r for q in positions for r in (math.floor(q), math.ceil(q))})
    values = _order_stats(
        base, ranks, float(head["mn"]), float(head["mx"]), n,
        collect_threshold, max_rounds,
    )
    out: list[float | None] = []
    for q in positions:
        lo, hi = math.floor(q), math.ceil(q)
        if lo == hi:
            out.append(values[lo])
        else:
            # Spark Percentile.getPercentile's exact expression
            out.append((hi - q) * values[lo] + (q - lo) * values[hi])
    return out


def _native(base: DataFrame, percentages: list[float]) -> list[float | None]:
    arr = F.percentile(
        "_v", F.array(*[F.lit(float(p)) for p in percentages])
    )
    row = base.agg(arr.alias("_p")).collect()[0]
    return list(row["_p"]) if row["_p"] is not None else [None] * len(percentages)


def _order_stats(
    base: DataFrame,
    ranks: list[int],
    mn: float,
    mx: float,
    n: int,
    collect_threshold: int,
    max_rounds: int,
) -> dict[int, float]:
    """{rank: value} for 0-based ranks of the sorted column."""
    resolved: dict[int, float] = {}
    # rank -> (interval_lo, interval_hi, offset_within_interval, count)
    state: dict[int, tuple[float, float, int, int]] = {
        r: (mn, mx, r, n) for r in ranks
    }
    for _ in range(max_rounds):
        for r, (lo, hi, off, cnt) in list(state.items()):
            if lo == hi:
                resolved[r] = lo
                del state[r]
        if not state:
            return resolved
        small = {r: s for r, s in state.items() if s[3] <= collect_threshold}
        if small:
            _collect_resolve(base, small, resolved)
            for r in small:
                del state[r]
        if not state:
            return resolved
        intervals = sorted({(s[0], s[1]) for s in state.values()})
        hist = _histogram(base, intervals)
        for r, (lo, hi, off, cnt) in list(state.items()):
            iid = intervals.index((lo, hi))
            cum = 0
            for b in range(_BINS):
                c, bmin, bmax = hist.get((iid, b), (0, None, None))
                if off < cum + c:
                    state[r] = (bmin, bmax, off - cum, c)
                    break
                cum += c
            else:  # bookkeeping can't miss — counts sum to cnt
                raise AssertionError("rank offset exceeded interval count")
    # pathological residue (max_rounds hit: e.g. huge clusters of
    # distinct values within ulps): fetch the off-th order statistic of
    # the SHRUNKEN slice directly — a distributed sort of at most the
    # last round's interval count, one row collected. (A native
    # percentile at p = off/(cnt-1) is not exact: that p does not
    # round-trip through doubles, so its interpolation can land between
    # two neighbouring order statistics.)
    for r, (lo, hi, off, _cnt) in state.items():
        row = (
            base.filter((F.col("_v") >= lo) & (F.col("_v") <= hi))
            .orderBy("_v")
            .offset(off)
            .limit(1)
            .collect()[0]
        )
        resolved[r] = float(row["_v"])
    return resolved


def _histogram(
    base: DataFrame, intervals: list[tuple[float, float]]
) -> dict[tuple[int, int], tuple[int, float, float]]:
    """One map-side-aggregated pass: {(interval_id, bin): (count,
    observed_min, observed_max)} over rows falling in any interval.
    Bin index is floor of an affine map — monotone in the value, so
    bins partition each interval's sorted order exactly."""
    iid = None
    for i, (lo, hi) in enumerate(intervals):
        cond = (F.col("_v") >= lo) & (F.col("_v") <= hi)
        iid = F.when(cond, F.lit(i)) if iid is None else iid.when(cond, F.lit(i))
    width = {i: (hi - lo) for i, (lo, hi) in enumerate(intervals)}
    lo_of = {i: lo for i, (lo, _hi) in enumerate(intervals)}
    bin_expr = None
    for i in range(len(intervals)):
        w = width[i] if width[i] > 0 else 1.0
        b = F.least(
            F.lit(_BINS - 1),
            F.floor((F.col("_v") - F.lit(lo_of[i])) / F.lit(w) * F.lit(_BINS)),
        )
        bin_expr = (
            F.when(F.col("_iid") == i, b)
            if bin_expr is None
            else bin_expr.when(F.col("_iid") == i, b)
        )
    rows = (
        base.withColumn("_iid", iid)
        .filter(F.col("_iid").isNotNull())
        .withColumn("_bin", bin_expr)
        .groupBy("_iid", "_bin")
        .agg(
            F.count("*").alias("c"),
            F.min("_v").alias("bmin"),
            F.max("_v").alias("bmax"),
        )
        .collect()
    )
    return {
        (int(r["_iid"]), int(r["_bin"])): (
            int(r["c"]), float(r["bmin"]), float(r["bmax"])
        )
        for r in rows
    }


def _collect_resolve(
    base: DataFrame,
    small: dict[int, tuple[float, float, int, int]],
    resolved: dict[int, float],
) -> None:
    """Bounded final collect: fetch each small interval's values once,
    sort driver-side, index the exact offsets."""
    intervals = sorted({(s[0], s[1]) for s in small.values()})
    for lo, hi in intervals:
        vals = sorted(
            r["_v"]
            for r in base.filter(
                (F.col("_v") >= lo) & (F.col("_v") <= hi)
            ).collect()
        )
        for r, (slo, shi, off, _cnt) in small.items():
            if (slo, shi) == (lo, hi):
                resolved[r] = float(vals[off])
