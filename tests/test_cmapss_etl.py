"""CMAPSS ingestion + feature engine vs a pandas re-implementation of the
reference semantics (differential test, SURVEY.md §5.3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tests.conftest import make_cmapss_pdf, write_cmapss_txt
from turbine_maintenance_etl_spark.features.engine import (
    add_rul,
    build_features,
    constant_columns,
    units_summary,
    variable_sensor_intersection,
)
from turbine_maintenance_etl_spark.io.cmapss import read_cmapss_text, read_rul_truth
from turbine_maintenance_etl_spark.schema.cmapss import CMAPSS_COLS, sensor_columns


@pytest.fixture(scope="module")
def cmapss_pdf():
    return make_cmapss_pdf()


@pytest.fixture(scope="module")
def cmapss_sdf(spark, cmapss_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("raw") / "train_FD001.txt")
    write_cmapss_txt(cmapss_pdf, path)
    return read_cmapss_text(spark, path, dataset="FD001").cache()


def pandas_reference_features(pdf: pd.DataFrame, sensors: list[str]) -> pd.DataFrame:
    """The reference's pandas feature logic (scripts/etl_turbofan.py:22-42)."""
    out = pdf.sort_values(["unit_nr", "time_cycles"]).reset_index(drop=True).copy()
    g = out.groupby("unit_nr")
    out["rul"] = g["time_cycles"].transform("max") - out["time_cycles"]
    for c in sensors:
        out[f"mean5_{c}"] = g[c].transform(lambda s: s.rolling(5, min_periods=1).mean())
        out[f"mean20_{c}"] = g[c].transform(lambda s: s.rolling(20, min_periods=1).mean())
        out[f"d_{c}"] = g[c].diff()
        mean = g[c].transform("mean")
        std = g[c].transform(lambda s: s.std(ddof=0))
        z = (out[c] - mean) / std
        out[f"z_{c}"] = z.replace([np.inf, -np.inf], np.nan)
    return out


def test_text_scan_roundtrip(cmapss_sdf, cmapss_pdf):
    assert cmapss_sdf.count() == len(cmapss_pdf)
    assert cmapss_sdf.columns == CMAPSS_COLS + ["dataset"]
    got = (
        cmapss_sdf.orderBy("unit_nr", "time_cycles")
        .toPandas()[["unit_nr", "time_cycles", "sensor2"]]
    )
    want = cmapss_pdf.sort_values(["unit_nr", "time_cycles"]).reset_index(drop=True)
    pd.testing.assert_series_equal(got["sensor2"], want["sensor2"], check_exact=False)


def test_bad_numerics_become_null(spark, tmp_path):
    p = tmp_path / "bad.txt"
    p.write_text("1 1 0.1 0.2 100 " + " ".join(["1.0"] * 21) + "\n"
                 "1 oops 0.1 0.2 100 " + " ".join(["1.0"] * 21) + "\n")
    df = read_cmapss_text(spark, str(p))
    rows = df.orderBy("time_cycles").collect()
    assert rows[1]["unit_nr"] == 1
    assert any(r["time_cycles"] is None for r in rows)


def test_constant_column_pruning(cmapss_sdf):
    sensors = sensor_columns(cmapss_sdf.columns)
    const = set(constant_columns(cmapss_sdf, sensors + ["setting3"]))
    assert const == {f"sensor{i}" for i in (1, 5, 10, 16, 18, 19)} | {"setting3"}


def test_variable_sensor_intersection(spark, cmapss_sdf):
    from pyspark.sql import functions as F

    # second dataset where sensor2 is also constant
    other = cmapss_sdf.withColumn("sensor2", F.lit(7.0))
    kept = variable_sensor_intersection({"FD001": cmapss_sdf, "FD002": other})
    assert "sensor2" not in kept
    assert "sensor3" in kept
    nums = [int(c.removeprefix("sensor")) for c in kept]
    assert nums == sorted(nums)


def test_features_match_pandas_reference(cmapss_sdf, cmapss_pdf):
    sensors = ["sensor2", "sensor3", "sensor4", "sensor9"]
    got = (
        build_features(cmapss_sdf, sensors=sensors)
        .orderBy("unit_nr", "time_cycles")
        .toPandas()
    )
    want = pandas_reference_features(cmapss_pdf, sensors)
    for c in ["rul"] + [
        f"{p}_{c}" for c in sensors for p in ("mean5", "mean20", "d", "z")
    ]:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float),
            want[c].to_numpy(dtype=float),
            rtol=1e-9,
            atol=1e-12,
            err_msg=c,
        )


def test_feature_properties(cmapss_sdf):
    """FIXTURES.md §3 property checks."""
    from pyspark.sql import functions as F

    feats = build_features(cmapss_sdf, sensors=["sensor2"]).cache()
    # rul >= 0 and rul == 0 at each unit's last cycle
    assert feats.filter(F.col("rul") < 0).count() == 0
    last = feats.groupBy("unit_nr").agg(
        F.max("time_cycles").alias("mx"), F.min("rul").alias("mn")
    )
    assert last.filter(F.col("mn") != 0).count() == 0
    # mean5 == sensor value on first row per unit
    first = feats.filter(F.col("time_cycles") == 1)
    assert first.filter(F.abs(F.col("mean5_sensor2") - F.col("sensor2")) > 1e-12).count() == 0
    # exactly one NULL d_ per unit
    dnulls = feats.groupBy("unit_nr").agg(
        F.sum(F.when(F.col("d_sensor2").isNull(), 1).otherwise(0)).alias("n")
    )
    assert dnulls.filter(F.col("n") != 1).count() == 0
    # per-unit z stats: mean ~ 0, pop std ~ 1
    zstats = feats.groupBy("unit_nr").agg(
        F.avg("z_sensor2").alias("m"), F.stddev_pop("z_sensor2").alias("s")
    )
    bad = zstats.filter((F.abs(F.col("m")) > 1e-9) | (F.abs(F.col("s") - 1) > 1e-9))
    assert bad.count() == 0
    feats.unpersist()


def test_zero_variance_z_is_null(cmapss_sdf):
    from pyspark.sql import functions as F

    feats = build_features(cmapss_sdf, sensors=["sensor1"])  # constant sensor
    assert feats.filter(F.col("z_sensor1").isNotNull()).count() == 0


def test_units_summary(cmapss_sdf, cmapss_pdf):
    got = units_summary(cmapss_sdf).orderBy("unit_nr").toPandas()
    want = (
        cmapss_pdf.groupby(["dataset", "unit_nr"])["time_cycles"]
        .agg(cycles_min="min", cycles_max="max", cycles_count="count")
        .reset_index()
        .sort_values("unit_nr")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["cycles_min", "cycles_max", "cycles_count"]].astype("int64"),
        want[["cycles_min", "cycles_max", "cycles_count"]].astype("int64"),
    )


def test_rul_truth_positional(spark, tmp_path):
    p = tmp_path / "RUL_FD001.txt"
    p.write_text("112\n98\n69\n")
    df = read_rul_truth(spark, str(p)).orderBy("unit_nr").collect()
    assert [(r["unit_nr"], r["rul_true"]) for r in df] == [(1, 112), (2, 98), (3, 69)]


def test_add_rul(cmapss_sdf):
    from pyspark.sql import functions as F

    df = add_rul(cmapss_sdf)
    mx = df.groupBy("unit_nr").agg(F.max("rul").alias("r"), F.max("time_cycles").alias("t"))
    assert mx.filter(F.col("r") != F.col("t") - 1).count() == 0


def test_all_null_column_detection(spark):
    """P4: one-pass detection of entirely-NULL columns."""
    from turbine_maintenance_etl_spark.features.engine import all_null_columns

    df = spark.createDataFrame(
        [(1, None, None, 5.0), (2, None, "x", None)],
        "id int, ghost string, partial string, num double",
    )
    assert all_null_columns(df, ["ghost", "partial", "num"]) == ["ghost"]
    assert all_null_columns(df, []) == []


def test_coercion_holds_under_ansi_on(spark, tmp_path):
    """Garbage numeric tokens must coerce to NULL under an ANSI-ON
    session too (the driver/vanilla default) — round-1's failure class
    was exactly this: library semantics silently depending on the tuned
    session's ansi.enabled=false."""
    p = tmp_path / "garbage.txt"
    p.write_text("1 1 0.1 0.2 100.0 " + " ".join(["5.0"] * 20) + " not_a_number\n")
    from turbine_maintenance_etl_spark.io.cmapss import read_cmapss_text

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        row = read_cmapss_text(spark, str(p)).collect()[0]
        assert row["unit_nr"] == 1 and row["sensor21"] is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_cli_curate_end_to_end(spark, tmp_path):
    """The curate subcommand: documents parquet in -> curated chunk +
    packed-sequence tables out, with a JSON stats line on stdout."""
    import contextlib
    import io
    import json

    from tests.conftest import SF_DIR
    from turbine_maintenance_etl_spark.cli import main

    out = str(tmp_path / "curated")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(
            [
                "curate",
                "--input", f"{SF_DIR}/documents.parquet",
                "--output", out,
                "--max-seq-tokens", "128",
            ]
        )
    assert rc == 0
    stats = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert stats["input_docs"] == 500
    assert 0 < stats["curated_chunks"] <= stats["input_docs"] * 3
    assert 0 < stats["packed_sequences"] < stats["curated_chunks"]
    chunks = spark.read.parquet(stats["chunks_path"])
    packed = spark.read.parquet(stats["packed_path"])
    assert chunks.count() == stats["curated_chunks"]
    assert packed.count() == chunks.count()  # same grain: one row per chunk


def test_cli_curate_lm_gate_drops_tail(spark, tmp_path):
    """--lm-gate (curation v2) produces strictly fewer-or-equal chunks
    than the heuristic-only path: the perplexity gate drops the
    most-perplexed tail of the quality-kept docs before chunking."""
    import contextlib
    import io
    import json

    from tests.conftest import SF_DIR
    from turbine_maintenance_etl_spark.cli import main

    def run(extra):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(
                ["curate", "--input", f"{SF_DIR}/documents.parquet",
                 "--output", str(tmp_path / ("v2" if extra else "v1"))] + extra
            )
        assert rc == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    v1 = run([])
    v2 = run(["--lm-gate", "--ppl-keep-frac", "0.8"])
    assert 0 < v2["curated_chunks"] < v1["curated_chunks"]


def test_cli_table_maintenance_end_to_end(spark, tmp_path):
    """The table subcommand drives io/acid.py: history, clustered
    compact, changes (with parquet export), vacuum — each printing a
    JSON line."""
    import contextlib
    import io
    import json

    from turbine_maintenance_etl_spark.cli import main
    from turbine_maintenance_etl_spark.io import acid

    path = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("v"))
    acid.create_table(spark, df.filter(F.col("id") % 2 == 0), path, stats_cols=("id",))
    acid.append_table(spark, df.filter(F.col("id") % 2 == 1), path)

    def run(argv):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(argv)
        assert rc == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    hist = run(["table", "history", "--path", path])
    assert [h["operation"] for h in hist] == ["create", "append"]

    out = run(["table", "compact", "--path", path, "--target", "4",
               "--cluster-cols", "id"])
    assert out["compacted_version"] == 3 and out["cluster_cols"] == ["id"]
    assert len(acid.snapshot(path).dirs) == 4

    feed_dir = str(tmp_path / "feed")
    ch = run(["table", "changes", "--path", path, "--from-version", "1",
              "--to-version", "2", "--out", feed_dir])
    assert ch["inserts"] == 50 and ch["deletes"] == 0
    assert spark.read.parquet(feed_dir).count() == 50

    vac = run(["table", "vacuum", "--path", path, "--keep-last", "1"])
    assert vac["removed_dirs"]  # pre-compaction dirs dropped
    assert acid.read_table(spark, path).count() == 100


def test_cli_curate_decontaminate(spark, tmp_path):
    """--decontaminate drops fuzzy benchmark matches before curation:
    contaminating the benchmark with a slice of the corpus yields
    strictly fewer curated docs than a clean run."""
    import contextlib
    import io
    import json

    from tests.conftest import SF_DIR
    from turbine_maintenance_etl_spark.cli import main

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = str(tmp_path / "benchmark")
    docs.filter(F.col("doc_id") % 11 == 0).write.parquet(bench)

    def run(extra, tag):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(
                ["curate", "--input", f"{SF_DIR}/documents.parquet",
                 "--output", str(tmp_path / tag)] + extra
            )
        assert rc == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    clean = run([], "clean")
    decon = run(["--decontaminate", bench], "decon")
    assert decon["decontaminated_docs"] < clean["input_docs"]
    assert decon["curated_chunks"] < clean["curated_chunks"]
    assert clean["decontaminated_docs"] is None


def test_cli_curate_split_and_table_sweep_rollup(spark, tmp_path):
    """Round-6 CLI surfaces: curate --split-eval-pct tags chunks with the
    leakage-proof cluster-aware split; table sweep reclaims orphan data
    dirs; table rollup maintains the CDF aggregate state."""
    import contextlib
    import io
    import json
    import os as _os

    from tests.conftest import SF_DIR
    from turbine_maintenance_etl_spark.cli import main
    from turbine_maintenance_etl_spark.io import acid

    def run(argv):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(argv)
        assert rc == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    out = run(
        ["curate", "--input", f"{SF_DIR}/documents.parquet",
         "--output", str(tmp_path / "cur"), "--split-eval-pct", "20"]
    )
    sc = out["split_chunks"]
    assert set(sc) == {"train", "eval"} and sc["train"] > sc["eval"] > 0
    chunks = spark.read.parquet(f"{tmp_path}/cur/chunks")
    # one split per doc: chunks of a doc never straddle
    assert (
        chunks.groupBy("doc_id").agg(F.countDistinct("split").alias("k"))
        .filter("k > 1").count() == 0
    )
    # the packed artifact carries the split and never mixes splits in
    # one training sequence (r10 review: packing before the split join
    # interleaved eval chunks into train sequences with no way to
    # filter them out)
    packed = spark.read.parquet(f"{tmp_path}/cur/packed")
    assert "split" in packed.columns
    assert {r.split for r in packed.select("split").distinct().collect()} == {
        "train", "eval"
    }
    mism = (
        packed.select("doc_id", "chunk_id", F.col("split").alias("psplit"))
        .join(chunks.select("doc_id", "chunk_id", "split"), ["doc_id", "chunk_id"])
        .filter("psplit <> split")
        .count()
    )
    assert mism == 0

    tbl = str(tmp_path / "tbl")
    df = spark.range(60).selectExpr("id", "id % 3 as k", "id * 10 as v")
    acid.create_table(spark, df, tbl)
    orphan = _os.path.join(tbl, "data-append-orphan000000")
    df.limit(5).write.parquet(orphan)
    old = _os.path.getmtime(orphan) - 7200
    _os.utime(orphan, (old, old))
    swept = run(["table", "sweep", "--path", tbl, "--min-age-s", "3600"])
    assert swept["removed_orphans"] == ["data-append-orphan000000"]

    roll = run(
        ["table", "rollup", "--path", tbl, "--state", str(tmp_path / "state"),
         "--keys", "k", "--aggs", "n=count:id,total=sum:v"]
    )
    assert roll["groups"] == 3 and roll["table_version"] == 1
    got = {r["k"]: (r["n"], r["total"])
           for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    assert got == {0: (20, 5700), 1: (20, 5900), 2: (20, 6100)}


def test_int_coercion_total_under_extreme_tokens(spark, tmp_path):
    """NaN/Infinity/overflow tokens in INT columns must go NULL under
    any session — a plain double->int cast crashes under ANSI and
    silently emits 0 / INT_MAX without."""
    p = tmp_path / "bad.txt"
    p.write_text(
        "1 1 0.1 0.2 100 " + " ".join(["1.0"] * 21) + "\n"
        "NaN 2 0.1 0.2 100 " + " ".join(["1.0"] * 21) + "\n"
        "Infinity 99999999999999999999 0.1 0.2 100 " + " ".join(["1.0"] * 21) + "\n"
    )
    from turbine_maintenance_etl_spark.io.cmapss import read_cmapss_text

    rows = read_cmapss_text(spark, str(p)).select("unit_nr", "time_cycles").collect()
    got = sorted(
        ((r["unit_nr"], r["time_cycles"]) for r in rows),
        key=lambda t: (t[0] is None, t[0] or 0, t[1] is None, t[1] or 0),
    )
    assert got == [(1, 1), (None, 2), (None, None)]


def test_variable_sensor_intersection_rejects_empty_dataset(spark, tmp_path):
    """A zero-row train frame must raise, not silently mark every sensor
    constant and strip all features from every dataset."""
    import pytest

    from turbine_maintenance_etl_spark.features.engine import (
        variable_sensor_intersection,
    )
    from turbine_maintenance_etl_spark.io.cmapss import read_cmapss_text

    empty = tmp_path / "empty.txt"
    empty.write_text("")
    dfs = {"FDX": read_cmapss_text(spark, str(empty), dataset="FDX")}
    with pytest.raises(ValueError, match="no rows"):
        variable_sensor_intersection(dfs)


def test_constant_columns_plan_has_no_expand(spark):
    """The constant-sensor pass must stay one plain aggregate — N
    countDistincts rewrite through an Expand that replicates every row
    N times into the shuffle. The plan checked is the stats frame
    ``constant_columns`` itself collects."""
    from turbine_maintenance_etl_spark.features.engine import _constant_stats

    df = spark.createDataFrame(make_cmapss_pdf(n_units=3, seed=5))
    sensors = sensor_columns(df.columns)
    # behavioral check: detection result matches countDistinct semantics
    want = [
        c for c in sensors
        if df.agg(F.countDistinct(c)).first()[0] <= 1
    ]
    assert constant_columns(df, sensors) == want
    # plan check: the production pass contains no Expand
    plan = _constant_stats(df, sensors)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_constant_columns_quotes_arbitrary_names(spark):
    """Column names are quoted into the SQL text, not spliced: a space
    and an embedded backtick each stay one identifier, and the answer is
    ``nunique(dropna=True) <= 1`` per column."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(1.0, 1.0, 3, 7), (1.0, 2.0, 3, 7), (nan, None, 3, 8), (None, 2.0, 3, 9)],
        "`a b` double, `x``y` double, `c``` int, `p.q` int",
    )
    assert constant_columns(df, df.columns) == ["a b", "c`"]


def test_build_features_quotes_partition_and_order_names(cmapss_sdf):
    """``partition_cols``/``order_col`` with a space or a backtick give
    the same feature table as the plain names."""
    sensors = ["sensor2", "sensor3"]
    want = build_features(cmapss_sdf, sensors=sensors)
    odd = cmapss_sdf.withColumnsRenamed({"unit_nr": "unit nr", "time_cycles": "t`c"})
    got = build_features(
        odd, sensors=sensors, partition_cols=("dataset", "unit nr"), order_col="t`c"
    ).withColumnsRenamed({"unit nr": "unit_nr", "t`c": "time_cycles"})
    assert got.columns == want.columns
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _round_trips(monkeypatch, spark, build) -> int:
    """py4j commands ``build()`` sends. Only this thread's are counted:
    py4j's finalizer thread releases collected Java objects through the
    same client at times of its own."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    calls = []

    def counted(*args, **kwargs):
        calls.append(threading.get_ident() == me)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    try:
        build()
    finally:
        monkeypatch.undo()
    return sum(calls)


def test_batch_frame_construction_does_not_grow_with_sensors(spark, monkeypatch, tmp_path):
    """Building (not running) the scan, the constant-sensor stats frame
    and the feature table costs about the same number of py4j round
    trips for 14 sensors as for 4: each wide projection is shipped as SQL
    text in one call. Built a Column per expression, the 40 extra feature
    expressions alone cost ~2,000 more."""
    from turbine_maintenance_etl_spark.features.engine import _constant_stats

    path = str(tmp_path / "train_FD001.txt")
    write_cmapss_txt(make_cmapss_pdf(n_units=2, seed=3), path)

    def build(k):
        raw = read_cmapss_text(spark, path, dataset="FD001")
        sensors = sensor_columns(raw.columns)[:k]
        _constant_stats(raw, sensors)
        build_features(raw, sensors=sensors)

    build(4)  # first use of the JVM classes involved
    few = _round_trips(monkeypatch, spark, lambda: build(4))
    many = _round_trips(monkeypatch, spark, lambda: build(14))
    assert many - few <= 20, (few, many)
