"""End-to-end ETL pipeline + MLlib stage on CMAPSS-shaped fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import make_cmapss_pdf, write_cmapss_txt
from turbine_maintenance_etl_spark.ml.pipeline import (
    feature_columns,
    prediction_error_summary,
    predictions_table,
    train_and_score,
)
from turbine_maintenance_etl_spark.pipeline import (
    DatasetConfig,
    EtlConfig,
    EtlResult,
    prepare_test_features,
    run_etl,
)


@pytest.fixture(scope="module")
def etl_setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("etl")
    train1 = make_cmapss_pdf(n_units=8, seed=1, dataset="FD001", min_len=40, max_len=80)
    train2 = make_cmapss_pdf(n_units=6, seed=2, dataset="FD002", min_len=40, max_len=80)
    test1 = make_cmapss_pdf(n_units=4, seed=3, dataset="FD001", min_len=25, max_len=50)
    write_cmapss_txt(train1, str(root / "train_FD001.txt"))
    write_cmapss_txt(train2, str(root / "train_FD002.txt"))
    write_cmapss_txt(test1, str(root / "test_FD001.txt"))
    (root / "RUL_FD001.txt").write_text("".join(f"{10 + i}\n" for i in range(4)))
    cfg = EtlConfig(
        datasets=[
            DatasetConfig("FD001", str(root / "train_FD001.txt"),
                          str(root / "test_FD001.txt"), str(root / "RUL_FD001.txt")),
            DatasetConfig("FD002", str(root / "train_FD002.txt")),
        ],
        output_path=str(root / "out"),
    )
    result = run_etl(spark, cfg, write=True)
    return cfg, result


def test_etl_outputs(spark, etl_setup):
    cfg, res = etl_setup
    assert res.kept_sensors  # intersection non-empty
    feats = spark.read.parquet(res.paths["fct_cycles_features"])
    # both dataset partitions present, unified feature schema
    ds = {r["dataset"] for r in feats.select("dataset").distinct().collect()}
    assert ds == {"FD001", "FD002"}
    for c in res.kept_sensors[:2]:
        for fam in ("mean5", "mean20", "d", "z"):
            assert f"{fam}_{c}" in feats.columns
    # units_summary spans the full union (reference bug not reproduced)
    units = spark.read.parquet(res.paths["units_summary"])
    assert units.select("dataset").distinct().count() == 2


def test_yaml_config_roundtrip(tmp_path, etl_setup):
    cfg, _ = etl_setup
    y = tmp_path / "etl.yaml"
    y.write_text(
        "datasets:\n"
        + "".join(
            f"  - code: {d.code}\n    train: {d.train}\n" for d in cfg.datasets
        )
        + "windows: [5, 20]\noutput_path: /tmp/x\n"
    )
    loaded = EtlConfig.from_yaml(str(y))
    assert [d.code for d in loaded.datasets] == ["FD001", "FD002"]
    assert loaded.windows == (5, 20)


def test_ml_train_and_score(spark, etl_setup):
    cfg, res = etl_setup
    train = res.features.filter(F.col("dataset") == "FD001")
    test = prepare_test_features(spark, cfg, res.kept_sensors).withColumnRenamed(
        "rul_true", "rul"
    )
    model, scored, metrics = train_and_score(train, test, "linear_regression")
    assert set(metrics) == {"rmse", "mae", "r2"}
    assert metrics["rmse"] > 0
    # predictions clamped at zero
    assert scored.filter(F.col("prediction") < 0).count() == 0
    # one scored row per test unit (last cycle only)
    assert scored.count() == 4

    feats = feature_columns(train)
    table = predictions_table(scored, "linear_regression", feats)
    assert table.columns == [
        "id", "unit_nr", "cycle", "dataset", "model_name", "predicted_rul",
        "actual_rul", "prediction_date", "model_version", "confidence_score",
        "features_used", "created_at",
    ]
    summary = prediction_error_summary(table)
    row = summary.collect()[0]
    assert row["n_predictions"] == 4
    assert row["rmse"] >= row["avg_absolute_error"] - 1e-9


def test_evaluate_equals_three_evaluator_passes(spark):
    """``evaluate`` reads RMSE, MAE and R² off one RegressionMetrics pass;
    each equals (==, not approx) its own RegressionEvaluator job on a
    multi-partition frame."""
    from pyspark.ml.evaluation import RegressionEvaluator

    from turbine_maintenance_etl_spark.ml.pipeline import evaluate

    df = spark.range(0, 3000, 1, 4).selectExpr(
        "CAST(id % 97 AS INT) AS rul", "id % 97 + 7.3 * sin(id) + 0.1 AS prediction"
    )
    assert df.rdd.getNumPartitions() >= 2
    want = {
        m: RegressionEvaluator(labelCol="rul", predictionCol="prediction", metricName=m)
        .evaluate(df)
        for m in ("rmse", "mae", "r2")
    }
    assert evaluate(df) == want


def test_predictions_table_literals_round_trip(spark, etl_setup):
    """Model name, version and feature names are SQL string literals in
    the projection: quotes and backslashes come back unchanged."""
    _, res = etl_setup
    scored = res.features.limit(3).withColumn("prediction", F.lit(1.0))
    name, version, feats = "o'brien\\lr", "1.0'\\n", ["a'b", "c\\d"]
    row = predictions_table(scored, name, feats, version).first()
    assert (row["model_name"], row["model_version"], row["features_used"]) == (
        name, version, feats
    )


def test_ml_models_tree(spark, etl_setup):
    """Tree models fit and beat a constant predictor on training data."""
    _, res = etl_setup
    train = res.features.filter(F.col("dataset") == "FD001")
    _, scored, metrics = train_and_score(train, None, "random_forest")
    assert metrics["r2"] > 0.3


def test_rf_confidence_score_populated(spark, etl_setup):
    """A RandomForest scorer attaches a REAL confidence_score (per-tree
    disagreement mapped to (0, 1]) that flows into the canonical
    predictions table and its grouped summary — replacing the NULL the
    reference always writes (scripts/ml_pipeline_gpu.py:1016). Linear
    models keep the NULL (no ensemble to disagree)."""
    _, res = etl_setup
    train = res.features.filter(F.col("dataset") == "FD001")
    _, scored, _ = train_and_score(train, None, "random_forest")
    conf = [r["confidence_score"] for r in scored.select("confidence_score").collect()]
    assert all(c is not None and 0.0 < c <= 1.0 for c in conf)
    assert len(set(conf)) > 1  # real per-row uncertainty, not a constant

    table = predictions_table(scored, "random_forest", feature_columns(train))
    summary = prediction_error_summary(table)
    avg_conf = summary.collect()[0]["avg_confidence"]
    assert avg_conf is not None and 0.0 < avg_conf <= 1.0

    _, lin_scored, _ = train_and_score(train, None, "linear_regression")
    assert (
        lin_scored.filter(F.col("confidence_score").isNotNull()).count() == 0
    )


def test_model_persistence_roundtrip(spark, etl_setup, tmp_path):
    """UD4: save → load → transform-equality (reference persists fitted
    models + scalers with joblib, scripts/ml_pipeline.py:600-630; the
    MLlib twin is PipelineModel.save/load, which round-trips the whole
    Imputer→Assembler→Scaler→regressor chain)."""
    from pyspark.ml import PipelineModel

    _, res = etl_setup
    train = res.features.filter(F.col("dataset") == "FD001")
    model, scored, _ = train_and_score(train, None, "linear_regression")
    path = str(tmp_path / "lr_model")
    model.save(path)
    reloaded = PipelineModel.load(path)
    orig = {
        (r["unit_nr"], r["time_cycles"]): r["prediction"]
        for r in model.transform(train).select(
            "unit_nr", "time_cycles", "prediction").collect()
    }
    back = reloaded.transform(train).select(
        "unit_nr", "time_cycles", "prediction").collect()
    assert len(back) == len(orig)
    for r in back:
        assert r["prediction"] == pytest.approx(
            orig[(r["unit_nr"], r["time_cycles"])], rel=1e-12)


def test_cross_validated_training(spark):
    """CV grid search returns a fitted best model whose holdout RMSE is
    finite and no worse than 2x a default single fit."""
    from turbine_maintenance_etl_spark.features.engine import build_features
    from turbine_maintenance_etl_spark.ml.pipeline import (
        train_and_score,
        train_with_cv,
    )

    df = spark.createDataFrame(make_cmapss_pdf(n_units=8, seed=7))
    feats = build_features(df, sensors=["sensor2", "sensor4"])
    best, metrics, cv_rmse = train_with_cv(
        feats, model_name="random_forest", num_folds=2,
        param_grid={"numTrees": [5, 10]},
    )
    assert metrics["rmse"] > 0 and cv_rmse > 0
    _, _, single = train_and_score(feats, model_name="random_forest")
    assert metrics["rmse"] <= 2 * single["rmse"] + 1e-9
    # best model actually scores
    assert best.transform(feats).count() == feats.count()


def test_reference_grids_resolve_on_mllib_estimators():
    """The documented reference grids (RF 16-combo / GBT 32-combo,
    scripts/ml_pipeline.py:300-353) must map to real MLlib params so
    train_with_cv(param_grid=REFERENCE_GRIDS[...]) runs the exact sweep."""
    from turbine_maintenance_etl_spark.ml.pipeline import (
        REFERENCE_GRIDS,
        make_pipeline,
    )

    for model_name, grid in REFERENCE_GRIDS.items():
        reg = make_pipeline(["f1", "f2"], model_name).getStages()[-1]
        for pname in grid:
            assert reg.getParam(pname) is not None
    combos = 1
    for values in REFERENCE_GRIDS["random_forest"].values():
        combos *= len(values)
    assert combos == 16
    combos = 1
    for values in REFERENCE_GRIDS["gbt"].values():
        combos *= len(values)
    assert combos == 32


def test_cli_train_mlp(spark, etl_setup, tmp_path):
    """`train --model mlp` runs the numpy 4th-model analog through the
    same ETL config surface and prints the metric JSON line."""
    import contextlib
    import io
    import json

    from turbine_maintenance_etl_spark.cli import main

    cfg, _ = etl_setup
    y = tmp_path / "etl.yaml"
    y.write_text(
        "datasets:\n"
        + "".join(f"  - code: {d.code}\n    train: {d.train}\n" for d in cfg.datasets)
        + f"output_path: {tmp_path}/out\n"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["train", "--config", str(y), "--model", "mlp"])
    assert rc == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["model"] == "mlp"
    assert set(out["metrics"]) == {"rmse", "mae", "r2"}
    assert out["metrics"]["rmse"] > 0


def test_linear_scoring_twin_matches_pipeline_transform(spark, etl_setup):
    """UD2 evidence (r8 verdict item 2): the arithmetic scoring twin
    (frozen_linear_scores with the stats/weights extracted from the
    fitted model) must reproduce PipelineModel.transform +
    clamp_predictions value-for-value — proving the twin the DuckDB
    oracle replays IS the MLlib scoring path's semantics."""
    from turbine_maintenance_etl_spark.ml.pipeline import (
        clamp_predictions,
        linear_scoring_twin,
        make_pipeline,
    )

    cfg, res = etl_setup
    train = res.features.filter(F.col("dataset") == "FD001")
    feats = feature_columns(train)
    model = make_pipeline(feats, "linear_regression").fit(train)
    keys = ["dataset", "unit_nr", "time_cycles"]
    want = (
        clamp_predictions(model.transform(train))
        .select(*keys, "prediction")
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    got = (
        linear_scoring_twin(model, train)
        .select(*keys, "prediction")
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    np.testing.assert_allclose(
        got["prediction"].to_numpy(), want["prediction"].to_numpy(),
        rtol=1e-9, atol=1e-9,
    )

    # NaN parity: MLlib's Imputer imputes NaN (its default missingValue)
    # as well as NULL — the twin must too, or it silently emits NaN
    # predictions where the fitted model imputes (r9 review finding)
    feat0 = feats[0]
    nan_df = train.withColumn(
        feat0,
        F.when(F.col("time_cycles") % 5 == 0, F.lit(float("nan")))
        .otherwise(F.col(feat0)),
    )
    want_nan = (
        clamp_predictions(model.transform(nan_df))
        .select(*keys, "prediction")
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    got_nan = (
        linear_scoring_twin(model, nan_df)
        .select(*keys, "prediction")
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    assert not np.isnan(got_nan["prediction"].to_numpy()).any()
    np.testing.assert_allclose(
        got_nan["prediction"].to_numpy(), want_nan["prediction"].to_numpy(),
        rtol=1e-9, atol=1e-9,
    )


def test_ml_scoring_registry_oracle_parity_with_nan_values(spark, tmp_path):
    """r9 ADVICE: the testdata generators emit no NaNs, so the
    NaN-vs-NULL twin divergence in the ML scoring entries was latent —
    DuckDB's COALESCE(NaN, 0) = NaN (NaN is not NULL) while the Spark
    side imputes. Inject NaN readings into a synthetic events table and
    replay BOTH registry entries against their own DuckDB oracles; the
    ISNAN/nanvl guards make the twins hash-identical."""
    import duckdb
    import pandas as pd

    from tests.oracle_harness import compare
    from turbine_maintenance_etl_spark.queries import REGISTRY
    import turbine_maintenance_etl_spark.queries_ext  # noqa: F401

    n = 400
    idx = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "event_id": idx,
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(idx, unit="s"),
            "user_id": (idx * 7) % 101,
            "event_type": ["view"] * n,
            # NaN rows deliberately overlap and miss the entries'
            # NULL-injection moduli (11 and 13)
            "value": np.where(idx % 7 == 3, np.nan, idx * 0.5 - 20.0),
            "props": ["{}"] * n,
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    try:
        for name in ("ml_mlp_forward_scoring", "ml_linear_scoring"):
            q = REGISTRY[name]
            spark_pdf = q.fn(spark, str(tmp_path)).toPandas()
            assert not spark_pdf["predicted_rul"].isna().any()
            duck_pdf = con.execute(q.oracle).df()
            problems = compare(spark_pdf, duck_pdf, name)
            assert not problems, "\n".join(problems)
    finally:
        con.close()
