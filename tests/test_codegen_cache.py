"""A repeated turbofan batch reuses its compiled classes.

One batch plus a dashboard round generates more distinct whole-stage
classes than Spark's default codegen cache holds (100), so at that size
every repeat recompiled almost all of them. ``get_spark`` sizes the
cache to the batch's working set; this pins that a second miniature
batch in the same session compiles (almost) nothing."""

from __future__ import annotations

from scripts.ledger import codegen_compiles
from tests.conftest import make_cmapss_pdf, write_cmapss_txt
from turbine_maintenance_etl_spark.metrics import dashboard as db
from turbine_maintenance_etl_spark.ml import pipeline as mp
from turbine_maintenance_etl_spark.pipeline import DatasetConfig, EtlConfig, run_etl


def _batch(spark, cfg: EtlConfig) -> None:
    """run_etl -> train_and_score -> predictions_table -> one round of
    the dashboard queries, as perfbench's turbofan_batch runs them."""
    etl = run_etl(spark, cfg, write=True)
    feats = spark.read.parquet(etl.paths["fct_cycles_features"])
    _, scored, _ = mp.train_and_score(feats)
    preds = mp.predictions_table(scored, "linear_regression", mp.feature_columns(feats))
    sensor = etl.kept_sensors[0]
    bounds = db.sensor_bounds(feats, etl.kept_sensors)
    for df in (
        db.fleet_overview(feats),
        db.critical_share(feats),
        db.rul_distribution(feats),
        db.sensor_histogram(feats, sensor, bounds=bounds[sensor]),
        db.recent_predictions(preds).drop("id", "prediction_date", "created_at"),
        mp.prediction_error_summary(preds),
    ):
        df.collect()


def test_repeated_batch_reuses_compiled_classes(spark, tmp_path):
    paths = []
    for code, seed in (("FD001", 1), ("FD002", 2)):
        path = str(tmp_path / f"train_{code}.txt")
        write_cmapss_txt(make_cmapss_pdf(n_units=6, seed=seed, dataset=code), path)
        paths.append(DatasetConfig(code, path))
    cfg = EtlConfig(paths, output_path=str(tmp_path / "out"))

    before = codegen_compiles(spark)
    _batch(spark, cfg)
    first = codegen_compiles(spark) - before
    _batch(spark, cfg)
    second = codegen_compiles(spark) - before - first
    assert second <= 5, f"second batch compiled {second} classes (first: {first})"
