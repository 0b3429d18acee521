"""Config-driven CMAPSS ETL pipeline — the Spark rebuild of the
reference's ETL CLI (entry point 1, SURVEY.md §3.1:
``python scripts/etl_turbofan.py --config etl_config.yaml``).

Differences from the reference, by design:
- ONE lazy DAG over the unioned, dataset-tagged read instead of a
  per-dataset eager loop: a single shuffle on (dataset, unit_nr) serves
  every window feature.
- ``units_summary`` is computed over the full union (the reference's
  replace-per-iteration bug kept only the last dataset —
  scripts/etl_turbofan.py:130-133; intentionally not reproduced,
  SURVEY.md §7.4.5).
- One unified feature table (rolling means + diffs + z-scores + rul)
  instead of the reference's diverging Python vs dbt column sets
  (SURVEY.md §3.2).
- Sinks are dataset-partitioned parquet (dynamic partition overwrite =
  the reference's replace/append pattern); CSV checkpoints optional.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from turbine_maintenance_etl_spark.features.engine import (
    build_features,
    units_summary,
    variable_sensor_intersection,
)
from turbine_maintenance_etl_spark.io.cmapss import read_cmapss_text
from turbine_maintenance_etl_spark.io.sinks import write_csv, write_partitioned_parquet
from turbine_maintenance_etl_spark.schema.cmapss import BASE_COLS, SETTING_COLS
from turbine_maintenance_etl_spark.util import quote_ident, select_sql


@dataclass
class DatasetConfig:
    code: str
    train: str
    test: str | None = None
    rul: str | None = None


@dataclass
class EtlConfig:
    datasets: list[DatasetConfig]
    windows: tuple[int, ...] = (5, 20)
    output_path: str = "./out"
    write_csv_checkpoints: bool = False

    @classmethod
    def from_yaml(cls, path: str) -> "EtlConfig":
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f)
        return cls(
            datasets=[DatasetConfig(**d) for d in raw["datasets"]],
            windows=tuple(raw.get("windows", (5, 20))),
            output_path=raw.get("output_path", "./out"),
            write_csv_checkpoints=bool(raw.get("write_csv_checkpoints", False)),
        )


@dataclass
class EtlResult:
    kept_sensors: list[str]
    cycles_raw: DataFrame
    features: DataFrame
    units: DataFrame
    paths: dict[str, str] = field(default_factory=dict)


def run_etl(spark: SparkSession, cfg: EtlConfig, write: bool = True) -> EtlResult:
    """Full ETL: scan → schema-consistency pre-pass → union → feature
    engine → partitioned sinks.

    The constant-sensor pre-pass is one (min, max, count) aggregation
    per dataset (a metadata-scale job, ``constant_columns``), mirroring
    the reference's extra full read (scripts/etl_turbofan.py:175-206)
    but as Spark jobs whose scan prunes to sensor columns only."""
    if not cfg.datasets:
        raise ValueError("run_etl: config has no datasets")
    raws = {
        d.code: read_cmapss_text(spark, d.train, dataset=d.code) for d in cfg.datasets
    }
    kept = variable_sensor_intersection(raws)

    project = [quote_ident(c) for c in BASE_COLS + SETTING_COLS + kept + ["dataset"]]
    union = reduce(DataFrame.unionByName, (select_sql(df, project) for df in raws.values()))

    features = build_features(union, sensors=kept, windows=cfg.windows)
    units = units_summary(union)

    paths: dict[str, str] = {}
    if write:
        paths = {
            "cycles_raw": f"{cfg.output_path}/cycles_raw",
            "fct_cycles_features": f"{cfg.output_path}/fct_cycles_features",
            "units_summary": f"{cfg.output_path}/units_summary",
        }
        write_partitioned_parquet(union, paths["cycles_raw"])
        write_partitioned_parquet(features, paths["fct_cycles_features"])
        units.write.mode("overwrite").parquet(paths["units_summary"])
        if cfg.write_csv_checkpoints:
            write_csv(features, f"{cfg.output_path}/csv/cycles_features")
    return EtlResult(kept, union, features, units, paths)


def prepare_test_features(
    spark: SparkSession,
    cfg: EtlConfig,
    kept_sensors: list[str],
    windows: tuple[int, ...] | None = None,
) -> DataFrame:
    """Test-side scoring input: engineer features over the FULL test
    trajectories, then keep each unit's last cycle joined to ground-truth
    RUL (the reference's semantically-intended GPU path,
    scripts/ml_pipeline_gpu.py:827-912 — the CPU variant's raw-row
    indexing bug is not reproduced; SURVEY.md §3.3.3)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from turbine_maintenance_etl_spark.io.cmapss import read_rul_truth

    # the TEST features must be engineered with the SAME windows the
    # training run used — a separate hardcoded default would silently
    # produce mean5_*/mean20_* columns against a model trained on
    # cfg.windows
    windows = tuple(windows) if windows is not None else tuple(cfg.windows)
    parts = []
    for d in cfg.datasets:
        if not d.test:
            continue
        test_df = read_cmapss_text(spark, d.test, dataset=d.code)
        feats = build_features(test_df, sensors=kept_sensors, windows=windows)
        w = Window.partitionBy("unit_nr").orderBy(F.desc("time_cycles"))
        last = feats.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn", "rul")
        if d.rul:
            rul = read_rul_truth(spark, d.rul)
            last = last.join(F.broadcast(rul), "unit_nr", "inner")
        parts.append(last)
    if not parts:
        raise ValueError(
            "prepare_test_features: no dataset in the config has a test file"
        )
    # allowMissingColumns: datasets WITHOUT a RUL truth file have no
    # rul_true column — they union in with NULLs instead of crashing
    # the whole mixed-config run
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
