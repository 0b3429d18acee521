"""MLlib RUL-regression stage (SURVEY.md §2.10 UD2-UD4, §3.3).

Reference pipeline (scripts/ml_pipeline.py:238-453): median-impute →
standard-scale → {LinearRegression, RandomForest(+grid), XGBoost(+grid)}
→ clamp predictions at 0 → RMSE/MAE/R² → store predictions. Spark-first:
Imputer → VectorAssembler → StandardScaler → {LinearRegression,
RandomForestRegressor, GBTRegressor (public-Spark stand-in for
XGBoost)} in one MLlib Pipeline; CrossValidator for the grid models;
predictions appended to the canonical GPU-writer table schema
(scripts/ml_pipeline_gpu.py:722-737, FIXTURES.md §5).

Scale: training data is the feature table (columnar parquet); MLlib tree
ensembles distribute over partitions natively. Scoring is
``model.transform`` — a narrow map, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import Imputer, StandardScaler, VectorAssembler
from pyspark.ml.regression import (
    GBTRegressor,
    LinearRegression,
    RandomForestRegressor,
)

from turbine_maintenance_etl_spark.util import (
    quote_ident,
    quote_string,
    select_sql,
    strip_training_summary,
)

NON_FEATURE_COLS = {"unit_nr", "time_cycles", "dataset", "rul", "rul_true"}

MODEL_BUILDERS = {
    # seed matches the reference's random_state=42 (scripts/ml_pipeline.py:242)
    "linear_regression": lambda: LinearRegression(
        featuresCol="features_scaled", labelCol="rul", predictionCol="prediction"
    ),
    "random_forest": lambda: RandomForestRegressor(
        featuresCol="features_scaled",
        labelCol="rul",
        predictionCol="prediction",
        numTrees=50,
        maxDepth=8,
        seed=42,
    ),
    "gbt": lambda: GBTRegressor(
        featuresCol="features_scaled",
        labelCol="rul",
        predictionCol="prediction",
        maxIter=40,
        maxDepth=6,
        seed=42,
    ),
}


# The reference's FULL grids (scripts/ml_pipeline.py:300-305 RF 16
# combos, :347-353 XGB 32 combos, both 3-fold), mapped param-by-param to
# the MLlib estimators. sklearn's min_samples_split/min_samples_leaf
# control the same complexity axis as MLlib's minInstancesPerNode;
# colsample_bytree maps to featureSubsetStrategy on GBT's tree builder
# (exposed as subsamplingRate + featureSubsetStrategy). Pass one of
# these as ``param_grid`` to ``train_with_cv`` to run the reference's
# exact sweep; tests use the compact default grid for runtime.
REFERENCE_GRIDS: dict[str, dict[str, list]] = {
    "random_forest": {  # 2*2*2*2 = 16 combos x 3 folds
        "numTrees": [100, 200],
        "maxDepth": [10, 20],
        "minInstancesPerNode": [2, 4],  # ~ min_samples_leaf [2, 4]
        "subsamplingRate": [0.8, 1.0],
    },
    "gbt": {  # 2*2*2*2*2 = 32 combos x 3 folds (XGBoost analog)
        "maxIter": [100, 200],
        "maxDepth": [6, 10],
        "stepSize": [0.1, 0.2],  # learning_rate
        "subsamplingRate": [0.8, 1.0],
        "featureSubsetStrategy": ["0.8", "all"],  # colsample_bytree
    },
}


def feature_columns(df: DataFrame) -> list[str]:
    """All engineered numeric columns minus keys/label — the reference's
    'all columns except unit_nr/time_cycles/dataset/rul' derivation
    (scripts/ml_pipeline.py:134-136)."""
    return [
        c for c, t in df.dtypes
        if c not in NON_FEATURE_COLS and t in ("double", "float", "int", "bigint")
    ]


def make_pipeline(feature_cols: list[str], model_name: str = "linear_regression") -> Pipeline:
    """Imputer(median) → VectorAssembler → StandardScaler → regressor."""
    imputer = Imputer(
        inputCols=feature_cols,
        outputCols=[f"{c}_imp" for c in feature_cols],
        strategy="median",
    )
    assembler = VectorAssembler(
        inputCols=[f"{c}_imp" for c in feature_cols], outputCol="features_raw"
    )
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features_scaled", withMean=True, withStd=True
    )
    return Pipeline(stages=[imputer, assembler, scaler, MODEL_BUILDERS[model_name]()])


def evaluate(predictions: DataFrame, label_col: str = "rul") -> dict[str, float]:
    """RMSE / MAE / R² (reference metrics, scripts/ml_pipeline.py:287-289)
    from ONE pass over the predictions, which usually arrive lazy (the
    full Imputer→Assembler→Scaler→model scoring lineage).

    ``RegressionEvaluator.evaluate`` reads one metric off the JVM
    ``mllib.evaluation.RegressionMetrics`` summary it builds per call;
    the evaluator's public ``getMetrics`` returns that summary, so all
    three metrics come from one aggregation job with the evaluator's own
    arithmetic."""
    ev = RegressionEvaluator(labelCol=label_col, predictionCol="prediction")
    # the Python wrapper does not expose getMetrics: push the params and
    # call it on the wrapped JVM evaluator, as evaluate() does internally
    ev._transfer_params_to_java()  # noqa: SLF001
    m = ev._java_obj.getMetrics(predictions._jdf)  # noqa: SLF001
    return {"rmse": m.rootMeanSquaredError(), "mae": m.meanAbsoluteError(), "r2": m.r2()}


def clamp_predictions(predictions: DataFrame) -> DataFrame:
    """RUL is non-negative: clamp at 0 (F4, scripts/ml_pipeline.py:440)."""
    return predictions.withColumn(
        "prediction", F.greatest(F.col("prediction"), F.lit(0.0))
    )


def ensemble_confidence(
    model: PipelineModel, scored: DataFrame, scale: float = 10.0
) -> DataFrame:
    """Attach ``confidence_score`` from ensemble disagreement: for a
    RandomForestRegressor final stage, score every tree (narrow
    JVM-side transforms over the already-assembled feature vector — no
    extra shuffle, no Python), take the population stddev of the
    per-tree predictions, and map it to (0, 1] via
    ``1 / (1 + std / scale)`` (``scale`` = the RUL-cycles spread at
    which confidence halves). Unanimous trees → 1.0; wide disagreement
    → toward 0.

    The reference stores a confidence_score column but always writes
    NULL into it (scripts/ml_pipeline_gpu.py:733, :1016); this engine
    populates it with a real uncertainty. Non-ensemble models pass
    through with a NULL confidence (nothing principled to report)."""
    from pyspark.ml.regression import RandomForestRegressionModel

    reg = model.stages[-1]
    # GBT also exposes .trees, but those are staged residual fits whose
    # spread is not a disagreement measure — bagged forests only
    if not isinstance(reg, RandomForestRegressionModel):
        return scored.withColumn(
            "confidence_score", F.lit(None).cast("double")
        )
    trees = reg.trees
    out = scored
    cols = []
    for i, tree in enumerate(trees):
        name = f"_tree_{i}"
        out = tree.transform(out, {tree.predictionCol: name})
        cols.append(name)
    arr = F.array(*[F.col(c) for c in cols])
    n = F.lit(float(len(cols)))
    mean = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / n
    mean_sq = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x) / n
    # population variance via E[x^2] - E[x]^2; clamp tiny negative
    # float residue before the sqrt
    var = F.greatest(mean_sq - mean * mean, F.lit(0.0))
    conf = F.lit(1.0) / (F.lit(1.0) + F.sqrt(var) / F.lit(float(scale)))
    return out.withColumn("confidence_score", F.round(conf, 6)).drop(*cols)


def predictions_table(
    scored: DataFrame,
    model_name: str,
    feature_cols: list[str],
    model_version: str = "0.1.0",
    label_col: str = "rul",
) -> DataFrame:
    """Canonical ml_predictions schema (GPU-writer variant,
    scripts/ml_pipeline_gpu.py:722-737; FIXTURES.md §5): id, unit_nr,
    cycle, dataset, model_name, predicted_rul, actual_rul,
    prediction_date, model_version, confidence_score, features_used,
    created_at. ``features_used`` is a proper array<string> instead of
    the reference's comma-joined string; the [:10] truncation mirrors
    the reference writer (scripts/ml_pipeline_gpu.py:1017).
    ``confidence_score`` passes through when the scorer attached one
    (``ensemble_confidence``); otherwise NULL — which is all the
    reference ever writes (scripts/ml_pipeline_gpu.py:1016)."""
    conf = (
        "CAST(confidence_score AS DOUBLE)"
        if "confidence_score" in scored.columns
        else "CAST(NULL AS DOUBLE)"
    )
    features = ", ".join(quote_string(c) for c in feature_cols[:10])
    return select_sql(scored, [
        "monotonically_increasing_id() AS id",
        "CAST(unit_nr AS INT) AS unit_nr",
        "CAST(time_cycles AS INT) AS cycle",
        "CAST(dataset AS STRING) AS dataset",
        f"{quote_string(model_name)} AS model_name",
        "CAST(prediction AS DOUBLE) AS predicted_rul",
        f"CAST({quote_ident(label_col)} AS DOUBLE) AS actual_rul",
        "current_timestamp() AS prediction_date",
        f"{quote_string(model_version)} AS model_version",
        f"{conf} AS confidence_score",
        f"array({features}) AS features_used",
        "current_timestamp() AS created_at",
    ])


def prediction_error_summary(preds: DataFrame) -> DataFrame:
    """A11: grouped error metrics over the predictions store
    (scripts/ml_pipeline_gpu.py:795-813), excluding rows without ground
    truth and the VALIDATION partition."""
    err = F.col("predicted_rul") - F.col("actual_rul")
    return (
        preds.filter((F.col("dataset") != "VALIDATION") & F.col("actual_rul").isNotNull())
        .groupBy("model_name", "dataset")
        .agg(
            F.count("*").alias("n_predictions"),
            F.round(F.avg(F.abs(err)), 4).alias("avg_absolute_error"),
            F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
            F.round(F.avg("confidence_score"), 4).alias("avg_confidence"),
        )
    )


def train_and_score(
    train_df: DataFrame,
    test_df: DataFrame | None = None,
    model_name: str = "linear_regression",
    label_col: str = "rul",
) -> tuple[PipelineModel, DataFrame, dict[str, float]]:
    """80/20 split (seed 42, reference scripts/ml_pipeline.py:242-244),
    fit, clamp, evaluate on the held-out split (and score ``test_df``
    when given)."""
    feats = feature_columns(train_df)
    tr, val = train_df.randomSplit([0.8, 0.2], seed=42)
    model = strip_training_summary(make_pipeline(feats, model_name).fit(tr))
    val_pred = clamp_predictions(model.transform(val))
    metrics = evaluate(val_pred, label_col)
    scored = (
        clamp_predictions(model.transform(test_df)) if test_df is not None else val_pred
    )
    scored = ensemble_confidence(model, scored)
    return model, scored, metrics


def frozen_linear_scores(
    df: DataFrame,
    feature_cols: list[str],
    coefficients: list[float],
    intercept: float,
    medians: list[float] | None = None,
    means: list[float] | None = None,
    stds: list[float] | None = None,
    clamp: bool = True,
    out_col: str = "prediction",
) -> DataFrame:
    """The ARITHMETIC TWIN of the fitted scoring chain Imputer(median)
    → StandardScaler(withMean, withStd) → LinearRegression → clamp-at-0
    (reference scripts/ml_pipeline.py:430-440 incl. the F4 clamp) with
    a frozen coefficient vector — the exactly-SQL-checkable member of
    the ML scoring family, same doctrine as
    llm/classify.hashed_linear_scores: training (LBFGS/OWLQN) is
    iterative and stays rows-only, but SCORING is pure arithmetic, so a
    DuckDB twin can replay it value-for-value.

    When ``medians``/``means``/``stds`` are given (extracted from a
    fitted PipelineModel — see ``linear_scoring_twin``) they are plan
    literals and scoring is ONE narrow JVM map over the scan — the
    production shape at 100 TB: no shuffle, no Python, no UDF. When
    None they are computed from ``df`` itself (exact ``percentile``
    for the median — MLlib's Imputer uses approxQuantile, the exact
    stat is what a cross-engine oracle can check) as two 1-row
    aggregates broadcast back over the scan.

    Scaling semantics match MLlib exactly: sample stddev (ddof=1), and
    a zero/NULL-variance column scales to 0.0 (StandardScalerModel
    zeroes the factor instead of dividing by 0)."""
    # MLlib's Imputer treats NaN (its default missingValue) as missing
    # alongside NULL; nanvl(col, NULL) maps NaN -> NULL up front so the
    # median ignores it and coalesce imputes it — without this the twin
    # would emit NaN predictions where model.transform imputes (the
    # same SQL-NULL-vs-NaN pitfall ml/mlp.py:171 documents)
    clash = [
        n
        for c in feature_cols
        for n in (f"_imp_{c}", f"_med_{c}", f"_avg_{c}", f"_std_{c}")
        if n in df.columns
    ] + ([out_col] if out_col in df.columns else [])
    if clash:
        # withColumns would silently OVERWRITE them and the final
        # select would return the overwritten data under the caller's
        # column name (r10 review; same loud-guard rule as
        # ops.rank._RESERVED)
        raise ValueError(
            f"input already has reserved scoring column(s) {clash[:4]}; "
            "frozen_linear_scores uses _imp_/_med_/_avg_/_std_ working "
            "prefixes and writes out_col — rename them"
        )
    null_d = F.lit(None).cast("double")
    src = {c: F.nanvl(F.col(c).cast("double"), null_d) for c in feature_cols}
    work = df
    if medians is None:
        med = work.agg(
            *[F.percentile(src[c], F.lit(0.5)).alias(f"_med_{c}") for c in feature_cols]
        )
        work = work.crossJoin(F.broadcast(med))
        med_exprs = {c: F.col(f"_med_{c}") for c in feature_cols}
    else:
        med_exprs = {c: F.lit(float(m)) for c, m in zip(feature_cols, medians)}
    imputed = {c: F.coalesce(src[c], med_exprs[c]) for c in feature_cols}
    work = work.withColumns({f"_imp_{c}": e for c, e in imputed.items()})
    if means is None or stds is None:
        st = work.agg(
            *[F.avg(f"_imp_{c}").alias(f"_avg_{c}") for c in feature_cols],
            *[F.stddev_samp(f"_imp_{c}").alias(f"_std_{c}") for c in feature_cols],
        )
        work = work.crossJoin(F.broadcast(st))
        mean_exprs = {c: F.col(f"_avg_{c}") for c in feature_cols}
        std_exprs = {c: F.col(f"_std_{c}") for c in feature_cols}
    else:
        mean_exprs = {c: F.lit(float(m)) for c, m in zip(feature_cols, means)}
        std_exprs = {c: F.lit(float(s)) for c, s in zip(feature_cols, stds)}
    pred = F.lit(float(intercept))
    for c, coef in zip(feature_cols, coefficients):
        scaled = F.coalesce(
            (F.col(f"_imp_{c}") - mean_exprs[c]) / F.nullif(std_exprs[c], F.lit(0.0)),
            F.lit(0.0),
        )
        pred = pred + F.lit(float(coef)) * scaled
    if clamp:
        pred = F.greatest(pred, F.lit(0.0))
    return work.withColumn(out_col, pred).select(*df.columns, out_col)


def linear_scoring_twin(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Score ``df`` through ``frozen_linear_scores`` using the stats and
    weights EXTRACTED from a fitted Imputer→Assembler→Scaler→LR
    pipeline — the proof (tests/test_pipeline_ml.py) that the
    arithmetic twin IS the semantics of ``PipelineModel.transform`` +
    ``clamp_predictions`` on the scoring path."""
    imputer, assembler, scaler, lr = model.stages
    in_cols = list(imputer.getInputCols())
    sur = imputer.surrogateDF.collect()[0].asDict()
    medians = [float(sur[c]) for c in in_cols]
    means = [float(v) for v in scaler.mean]
    stds = [float(v) for v in scaler.std]
    coefs = [float(v) for v in lr.coefficients]
    return frozen_linear_scores(
        df, in_cols, coefs, float(lr.intercept), medians, means, stds
    )


def train_with_cv(
    train_df: DataFrame,
    model_name: str = "random_forest",
    label_col: str = "rul",
    num_folds: int = 3,
    parallelism: int = 4,
    param_grid: dict[str, list] | None = None,
) -> tuple[PipelineModel, dict[str, float], float]:
    """Grid search with k-fold cross-validation — the MLlib twin of the
    reference's GridSearchCV(cv=3) (scripts/ml_pipeline.py:300-319,
    347-367). Returns (best fitted pipeline, holdout metrics, best CV
    RMSE).

    ``param_grid`` maps regressor param names to value lists; defaults to
    a compact 4-combo grid so tests stay fast — the reference's 16/32-
    combo grids are a config choice, not a capability difference.
    ``parallelism`` fits that many models concurrently; folds are
    full-data Spark jobs, so CV cost scales linearly with combos x folds
    (run it on a sampled slice at 100 TB)."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    feats = feature_columns(train_df)
    tr, val = train_df.randomSplit([0.8, 0.2], seed=42)
    pipeline = make_pipeline(feats, model_name)
    reg = pipeline.getStages()[-1]
    if param_grid is None:
        if model_name == "random_forest":
            param_grid = {"numTrees": [10, 20], "maxDepth": [4, 6]}
        elif model_name == "gbt":
            param_grid = {"maxIter": [10, 20], "maxDepth": [3, 5]}
        else:
            param_grid = {"regParam": [0.0, 0.1]}
    builder = ParamGridBuilder()
    for name, values in param_grid.items():
        builder = builder.addGrid(reg.getParam(name), values)
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=builder.build(),
        evaluator=RegressionEvaluator(
            labelCol=label_col, predictionCol="prediction", metricName="rmse"
        ),
        numFolds=num_folds,
        parallelism=parallelism,
        seed=42,
    )
    fitted = cv.fit(tr)
    best = strip_training_summary(fitted.bestModel)
    metrics = evaluate(clamp_predictions(best.transform(val)), label_col)
    return best, metrics, float(min(fitted.avgMetrics))
