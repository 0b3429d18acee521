"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def quote_ident(name: str) -> str:
    """SQL text for a column name: backtick-quoted, embedded backticks
    doubled, so any name (spaces, dots, backticks) parses as exactly one
    identifier. Unlike ``llm.text.sqlref`` it never passes a string
    through as an expression."""
    return "`" + name.replace("`", "``") + "`"


def quote_string(value: str) -> str:
    """SQL text for a string literal (backslash and quote escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def select_sql(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a fixed number of py4j round trips.

    py4j ships a Python list to the JVM with one ``add`` call per
    element; here the list travels as one NUL-joined string and is split
    JVM-side, so a projection's construction cost does not grow with its
    width. The analyzed plan is ``selectExpr``'s."""
    joined = "\0".join(exprs)
    if joined.count("\0") != len(exprs) - 1:
        raise ValueError("select_sql: an expression contains a NUL character")
    jvm = df.sparkSession.sparkContext._jvm  # noqa: SLF001
    parts = jvm.java.util.regex.Pattern.compile("\0").splitAsStream(joined).toList()
    jdf = df._jdf.selectExpr(jvm.PythonUtils.toSeq(parts))  # noqa: SLF001
    return DataFrame(jdf, df.sparkSession)


def ensure_parallelism(df: DataFrame, min_factor: float = 1.0) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input
    has fewer partitions.

    Small parquet files (one row group) arrive as a single partition; any
    compute-heavy per-row operator (hashing, shingling, vector math)
    would then run on one core. One cheap shuffle of the raw rows buys
    full-width parallelism. On big inputs (>= default parallelism
    partitions — the 100 TB case) this is a no-op, so library operators
    can call it unconditionally.

    Frames with UPSTREAM EXCHANGES are returned untouched: their
    post-shuffle parallelism is AQE's job (partition coalescing), and
    probing them via ``df.rdd`` would FINALIZE the adaptive plan —
    executing every upstream shuffle stage eagerly at graph-construction
    time, an entire hidden job inside a 'free' guard. Plan INSPECTION
    (toString of the un-finalized AdaptiveSparkPlan) is free; only
    exchange-free plans (scans, narrow maps) take the .rdd probe, where
    finalization has nothing to execute."""
    sc = df.sparkSession.sparkContext
    target = int(sc.defaultParallelism * min_factor)
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def strip_training_summary(model):
    """Drop the training summary from a fitted MLlib model (or every
    stage of a PipelineModel). Returns the model, mutated.

    Why: {Logistic,Linear}Regression training summaries hold a
    SparkSession reference, and MLlib serializes the model into scoring
    task closures — summary included. The session serializes only while
    its lazy ``observationManager`` field is uninitialized; the first
    ``DataFrame.observe`` in the session materializes it (it is not
    Serializable), after which any summary-carrying model FAILS to score
    with "Task not serializable: ObservationManager". Stripping the
    summary right after fit() severs the model→session reference, making
    model scoring independent of session history. (Scala's
    package-private setSummary is public in bytecode, hence callable
    through the py4j handle.)"""
    from pyspark import SparkContext

    jvm = SparkContext._active_spark_context._jvm  # noqa: SLF001
    stages = getattr(model, "stages", [model])
    for stage in stages:
        if getattr(stage, "hasSummary", False):
            stage._java_obj.setSummary(jvm.scala.Option.empty())  # noqa: SLF001
    return model
