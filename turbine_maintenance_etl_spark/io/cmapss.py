"""CMAPSS sources (SURVEY.md §2.1 S1/S2/S8).

S1 — whitespace-text scan: Spark's CSV reader cannot regex-split, so the
idiomatic route is ``spark.read.text`` → ``split(trim(value), '\\s+')`` →
typed positional projection. Bad numerics become NULL (ANSI off), matching
the reference's ``pd.to_numeric(errors="coerce")``
(scripts/etl_turbofan.py:10-19).

Scale note: text scans parallelize per file-split like any Spark source;
the typed projection is whole-stage-codegen'd (no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from turbine_maintenance_etl_spark.schema.cmapss import CMAPSS_COLS, _INT_COLS
from turbine_maintenance_etl_spark.util import quote_ident, select_sql


def read_cmapss_text(
    spark: SparkSession, path: str, dataset: str | None = None
) -> DataFrame:
    """Parse whitespace-separated headerless CMAPSS text into a typed
    DataFrame (unit_nr, time_cycles int; settings/sensors double).

    Mirrors reference ``read_cmapss_txt`` (scripts/etl_turbofan.py:10-19):
    rows are truncated positionally to the 26 declared columns; extra
    whitespace is tolerated; unparseable numerics -> NULL.
    ``dataset`` adds the partition-tag literal column (P11,
    scripts/etl_turbofan.py:56).
    """
    raw = spark.read.text(path)
    # SQL text in one projection, not a Column per field: each Column
    # operator is a py4j round trip, while one parsed string is not
    # (the measurement behind llm.text.tokens_sql); same analyzed plan.
    token = r"try_element_at(split(trim(value), '\\s+'), {})"
    cols = []
    for i, name in enumerate(CMAPSS_COLS):
        # try_cast to DOUBLE first: failure -> NULL under ANY session
        # (== to_numeric(errors="coerce"); a plain cast would raise under
        # ANSI-on defaults). Int columns then try_cast double->int: the
        # "1.0"-style truncation still parses (like to_numeric +
        # astype(int)), while NaN/Infinity/overflow tokens go NULL —
        # a plain cast would CRASH under ANSI (breaking the 'NULL under
        # ANY session' promise) and silently emit 0/2147483647 without.
        num = f"try_cast({token.format(i + 1)} AS DOUBLE)"
        if name in _INT_COLS:
            num = f"try_cast({num} AS INT)"
        cols.append(f"{num} AS {quote_ident(name)}")
    df = select_sql(raw.where("trim(value) != ''"), cols)
    if dataset is not None:
        df = df.withColumn("dataset", F.lit(dataset))
    return df


def read_rul_truth(spark: SparkSession, path: str) -> DataFrame:
    """Ground-truth RUL file: headerless single int per line, where line
    i is the true remaining cycles of test unit i (S2 + J2 key-gen,
    reference scripts/ml_pipeline.py:190-191).

    Line order is semantic, so the file must be read as ONE partition —
    ``coalesce(1)`` (NEVER ``repartition(1)``: its round-robin shuffle
    scrambles line order before the ids are assigned, silently attaching
    every RUL value to the wrong unit) guards the ordering contract, and
    these files are tiny (<= 259 rows) so a single partition is free.
    """
    from pyspark.sql import Window

    raw = spark.read.text(path).coalesce(1)
    w = Window.orderBy(F.monotonically_increasing_id())
    return (
        raw.where(F.trim(F.col("value")) != "")
        .select(
            F.trim(F.col("value")).try_cast("double").try_cast("int").alias("rul_true")
        )
        .withColumn("unit_nr", F.row_number().over(w))
    )
