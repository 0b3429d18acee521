"""Run EVERY registry query on Spark and DuckDB at sf0.001 and compare —
the local twin of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.oracle_harness import compare, duck_connection
from turbine_maintenance_etl_spark.queries import load_registry

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    assert len(spark_pdf.columns) > 0
    if q.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check
        return
    duck_pdf = duck.execute(q.oracle).df()
    problems = compare(spark_pdf, duck_pdf, name)
    assert not problems, "\n".join(problems)
