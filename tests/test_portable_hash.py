"""Engine-portable hash texts evaluate to the same exact value in Spark and
DuckDB over the whole non-negative BIGINT range."""

from __future__ import annotations

import duckdb

from geospatial_analysis_integrity_tool_spark.functions.portable_hash import (
    KNUTH,
    knuth32_sql,
)
from geospatial_analysis_integrity_tool_spark.queries.textops import _BUCKET

#: includes x whose plain product with KNUTH overflows BIGINT (>= ~3.5e9)
XS = [0, 3_500_000_000, 2**40, 2**62, 2**63 - 1]


def _spark_eval(spark, expr: str, col: str) -> dict:
    df = spark.createDataFrame([(x,) for x in XS], f"{col} long")
    return {r[0]: r[1] for r in df.selectExpr(col, expr).collect()}


def _duck_eval(expr: str, col: str) -> dict:
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {col}, CAST({expr} AS BIGINT) FROM "
        f"(SELECT unnest([{', '.join(map(str, XS))}]::BIGINT[]) AS {col})"
    ).fetchall()
    return dict(rows)


def test_knuth32_is_exact_in_both_engines(spark):
    want = {x: (x * KNUTH) % 2**32 for x in XS}
    assert _spark_eval(spark, knuth32_sql("i"), "i") == want
    assert _duck_eval(knuth32_sql("i"), "i") == want


def test_sample_bucket_is_overflow_free(spark):
    want = {x: (x * KNUTH) % 2**32 % 100 for x in XS}
    assert _spark_eval(spark, _BUCKET, "doc_id") == want
    assert _duck_eval(_BUCKET, "doc_id") == want
