"""surrogate.bucketed_rank against a global ROW_NUMBER() on edge
inputs, and the shape of the frame it returns: the counts job hands
back the [min, max] bounds it used, so the returned frame buckets
with literal bounds and holds no broadcast nested-loop join."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.surrogate import (
    bucketed_rank,
)

_NAN, _INF = float("nan"), float("inf")
_STR = T.StructType([T.StructField("id", T.LongType()), T.StructField("k", T.StringType())])
_DBL = T.StructType([T.StructField("id", T.LongType()), T.StructField("k", T.DoubleType())])

CASES = {
    "empty": (_STR, []),
    "single_row": (_STR, [(1, "solo")]),
    "all_null_first_key": (_STR, [(i, None) for i in range(6)]),
    "nan": (
        _DBL,
        [(0, _NAN), (1, 1.5), (2, None), (3, -2.0), (4, 0.0), (5, _NAN),
         (6, -0.0), (7, 1e300), (8, None), (9, 1.5)],
    ),
    "nan_and_infinities": (
        _DBL,
        [(0, _NAN), (1, -_INF), (2, _INF), (3, 7.0), (4, None), (5, -1.0)],
    ),
    # the string bucket proxy reads only the first 8 UTF-8 bytes, so
    # these share proxies and must be ordered inside their bucket
    "unicode_prefix_tie": (
        _STR,
        [(0, "日本語ab"), (1, "日本語aa"), (2, "日本語"), (3, "日本"), (4, "😀😀b"),
         (5, "😀😀a"), (6, ""), (7, None), (8, "éclair"), (9, "eclair"),
         (10, "abcdefgh2"), (11, "abcdefgh1"), (12, "abcdefgh")],
    ),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("num_buckets", [None, 3])
@pytest.mark.parametrize("case", sorted(CASES))
def test_bucketed_rank_equals_global_row_number(spark, case, num_buckets):
    schema, rows = CASES[case]
    df = spark.createDataFrame(rows, schema)
    out = bucketed_rank(df, ["k", "id"], num_buckets=num_buckets, offset=10)
    got = {r["id"]: r["rank"] for r in out.collect()}
    w = Window.orderBy(F.col("k").asc_nulls_first(), F.col("id"))
    want = {
        r["id"]: r["rn"] + 10
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want
    assert out.columns == ["id", "k", "rank"]
    assert "BroadcastNestedLoopJoin" not in _plan(out)
