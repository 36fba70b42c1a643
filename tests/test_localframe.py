"""localframe.local_rows is a drop-in for spark.createDataFrame(rows, ddl):
same column types and collected values, but planned as a JVM
LocalRelation instead of a Python RDD."""

from __future__ import annotations

import math
from datetime import datetime, timezone

import pytest

from data_engineering_project_spark.localframe import local_rows


def _same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same_value, a, b))
    return a == b and type(a) is type(b)


@pytest.mark.parametrize(
    "ddl, values",
    [
        ("v long", [0, -1, 2**63 - 1, -(2**63)]),
        ("v double", [0.1 + 0.2, float("nan"), float("inf"), float("-inf"), -0.0, 1e-310]),
        ("v string", ["it's", "back\\slash", "both \\' ", ""]),
        ("v string", [None, "x"]),
        ("v long", [None, 7]),
        ("v array<double>", [[0.1 + 0.2, float("nan"), -float("inf")], [1.0]]),
        (
            "v timestamp",
            [
                datetime(2024, 3, 10, 12, 0, 0),
                datetime(1999, 12, 31, 23, 59, 59, 999999),
                datetime(2024, 3, 10, 12, 0, 0, tzinfo=timezone.utc),
                None,
            ],
        ),
    ],
    ids=["long", "double", "string", "null_string", "null_long", "array_double", "timestamp"],
)
def test_local_rows_matches_create_dataframe(spark, ddl, values):
    rows = [(i, v) for i, v in enumerate(values)]
    full_ddl = f"i long, {ddl}"
    got = local_rows(spark, rows, full_ddl)
    want = spark.createDataFrame(rows, full_ddl)

    # Same names and types; nullability may differ (a non-null literal
    # column is declared NOT NULL, a createDataFrame column never is).
    assert got.schema.simpleString() == want.schema.simpleString()
    got_rows = sorted(got.collect())
    want_rows = sorted(want.collect())
    assert len(got_rows) == len(want_rows) == len(values)
    for g, w in zip(got_rows, want_rows):
        assert g.i == w.i
        assert _same_value(g.v, w.v), (g.v, w.v)

    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
