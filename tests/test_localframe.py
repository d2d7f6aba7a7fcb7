"""local_df must build exactly the frame ``createDataFrame(rows, schema)``
builds, only faster: NaN stays NaN, None stays NULL, int64 keeps all
64 bits, and naive datetimes mean the system-local zone."""

from __future__ import annotations

import math
import time
from datetime import datetime

import pytest

from parquet_converter_spark.localframe import local_df
from parquet_converter_spark.schema import MANIFEST_SCHEMA


def _same(a, b):
    return type(a) is type(b) and (a == b or (isinstance(a, float) and math.isnan(a) and math.isnan(b)))


@pytest.fixture()
def new_york(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


CASES = {
    "nan": ("v double", [float("nan"), None, 1.5, -0.0]),
    "int64": ("v long", [2**53 + 1, None, -(2**53) - 3]),
    "int64_extremes": ("v long", [-(2**63), None, 2**63 - 1]),
    "naive_ts": (
        "v timestamp",
        [
            datetime(2024, 1, 15, 12, 0, 0, 123456),
            datetime(2024, 3, 10, 2, 30),  # DST gap
            datetime(2024, 11, 3, 1, 30),  # DST fold
            None,
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_df_matches_plain_constructor(spark, new_york, case):
    schema, values = CASES[case]
    rows = [(v,) for v in values]
    got = [r[0] for r in local_df(spark, rows, schema).collect()]
    want = [r[0] for r in spark.createDataFrame(rows, schema).collect()]
    assert len(got) == len(want) == len(values)
    assert all(_same(g, w) for g, w in zip(got, want)), (got, want)


def test_local_df_keeps_schema_and_stays_local(spark):
    df = local_df(spark, [("r~1", 1, 2, 3, 4, 5, "done")], MANIFEST_SCHEMA)
    assert df.schema == MANIFEST_SCHEMA
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    assert local_df(spark, [], MANIFEST_SCHEMA).count() == 0
    with pytest.raises(ValueError, match="arity"):
        local_df(spark, [("r~1", 1)], MANIFEST_SCHEMA)
