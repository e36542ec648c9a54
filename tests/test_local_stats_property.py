"""Property test: the segment writer's bounds (``n``/``lo``/``hi`` from
`segwriter.encode` over the driver-local table) must agree with Spark's
count/min/max of the engine-cast frame for every index-dtype combination
the driver-local path accepts — segment bounds drive pruning, so a
divergence is silent data loss."""

import datetime as dt

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakota_spark import segwriter
from lakota_spark.schema import Schema

ints = st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=8)
floats = st.lists(
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    min_size=1, max_size=8,
)
timestamps = st.lists(
    st.datetimes(
        min_value=dt.datetime(1971, 1, 1),
        max_value=dt.datetime(2200, 1, 1),
    ),
    min_size=1, max_size=8,
)
strings = st.lists(
    st.text(alphabet="abcXYZ019 _", min_size=0, max_size=12),
    min_size=1, max_size=8,
)

CASES = {
    "int": (ints, "int"),
    "float": (floats, "float"),
    "timestamp": (timestamps, "timestamp"),
    "str": (strings, "str"),
}


@pytest.fixture(scope="module")
def scratch(spark, tmp_path_factory):
    from lakota_spark.repo import Repo

    repo = Repo(str(tmp_path_factory.mktemp("ls-prop")), spark)
    out = {}
    for name, (_, alias) in CASES.items():
        coll = repo.create_collection(
            Schema(k=f"{alias}*", value="float"), f"c_{name}"
        )
        out[name] = coll.series("s")
    return out


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_stats_agree_with_spark(case, scratch, spark):
    strategy, _ = CASES[case]
    series = scratch[case]

    @settings(max_examples=30, deadline=None)
    @given(strategy)
    def check(vals):
        pdf = pd.DataFrame({"k": vals, "value": [0.0] * len(vals)})
        table = series._local_table(pdf)
        pages = segwriter.encode(table, series.schema)
        n, lo, hi = pages.n, pages.lo, pages.hi
        df = series.schema.cast(spark.createDataFrame(pdf))
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct(F.col("k"))).alias("lo"),
            F.max(F.struct(F.col("k"))).alias("hi"),
        ).collect()[0]
        assert n == row["n"]
        assert tuple(lo) == tuple(row["lo"]), (lo, row["lo"])
        assert tuple(hi) == tuple(row["hi"]), (hi, row["hi"])

    check()
