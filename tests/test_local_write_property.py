"""Hypothesis differential for the two driver-local write paths: for
every dict-of-numpy input the arrow fast path accepts, the segment it
writes must be BYTE-IDENTICAL (same content address) to the pandas
path's, with the same zone map and bounds — content addressing backs
dedup and the double-write no-op, so any divergence silently doubles
storage or breaks idempotence. Covers dtype width variation
(int32/uint32/int64, float32/float64, M8[s/ms/us/ns]), NaN (stored as
parquet NULL on both paths), unsorted input (stable lexsort vs stable
sort_values), and duplicate index values. Fixed inputs then pin the same
identity across all four write paths (dict, pandas, `Series.write` of a
Spark DataFrame, and the ``lakota`` data source)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakota_spark.repo import Repo
from lakota_spark.schema import Schema
from lakota_spark.segwriter import PAGE_LEN

_int_dtypes = st.sampled_from(["int32", "int64", "uint32"])
_float_dtypes = st.sampled_from(["float32", "float64"])
_ts_units = st.sampled_from(["s", "ms", "us", "ns"])


@st.composite
def _frames(draw):
    n = draw(st.integers(1, 9))
    kd = draw(_int_dtypes)
    lo = 0 if kd.startswith("u") else -1000
    k = np.array(
        draw(st.lists(st.integers(lo, 1000), min_size=n, max_size=n)),
        dtype=kd,
    )
    vals = draw(
        st.lists(
            st.one_of(
                st.floats(-1e6, 1e6, allow_nan=False, width=32),
                st.just(float("nan")),
            ),
            min_size=n,
            max_size=n,
        )
    )
    v = np.array(vals, dtype=draw(_float_dtypes))
    unit = draw(_ts_units)
    secs = draw(
        st.lists(
            st.integers(0, 2**31 - 1), min_size=n, max_size=n
        )
    )
    t = np.array(secs, dtype="i8").view(f"M8[s]").astype(f"M8[{unit}]")
    if draw(st.booleans()):
        # strided views (arr[::2]) must not break the zero-copy path
        k = np.repeat(k, 2)[::2]
        t = np.repeat(t, 2)[::2]
        v = np.repeat(v, 2)[::2]
    return {"k": k, "t": t, "v": v}


@pytest.fixture(scope="module")
def wrepo(tmp_path_factory):
    return Repo(str(tmp_path_factory.mktemp("wprop")))


_N = [0]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_frames())
def test_fast_and_pandas_paths_byte_identical(wrepo, data):
    _N[0] += 1
    i = _N[0]
    schema = Schema(k="int*", t="timestamp", v="float")
    ca = wrepo.create_collection(schema, f"pa_{i}")
    cb = wrepo.create_collection(schema, f"pb_{i}")
    sa, sb = ca.series("x"), cb.series("x")
    sa.write(data)
    sb.write(pd.DataFrame(data))
    ga = sorted(wrepo.fs.ls(f"pa_{i}/segments"))
    gb = sorted(wrepo.fs.ls(f"pb_{i}/segments"))
    assert ga == gb, (data, ga, gb)
    assert (
        sa.segments()[0].meta.get("zmap")
        == sb.segments()[0].meta.get("zmap")
    )
    assert sa.segments()[0].start == sb.segments()[0].start
    assert sa.segments()[0].stop == sb.segments()[0].stop
    assert sa.df().equals(sb.df())


# -- one segment writer: all four write paths --------------------------------

_FIXED = {
    # name: (rows, with a gzip-hinted str column)
    "small": (20, True),
    "page_minus_1": (PAGE_LEN - 1, False),
    "page": (PAGE_LEN, False),
    "page_plus_1": (PAGE_LEN + 1, False),
}


def _fixed_frame(n: int, with_str: bool) -> pd.DataFrame:
    i = np.arange(n, dtype="i8")
    cols = {
        "k": i * 3 - 7,
        "t": (i * 1000 + 123_456_789).astype("M8[ms]"),
        "v": np.where(i % 7 == 3, np.nan, np.cos(i.astype("f8"))),
    }
    if with_str:
        cols["s"] = np.array([f"s{j % 13}" for j in range(n)], dtype=object)
    return pd.DataFrame(cols)


@pytest.fixture(scope="module")
def srepo(spark, tmp_path_factory):
    from lakota_spark import datasource

    datasource.register(spark)
    return Repo(str(tmp_path_factory.mktemp("wpaths")), spark)


@pytest.mark.parametrize("case", sorted(_FIXED))
def test_all_write_paths_byte_identical(srepo, spark, case):
    """The dict path, the pandas path, `Series.write(DataFrame)` and the
    ``lakota`` data source encode one-partition input through the same
    segment writer: same pages, same segment name, zone map and bounds —
    at the PAGE_LEN edges (half-page split / two pages) and with empty
    partitions in the Spark inputs."""
    n, with_str = _FIXED[case]
    extra = {"s": "str|gzip"} if with_str else {}
    schema = Schema(k="int*", t="timestamp", v="float", **extra)
    pdf = _fixed_frame(n, with_str)
    proj = ["0L AS k", "timestamp'2000-01-01' AS t", "0.0 AS v"]
    if with_str:
        proj.append("'' AS s")
    # two empty partitions ahead of the one holding the rows
    empty = spark.range(0, 0, 1, 2).selectExpr(*proj)
    sdf = empty.union(spark.createDataFrame(pdf).coalesce(1))
    got = {}
    for path in ("dict", "pandas", "series_df", "datasource"):
        label = f"{case}_{path}"
        coll = srepo.create_collection(schema, label)
        if path == "dict":
            coll.series("x").write({c: pdf[c].to_numpy() for c in pdf})
        elif path == "pandas":
            coll.series("x").write(pdf)
        elif path == "series_df":
            coll.series("x").write(sdf)
        else:
            (sdf.write.format("lakota").option("path", srepo.root)
             .option("table", f"{label}/x").mode("append").save())
        (seg,) = coll.snapshot().for_label("x")
        got[path] = (
            seg.path, seg.length, seg.start, seg.stop, seg.meta.get("zmap")
        )
    assert got["dict"][1] == n
    for path, v in got.items():
        assert v == got["dict"], (path, v, got["dict"])
