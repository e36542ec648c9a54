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


def test_nan_value_stored_as_null_on_every_path(srepo, spark):
    """A float NaN in a value column is stored as null whichever path
    writes it (the dict/pandas conversion's choice, made once in
    `segwriter.conform`): one segment address, one `frame()` result and
    one mask count. A Spark frame built from Python rows keeps NaN until
    the writer conforms it."""
    nan = float("nan")
    schema = Schema(ts="int*", value="float")
    sdf = spark.createDataFrame(
        [(1, nan), (2, 1.0)], "ts long, value double"
    ).coalesce(1)
    assert sdf.where("isnan(value)").count() == 1
    got = {}
    for path in ("dict", "pandas", "series_df", "datasource"):
        label = f"nan_{path}"
        coll = srepo.create_collection(schema, label)
        s = coll.series("x")
        if path == "dict":
            s.write({"ts": np.array([1, 2]), "value": np.array([nan, 1.0])})
        elif path == "pandas":
            s.write(pd.DataFrame({"ts": [1, 2], "value": [nan, 1.0]}))
        elif path == "series_df":
            s.write(sdf)
        else:
            (sdf.write.format("lakota").option("path", srepo.root)
             .option("table", f"{label}/x").mode("append").save())
        (seg,) = coll.snapshot().for_label("x")
        got[path] = (
            seg.path,
            [r.value for r in s.frame().collect()],
            s.frame(mask="(>= self.value 0)").count(),
        )
    assert got["dict"][1:] == ([None, 1.0], 1)
    for path, v in got.items():
        assert v == got["dict"], (path, v, got["dict"])


def test_float_index_keeps_nan_on_executor_path(srepo, spark):
    """An index column keeps NaN (it sorts after every number, where
    null sorts first), and a NaN-bearing float column publishes no
    parquet min/max: pyarrow skips NaN when it computes them."""
    import io

    import pyarrow.parquet as pq

    coll = srepo.create_collection(Schema(x="float*", v="float"), "nan_idx")
    s = coll.series("x")
    s.write(spark.createDataFrame(
        [(1.0, 1.0), (2.0, float("nan")), (float("nan"), 3.0)],
        "x double, v double",
    ).coalesce(1))
    got = [(r.x, r.v) for r in s.frame().collect()]
    assert got[:2] == [(1.0, 1.0), (2.0, None)] and got[2][1] == 3.0
    assert got[2][0] != got[2][0]  # NaN
    (seg,) = s.segments()
    rel = f"{coll.seg_prefix}/{seg.path}"
    (part,) = [p for p in coll.fs.ls(rel) if p.endswith(".parquet")]
    meta = pq.ParquetFile(io.BytesIO(coll.fs.read_bytes(f"{rel}/{part}")))
    rg = meta.metadata.row_group(0)
    stats = {rg.column(i).path_in_schema: rg.column(i).statistics
             for i in range(rg.num_columns)}
    assert stats["x"] is None or not stats["x"].has_min_max
    assert stats["v"].has_min_max and stats["v"].null_count == 1


@pytest.mark.parametrize("path", ["dict", "pandas", "series_df", "datasource"])
@pytest.mark.parametrize("alias", ["float", "str"])
def test_null_index_raises_before_staging(srepo, spark, path, alias):
    """A null index value cannot be ordered in a segment bound, so every
    write path refuses it, naming the column, before a segment is
    staged or published (it used to publish, then fail the commit)."""
    vals = [1.0, None, 0.5] if alias == "float" else ["b", None, "a"]
    coll = srepo.create_collection(
        Schema(k=f"{alias}*", v="int"), f"null_{alias}_{path}"
    )
    s = coll.series("x")
    data = {"k": vals, "v": [1, 2, 3]}
    sdf = spark.createDataFrame(
        list(zip(vals, data["v"])),
        f"k {'double' if alias == 'float' else 'string'}, v long",
    )
    with pytest.raises(Exception, match="index column 'k' holds"):
        if path == "dict":
            s.write(data)
        elif path == "pandas":
            s.write(pd.DataFrame(data))
        elif path == "series_df":
            s.write(sdf)
        else:
            (sdf.write.format("lakota").option("path", srepo.root)
             .option("table", f"{coll.label}/x").mode("append").save())
    left = coll.fs.ls(coll.seg_prefix)
    assert [p for p in left if not p.startswith("_tmp-")] == []
    if path != "datasource":
        # a failed data-source job can leave the staging dirs its other
        # tasks wrote; gc ages those out
        assert left == []
    assert s.segments() == []
