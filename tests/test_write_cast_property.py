"""Hypothesis differential for the one cast of in-memory writes: a dict,
pandas or row-list write (`segwriter.conform`, no Spark job) must store
what ``Series.write`` stores for the same rows as a Spark frame, which
``Schema.cast`` casts: the same rows and the same content address.

Inputs cover ISO strings with and without offsets or fractions,
pre-epoch values, NaT and ``None`` in value columns, ints and floats for
timestamps, ints for floats, tz-aware pandas timestamps and non-ASCII
text. A NaN float index is compared with `Series.write(DataFrame)`."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakota_spark.repo import Repo
from lakota_spark.schema import Schema

SCHEMA = Schema(k="int*", t="timestamp", f="float", s="str")
_OFFSETS = ["", "", "Z", "+02:00", "-05:30", "+0100", "+03"]
_moments = st.datetimes(
    min_value=dt.datetime(1900, 1, 1), max_value=dt.datetime(2100, 1, 1)
)


@st.composite
def _iso(draw):
    d = draw(_moments)
    if draw(st.integers(0, 5)) == 0:
        return d.date().isoformat()
    spec = draw(st.sampled_from(["seconds", "milliseconds", "microseconds"]))
    text = d.isoformat(sep=draw(st.sampled_from(["T", " "])), timespec=spec)
    return text + draw(st.sampled_from(_OFFSETS))


def _maybe_none(draw, values):
    """``values`` with some entries None, never the first (Spark infers
    a row-list column's type from its values)."""
    return [
        v if i == 0 or draw(st.integers(0, 3)) else None
        for i, v in enumerate(values)
    ]


@st.composite
def _inputs(draw):
    n = draw(st.integers(1, 6))
    k = draw(st.lists(
        st.integers(-50, 50), min_size=n, max_size=n, unique=True
    ))
    t_kind = draw(st.sampled_from(
        ["iso", "int", "float", "naive", "aware"]
    ))
    form = draw(st.sampled_from(["dict", "pandas", "rows"]))
    if t_kind == "iso":
        t = _maybe_none(draw, draw(st.lists(_iso(), min_size=n, max_size=n)))
    elif t_kind == "int":
        t = draw(st.lists(
            st.integers(-4 * 10**9, 4 * 10**9), min_size=n, max_size=n
        ))
    elif t_kind == "float":
        t = draw(st.lists(
            st.floats(-4e9, 4e9, allow_nan=False), min_size=n, max_size=n
        ))
    else:
        t = _maybe_none(draw, draw(st.lists(
            _moments, min_size=n, max_size=n
        )))
        if t_kind == "aware":
            # pandas only: a fixed-offset zone with no DST gaps
            form = "pandas"
            t = pd.Series(pd.to_datetime(t)).dt.tz_localize("Asia/Kolkata")
    f = draw(st.one_of(
        st.lists(st.integers(-10**6, 10**6), min_size=n, max_size=n),
        st.lists(st.floats(-1e6, 1e6), min_size=n, max_size=n),
    ))
    s = _maybe_none(draw, draw(st.lists(
        st.text(alphabet="aZ9 _éß東😀", max_size=5), min_size=n, max_size=n
    )))
    cols = {"k": k, "t": t, "f": f, "s": s}
    if form == "rows":
        return form, [dict(zip(cols, r)) for r in zip(*cols.values())]
    return form, pd.DataFrame(cols) if form == "pandas" else cols


@pytest.fixture(scope="module")
def crepo(spark, tmp_path_factory):
    return Repo(str(tmp_path_factory.mktemp("wcast")), spark)


def _stored(coll):
    (seg,) = coll.snapshot().for_label("x")
    return seg.path, seg.length, seg.start, seg.stop, seg.meta.get("zmap")


_N = [0]


def _label(prefix: str) -> str:
    _N[0] += 1
    return f"{prefix}_{_N[0]}"


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_inputs())
def test_one_cast_matches_schema_cast(crepo, spark, count_jobs, case):
    form, data = case
    mine = crepo.create_collection(SCHEMA, _label("mine"))
    ref = crepo.create_collection(SCHEMA, _label("ref"))
    assert count_jobs(lambda: mine.series("x").write(data)) == 0
    src = pd.DataFrame(data) if form == "dict" else data
    ref.series("x").write(spark.createDataFrame(src).coalesce(1))
    assert mine.series("x").df().equals(ref.series("x").df()), case
    assert _stored(mine) == _stored(ref), case


def test_nan_float_index_matches_series_df_path(crepo, spark):
    """A NaN float index value from a dict of NumPy arrays is stored as
    NaN, as `Series.write(DataFrame)` stores it."""
    schema = Schema(x="float*", v="float")
    mine = crepo.create_collection(schema, "nan_idx_mine")
    ref = crepo.create_collection(schema, "nan_idx_ref")
    x, v = [0.5, float("nan"), -1.0], [1.0, 2.0, float("nan")]
    mine.series("x").write({"x": np.array(x), "v": np.array(v)})
    ref.series("x").write(
        spark.createDataFrame(list(zip(x, v)), "x double, v double")
        .coalesce(1)
    )
    assert repr(_stored(mine)) == repr(_stored(ref))  # NaN != NaN
    got = mine.series("x").df()
    assert got["x"].tolist()[:2] == [-1.0, 0.5] and np.isnan(got["x"][2])


@pytest.mark.parametrize("data", [
    {"k": [1, 2], "t": ["2020-01-01", "2020-13-01"]},
    {"k": [1], "t": ["yesterday"]},
    {"k": [1], "t": [True]},
])
def test_malformed_timestamp_raises(crepo, data):
    coll = crepo.create_collection(
        Schema(k="int*", t="timestamp"), _label("bad")
    )
    with pytest.raises((ValueError, TypeError)):
        coll.series("x").write(data)
    assert coll.fs.ls(coll.seg_prefix) == []


@pytest.mark.parametrize("data", [
    {"ts": ["2020-01-01T10:00:00", "2020-01-01T11:00:00+02:00"],
     "name": ["a", None]},
    pd.DataFrame({"ts": ["2020-01-01", "2020-01-02"], "name": ["é", None]}),
    [{"ts": "2020-01-01 10:00", "name": None},
     {"ts": "2020-01-01 11:00Z", "name": "b"}],
])
def test_in_memory_writes_start_no_spark_job(crepo, count_jobs, data):
    coll = crepo.create_collection(
        Schema(ts="timestamp*", name="str"), _label("nojob")
    )
    s = coll.series("x")
    assert count_jobs(lambda: s.write(data)) == 0
    assert len(s.df()) == 2
