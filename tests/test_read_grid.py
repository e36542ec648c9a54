"""One read path, checked over a layout grid.

Every read of segments goes through `segscan` (the planner and scanner
shared by `Series.frame()`, `tail()`, `df()`, defrag and the ``lakota``
data source). This grid writes each layout the engine can produce —
clean appends, overlay-clipped segments, one file under two pieces,
disjoint and overlapping KV, time travel, a two-column index read with
prefix bounds, a timestamp index — on the file, HTTP and memory
backends, and checks, for bounds (one of them past the last key) and
masks inside and outside the pushable subset (``or``, NaN rows):

* ``frame()`` equals a row model of the writes (in sort order), and
  ``df()`` equals ``frame()`` in rows and dtypes, starting no Spark job
  unless the mask is outside the pushable subset;
* ``frame(sort=True)`` plans no Exchange, Sort or Join except for
  overlapping KV (the last-writer-wins window);
* the data source equals ``frame(sort=False)`` wherever it serves.
"""

import datetime as dt
import math
import tempfile
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lakota_spark import plans
from lakota_spark.datasource import register
from lakota_spark.schema import Schema

NAN = float("nan")
#: a start bound past the last key of every layout
PAST = 10**6


def write_keeping_nan(series, rows):
    """Commit ``rows`` (dicts in index order) as one segment whose float
    NaN values stay NaN. Every write path now stores a NaN value as null
    (`segwriter.conform`); segments written before that hold NaN, and
    reads must keep Spark's NaN semantics on them."""
    import pyarrow as pa

    from lakota_spark import segwriter
    from lakota_spark.commit import Segment

    coll = series.collection
    tbl = pa.Table.from_pylist(rows, schema=series.schema.pyarrow_schema())
    pages = segwriter.encode(tbl, series.schema)
    path, digest = segwriter.publish(coll.fs, coll.seg_prefix, pages)
    meta = {"digest": digest}
    if pages.zmap:
        meta["zmap"] = pages.zmap
    series._commit_segment(Segment(
        series.label, pages.lo, pages.hi, True, True, path, pages.n,
        meta=meta,
    ))


class Layout:
    """A series plus a row model of its writes: key tuple -> row."""

    def __init__(self, coll, label, kv=False):
        self.series = coll.series(label)
        self.table = f"{coll.label}/{label}"
        self.kv = kv
        self.model: dict = {}
        self.before = None

    def write(self, rows, start=None, stop=None, df=None, keep_nan=False):
        s = self.series
        idx = list(s.schema.idx)
        keys = [tuple(r[c] for c in idx) for r in rows]
        if not self.kv:
            lo = start if start is not None else min(keys)
            hi = stop if stop is not None else max(keys)
            lo, hi = s.schema.coerce_bound(lo), s.schema.coerce_bound(hi)
            for k in list(self.model):
                if lo <= k[: len(lo)] and k[: len(hi)] <= hi:
                    del self.model[k]
        self.model.update(zip(keys, rows))
        if keep_nan:
            write_keeping_nan(s, rows)
        elif df is not None:
            s.write(df)
        else:
            cols = {c: [r[c] for r in rows] for c in s.schema.columns}
            s.write(cols, start=start, stop=stop)

    def expected(
        self, spark, start=None, stop=None, closed="b", sql=None, select=None
    ):
        s = self.series
        lo = s.schema.coerce_bound(start)
        hi = s.schema.coerce_bound(stop)
        lo_c, hi_c = closed in "bl", closed in "br"
        rows = []
        for k in sorted(self.model):
            if lo is not None and not (
                k[: len(lo)] > lo or (lo_c and k[: len(lo)] == lo)
            ):
                continue
            if hi is not None and not (
                k[: len(hi)] < hi or (hi_c and k[: len(hi)] == hi)
            ):
                continue
            rows.append(self.model[k])
        cols = list(s.schema.columns)
        df = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows],
            s.schema.struct_type(),
        )
        if sql is not None:
            df = df.where(sql)
        return _rows(df.orderBy(*s.schema.idx).select(*(select or cols)))


def _rows(df):
    return [
        tuple("nan" if isinstance(v, float) and math.isnan(v) else v
              for v in r)
        for r in df.collect()
    ]


def _pdf_rows(pdf):
    return [
        tuple(
            "nan" if isinstance(v, float) and math.isnan(v)
            else v.to_pydatetime() if isinstance(v, pd.Timestamp)
            else v
            for v in r
        )
        for r in pdf.itertuples(index=False)
    ]


def _rng(lo, hi):
    return [{"ts": i, "value": float(i % 7)} for i in range(lo, hi)]


def build_grid(repo):
    """Every layout of the grid, written into ``repo``: name -> Layout."""
    plain = repo.create_collection(Schema(ts="int*", value="float"), "p")
    out = {}

    lay = out["clean"] = Layout(plain, "clean")
    for lo in (80, 0, 40):  # disjoint, written out of interval order
        lay.write(_rng(lo, lo + 40))

    lay = out["clipped"] = Layout(plain, "clipped")
    for lo in (0, 40, 80):
        lay.write(_rng(lo, lo + 40))
    # overlay clips [0, 40) and [40, 80): rows 31..44 go, 30/45 change
    lay.write(
        [{"ts": 30, "value": 9.0}, {"ts": 45, "value": 9.0}],
        start=30, stop=45,
    )

    lay = out["two_pieces"] = Layout(plain, "two_pieces")
    lay.write(_rng(0, 100))
    lay.write([{"ts": 40, "value": 9.0}, {"ts": 50, "value": 9.0}])

    lay = out["nan"] = Layout(plain, "nan")
    lay.write(_rng(0, 30))
    nan_rows = [
        {"ts": i, "value": NAN if i % 3 == 0 else float(i % 7)}
        for i in range(30, 60)
    ]
    # segments that store NaN values (written before every write path
    # stored them as null)
    lay.write(nan_rows, keep_nan=True)
    lay.write([{"ts": 35, "value": 2.0}, {"ts": 40, "value": NAN}],
              keep_nan=True)

    lay = out["before"] = Layout(plain, "before")
    lay.write(_rng(0, 60))
    snap_model = dict(lay.model)
    time.sleep(0.01)
    lay.before = time.time()
    time.sleep(0.01)
    lay.write([{"ts": 20, "value": 9.0}], start=10, stop=30)
    lay.model = snap_model  # reads below time-travel to the cut

    two = repo.create_collection(
        Schema(ts="int*", k="str*", value="float"), "two"
    )
    lay = out["two_col"] = Layout(two, "x")
    rows = [
        {"ts": t, "k": k, "value": float(t % 7)}
        for t in range(12) for k in "abc"
    ]
    lay.write(rows[:18])
    lay.write(rows[18:])
    lay.write([{"ts": 5, "k": "b", "value": 9.0}], start=(5, "a"),
              stop=(5, "c"))

    tsc = repo.create_collection(Schema(ts="timestamp*", value="float"), "t")
    lay = out["ts_clipped"] = Layout(tsc, "x")
    base = dt.datetime(2024, 1, 1)
    lay.write([{"ts": base + dt.timedelta(hours=i), "value": float(i % 7)}
               for i in range(60)])
    lay.write([{"ts": base + dt.timedelta(hours=h), "value": 9.0}
               for h in (20, 30)])

    kvc = repo.create_collection(
        Schema.kv_schema(ts="int*", value="float"), "kv"
    )
    lay = out["kv_disjoint"] = Layout(kvc, "disjoint", kv=True)
    for lo in (40, 0, 20):
        lay.write(_rng(lo, lo + 20))
    lay = out["kv_overlap"] = Layout(kvc, "overlap", kv=True)
    lay.write(_rng(0, 40))
    lay.write([{"ts": i, "value": 9.0} for i in range(10, 30, 3)])
    lay.write([{"ts": i, "value": 8.0} for i in range(25, 50, 4)])
    return out


@pytest.fixture(scope="module")
def grid(spark):
    from lakota_spark.repo import Repo

    register(spark)
    return build_grid(Repo(tempfile.mkdtemp(prefix="lakota-grid-"), spark))


@pytest.fixture(scope="module")
def store_grid(module_store_repo):
    return build_grid(module_store_repo)


#: (frame kwargs, model kwargs): bounds, closedness, select, and masks
#: inside (incl. ``or`` and NaN-sensitive) and outside the pushable subset
READS = {
    "all": ({}, {}),
    "range": ({"start": 12, "stop": 70}, {"start": 12, "stop": 70}),
    "open": ({"start": 12, "stop": 70, "closed": "n"},
             {"start": 12, "stop": 70, "closed": "n"}),
    "select": ({"start": 12, "select": ["value"]},
               {"start": 12, "select": ["value"]}),
    "lt": ({"mask": "(< self.value 3)"}, {"sql": "value < 3"}),
    "or": ({"mask": "(or (< self.value 1) (> self.value 5))"},
           {"sql": "value < 1 or value > 5"}),
    "nan_ge": ({"mask": "(>= self.value 4)"}, {"sql": "value >= 4"}),
    "nan_ne": ({"mask": "(!= self.value 2)"}, {"sql": "value != 2"}),
    "arith": ({"mask": "(< (* self.value 2) 5)", "start": 3},
              {"sql": "value * 2 < 5", "start": 3}),
    "empty": ({"start": PAST}, {"start": PAST}),
}

LAYOUTS = [
    "clean", "clipped", "two_pieces", "nan", "before", "two_col",
    "ts_clipped", "kv_disjoint", "kv_overlap",
]


def _adapt(layout, kw):
    """Bounds per index type: prefix bounds on the two-column index,
    datetimes on the timestamp index."""
    kw = dict(kw)
    for b in ("start", "stop"):
        if b not in kw:
            continue
        if kw[b] == PAST:
            kw[b] = (
                (PAST,) if layout == "two_col"
                else dt.datetime(2100, 1, 1) if layout == "ts_clipped"
                else PAST
            )
        elif layout == "two_col":
            kw[b] = (kw[b] % 12,) if b == "start" else (7, "b")
        elif layout == "ts_clipped":
            kw[b] = dt.datetime(2024, 1, 1) + dt.timedelta(hours=kw[b] // 2)
    return kw


def check_frame_and_df(spark, grid, layout, read, count_jobs):
    lay = grid[layout]
    fkw, mkw = (_adapt(layout, kw) for kw in READS[read])
    if lay.before is not None:
        fkw["before"] = lay.before
    df = lay.series.frame(**fkw)
    want = lay.expected(spark, **mkw)
    assert _rows(df) == want
    plan = plans.explain_str(df, "simple")
    if layout == "kv_overlap" and read != "empty":
        assert "Window" in plan, plan
    else:
        for node in ("Exchange", "Sort", "Join"):
            assert node not in plan, plan
    got = []
    jobs = count_jobs(lambda: got.append(lay.series.df(**fkw)))
    assert _pdf_rows(got[0]) == want
    # only a mask outside the pushable subset reads through Spark
    if read != "arith":
        assert jobs == 0
    assert list(got[0].dtypes.items()) == list(df.toPandas().dtypes.items())


@pytest.mark.parametrize("read", list(READS))
@pytest.mark.parametrize("layout", LAYOUTS)
def test_frame_matches_model_and_df(spark, grid, layout, read, count_jobs):
    check_frame_and_df(spark, grid, layout, read, count_jobs)


@pytest.mark.parametrize("read", list(READS))
@pytest.mark.parametrize("layout", LAYOUTS)
def test_frame_matches_model_and_df_on_store(
    spark, store_grid, layout, read, count_jobs
):
    """The same grid on the HTTP and memory backends."""
    check_frame_and_df(spark, store_grid, layout, read, count_jobs)


@pytest.mark.parametrize("read", ["all", "range", "lt", "or", "nan_ge",
                                  "nan_ne", "arith"])
@pytest.mark.parametrize(
    "layout", [x for x in LAYOUTS if x != "kv_overlap"]
)
def test_datasource_matches_frame(spark, grid, layout, read):
    lay = grid[layout]
    fkw, mkw = (_adapt(layout, kw) for kw in READS[read])
    r = (
        spark.read.format("lakota")
        .option("path", lay.series.collection.repo.root)
        .option("table", lay.table)
    )
    if lay.before is not None:
        r = r.option("before", str(lay.before))
        fkw["before"] = lay.before
    ds = r.load()
    cols = list(lay.series.schema.columns)
    if "start" in fkw:  # the same closed interval as a SQL filter
        start = fkw["start"]
        if layout == "two_col":
            ds = ds.where(f"ts >= {start[0]}")
        else:
            ds = ds.where(F.col("ts") >= F.lit(start))
    if "stop" in fkw:
        stop = fkw["stop"]
        if layout == "two_col":
            ds = ds.where("ts < 7 or (ts = 7 and k <= 'b')")
        else:
            ds = ds.where(F.col("ts") <= F.lit(stop))
    if "sql" in mkw:
        ds = ds.where(mkw["sql"])
    got = sorted(_rows(ds.select(*cols)), key=str)
    ref = sorted(_rows(lay.series.frame(sort=False, **fkw)), key=str)
    assert got == ref


def test_grid_builds_without_spark_jobs(any_repo, count_jobs):
    """Every layout of the grid is built by dict and row-list writes,
    which cast and encode in this process: no Spark job on any
    backend."""
    assert count_jobs(lambda: build_grid(any_repo)) == 0
