"""Series semantics — the critical suite (reference `tests/series_test.py`).

Golden values mirror the reference's fixtures (FIXTURES.md F1/F2):
overlay/spill/adjacent writes, closed bounds, widened-bound deletes,
double-write no-op, time travel, tail, paginate, range delete.
"""

import time

import pytest

from lakota_spark.schema import Schema

TS = [1589455903, 1589455904, 1589455905]


@pytest.fixture()
def repo(any_repo):
    """Storage matrix: every series test runs over file AND http."""
    return any_repo


@pytest.fixture()
def series(repo):
    coll = repo.create_collection(Schema(timestamp="int*", value="float"), "temp")
    s = coll.series("paris")
    s.write({"timestamp": TS, "value": [3.3, 4.4, 5.5]})
    return s


def rows(df):
    return [(r[0], r[1]) for r in df.collect()]


def test_roundtrip(series):
    # reference `tests/series_test.py:63-67`
    assert rows(series.frame()) == list(zip(TS, [3.3, 4.4, 5.5]))


def test_overlay_overlap(series):
    # later write shadows the overlapped interval (`series_test.py:86-227`)
    series.write({"timestamp": [1589455904, 1589455905, 1589455906],
                  "value": [40.0, 50.0, 60.0]})
    assert rows(series.frame()) == [
        (1589455903, 3.3),
        (1589455904, 40.0),
        (1589455905, 50.0),
        (1589455906, 60.0),
    ]


def test_closed_bounds(series):
    # islice closed-bound matrix (`tests/frame_test.py:30-55`)
    f = series.frame
    assert rows(f(start=TS[0], stop=TS[2], closed="b")) == list(
        zip(TS, [3.3, 4.4, 5.5])
    )
    assert rows(f(start=TS[0], stop=TS[2], closed="l")) == [
        (TS[0], 3.3), (TS[1], 4.4)
    ]
    assert rows(f(start=TS[0], stop=TS[2], closed="r")) == [
        (TS[1], 4.4), (TS[2], 5.5)
    ]
    assert rows(f(start=TS[0], stop=TS[2], closed="n")) == [(TS[1], 4.4)]


def test_widened_write_deletes(series):
    # explicit wider bounds erase shadowed rows (`series_test.py:251-371`)
    series.write(
        {"timestamp": [1589455904], "value": [99.0]},
        start=TS[0], stop=TS[2],
    )
    assert rows(series.frame()) == [(1589455904, 99.0)]


def test_adjacent_write_no_shadow(series):
    series.write({"timestamp": [1589455906], "value": [6.6]})
    assert len(series.frame().collect()) == 4


def test_range_delete(series):
    # delete = empty overlay (`lakota/series.py:227-229`)
    series.delete(TS[1], TS[1])
    assert rows(series.frame()) == [(TS[0], 3.3), (TS[2], 5.5)]


def test_double_write_noop(series):
    coll = series.collection
    n = len(coll.changelog.revisions())
    series.write({"timestamp": TS, "value": [3.3, 4.4, 5.5]})
    assert len(coll.changelog.revisions()) == n


def test_content_dedup_across_series(series):
    # identical data stored once (`lakota/commit.py:38-46`)
    brussels = series.collection.series("brussels")
    brussels.write({"timestamp": TS, "value": [3.3, 4.4, 5.5]})
    a = series.collection.snapshot().for_label("paris")[0]
    b = series.collection.snapshot().for_label("brussels")[0]
    assert a.path == b.path


def test_time_travel(series):
    # `before=` reads an older snapshot (`series_test.py:413-431`)
    cut = time.time()
    time.sleep(0.01)
    series.write({"timestamp": [1589455904], "value": [99.0]})
    assert rows(series.frame()) != rows(series.frame(before=cut))
    assert rows(series.frame(before=cut)) == list(zip(TS, [3.3, 4.4, 5.5]))


def test_before_now_sees_a_burst_of_appends(repo):
    # commit stamps must not run ahead of the wall clock: appends that
    # land several to a millisecond are all older than time.time()
    coll = repo.create_collection(Schema(timestamp="int*", value="float"), "b")
    s = coll.series("x")
    for i in range(300):
        s.write({"timestamp": [i], "value": [float(i)]})
    assert len(s.df(before=time.time())) == 300


def test_staging_name_leaves_commit_clock_alone():
    # staging dirs are unique by their uid: naming one must not bump the
    # monotonic commit clock
    from lakota_spark.changelog import hexts, staging_name

    first = int(hexts(), 16)
    for _ in range(1000):
        staging_name("u")
    assert int(hexts(), 16) <= max(int(time.time() * 1000), first + 1)


def test_select_limit_offset(series):
    f = series.frame(select=["value"], limit=2, offset=1)
    assert [r.value for r in f.collect()] == [4.4, 5.5]
    assert f.columns == ["value"]


def test_tail(series):
    assert rows(series.tail(2)) == [(TS[1], 4.4), (TS[2], 5.5)]
    assert rows(series.tail(10)) == list(zip(TS, [3.3, 4.4, 5.5]))


def test_tail_filter_slice_select(series):
    # reference tail kwargs (`lakota/series.py:261-271`,
    # `tests/series_test.py:667-717`): range pre-filter, slice, projection
    assert rows(series.tail(2, stop=TS[2], closed="l")) == [
        (TS[0], 3.3), (TS[1], 4.4)
    ]
    assert rows(series.tail(3, start=TS[1])) == [(TS[1], 4.4), (TS[2], 5.5)]
    # slice semantics: rows [offset, offset+limit) of the tail frame
    assert rows(series.tail(3, limit=1, offset=1)) == [(TS[1], 4.4)]
    assert rows(series.tail(3, limit=2)) == [(TS[0], 3.3), (TS[1], 4.4)]
    out = series.tail(2, select=["value"])
    assert out.columns == ["value"]
    assert sorted(r.value for r in out.collect()) == [4.4, 5.5]


def test_paginate(series):
    pages = [rows(p) for p in series.paginate(2)]
    assert pages == [[(TS[0], 3.3), (TS[1], 4.4)], [(TS[2], 5.5)]]


def test_len(series):
    assert len(series) == 3
    assert series.meta_len() == 3


def test_fragmented_writes(repo):
    # fwd/bwd/random chunks reassemble correctly (`series_test.py:551-576`)
    coll = repo.create_collection(Schema(timestamp="int*", value="float"), "frag")
    s = coll.series("s")
    for lo in (4, 0, 2):  # out-of-order chunk writes
        s.write({"timestamp": [lo, lo + 1], "value": [float(lo), float(lo + 1)]})
    assert rows(s.frame()) == [(i, float(i)) for i in range(6)]


def test_multi_column_index(repo):
    # F3: prefix pruning + lexicographic sort
    coll = repo.create_collection(
        Schema(timestamp="int*", version="int*", value="float"), "multi"
    )
    s = coll.series("s")
    s.write({
        "timestamp": [1589455903, 1589455903, 1589455904, 1589455904],
        "version": [1, 2, 1, 2],
        "value": [3.3, 4.4, 5.5, 6.6],
    })
    out = s.frame(start=(1589455903, 2), stop=(1589455904, 1)).collect()
    assert [(r.timestamp, r.version, r.value) for r in out] == [
        (1589455903, 2, 4.4), (1589455904, 1, 5.5)
    ]
    # prefix bound: only leading column constrained
    out = s.frame(start=1589455904).collect()
    assert len(out) == 2


def test_column_types_matrix(repo):
    # reference `tests/series_test.py:374-386`: every schema type round-trips
    # in both index and payload position, for every index length
    import datetime as dt

    aliases = ["date", "timestamp", "float", "int", "str"]
    row = {
        "date": dt.date(2020, 1, 1),
        "timestamp": dt.datetime(2020, 1, 1, 12, 0, 0),
        "float": 1.5,
        "int": 7,
        "str": "x",
    }
    for idx_len in range(1, len(aliases)):
        stars = ["*"] * idx_len + [""] * (len(aliases) - idx_len)
        sch = Schema(**{c: c + s for c, s in zip(aliases, stars)})
        coll = repo.create_collection(sch, f"types{idx_len}")
        s = coll.series("-")
        s.write({c: [row[c]] for c in aliases})
        got = s.frame().collect()[0]
        for c in aliases:
            assert got[c] == row[c], (idx_len, c, got[c])


def test_slice_syntax(series):
    # quickstart front-page API: `series[:stop].df()`, both-closed bounds
    assert rows(series[: TS[1]].frame()) == [(TS[0], 3.3), (TS[1], 4.4)]
    assert rows(series[TS[1] :].frame()) == [(TS[1], 4.4), (TS[2], 5.5)]
    pdf = series[TS[0] : TS[2]].df()
    assert list(pdf["value"]) == [3.3, 4.4, 5.5]
    assert len(series[: TS[1]]) == 2


def test_root_write_reset(series):
    # reference `Series.write(root=True)`: commit as a new root — reads
    # see only the reset; the old chain stays reachable as a branch
    series.write({"timestamp": [9999], "value": [99.0]}, root=True)
    assert rows(series.frame()) == [(9999, 99.0)]
    assert len(series.collection.changelog.leaves()) == 2


def test_root_range_delete_reset(series):
    # empty data + explicit bounds = range delete; with root=True it must
    # commit as a NEW ROOT (total reset), not a normal overlay
    series.write({"timestamp": [], "value": []}, start=TS[0], stop=TS[1],
                 root=True)
    assert rows(series.frame()) == []  # reset discarded TS[2] too
    assert len(series.collection.changelog.leaves()) == 2


def test_series_bool(series):
    # reference `tests/series_test.py:721-724`
    assert bool(series)
    assert not bool(series.collection.series("i-do-not-exist"))


def test_write_checkpoint_same_content_address(repo, spark):
    # the shuffle-input checkpoint optimization must not change the
    # written bytes: identical data -> identical content address,
    # regardless of the checkpoint path taken
    from pyspark.sql import functions as F

    coll = repo.create_collection(Schema(ts="int*", value="float"), "ck")
    base = spark.range(0, 200).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    src = (
        base.groupBy("k")
        .agg(F.sum("v").cast("double").alias("value"))
        .select(F.col("k").alias("ts"), "value")
    )
    s1, s2 = coll.series("a"), coll.series("b")
    s1.write(src, checkpoint=True)
    s2.write(src, checkpoint=False)
    snap = coll.snapshot()
    seg1 = snap.for_label("a")[0]
    seg2 = snap.for_label("b")[0]
    assert seg1.path == seg2.path  # content-dedup: same digest dir
    assert rows(s1.frame()) == rows(s2.frame())


def test_local_stats_match_spark_stats(repo, spark):
    # the driver-local bounds fast path must record byte-identical segment
    # metadata to the Spark stats job, for every index type
    import datetime as dt

    coll = repo.create_collection(
        Schema(ts="timestamp*", k="int*", value="float"), "ls"
    )
    data = {
        "ts": [dt.datetime(2020, 1, 1, 5, 6, 7), dt.datetime(2020, 2, 1)],
        "k": [3, 1],
        "value": [1.0, 2.0],
    }
    coll.series("a").write(data)  # dict -> local fast path
    sdf = spark.createDataFrame(
        list(zip(data["ts"], data["k"], data["value"])),
        "ts timestamp, k long, value double",
    )
    coll.series("b").write(sdf)  # DataFrame -> Spark stats job
    snap = coll.snapshot()
    sa, sb = snap.for_label("a")[0], snap.for_label("b")[0]
    assert (sa.start, sa.stop, sa.length) == (sb.start, sb.stop, sb.length)
    # Content addresses are deterministic for the same rows in the same
    # page layout (that is what SKIP-WRITE dedup needs); an executor write
    # pages per input partition, so a multi-partition frame may address
    # differently from the one-page driver-local write.
    coll.series("c").write(dict(data))  # same dict again -> same address
    sc = coll.snapshot().for_label("c")[0]
    assert sc.path == sa.path
    # and both paths read back identically
    a_rows = coll.series("a").df().values.tolist()
    b_rows = coll.series("b").df().values.tolist()
    assert a_rows == b_rows


def test_unsorted_write_validation(repo):
    coll = repo.create_collection(Schema(timestamp="int*", value="float"), "v")
    s = coll.series("s")
    with pytest.raises(ValueError):
        s.write(
            {"timestamp": [3, 1, 2], "value": [1.0, 2.0, 3.0]},
            validate_sorted=True,
        )


def test_timestamp_schema_casts(repo):
    # F2: string inputs auto-cast to (second-precision) timestamps
    coll = repo.create_collection(
        Schema(timestamp="timestamp*", value="float"), "ts"
    )
    s = coll.series("s")
    s.write({
        "timestamp": ["1970-01-01T00:00:01", "1970-01-01 00:00:02"],
        "value": [11.0, 12.0],
    })
    out = s.frame(start="1970-01-01T00:00:02").collect()
    assert len(out) == 1 and out[0].value == 12.0


def test_records_and_period(series):
    recs = list(series.records())
    assert recs[0] == {"timestamp": TS[0], "value": 3.3}
    # 3 rows spanning 2 units -> period 1.0
    assert series.period() == 1.0
    assert series.interval(target_rows=10) == 10.0
    # Interval.bisect parity (`lakota/utils.py:289-304`): smallest natural
    # unit strictly wider than the target span
    assert series.interval_unit(target_rows=10) == "m"
    assert series.interval_unit(target_rows=100_000) == "W"
    assert series.interval_unit(target_rows=40_000_000) is None


def test_tail_after_overlay_narrowing(series):
    # seg.length is a physical upper bound: a range delete narrows the
    # last segment's effective rows, so the optimistic metadata prune must
    # verify and widen (ADVICE r1) instead of returning short.
    series.write({"timestamp": [1589455910, 1589455911, 1589455912],
                  "value": [6.0, 7.0, 8.0]})
    series.delete(1589455911, 1589455999)  # last segment: 3 rows -> 1
    assert rows(series.tail(3)) == [
        (1589455904, 4.4), (1589455905, 5.5), (1589455910, 6.0)
    ]
    assert rows(series.tail(10)) == [
        (1589455903, 3.3), (1589455904, 4.4), (1589455905, 5.5),
        (1589455910, 6.0),
    ]


def test_write_bounds_must_contain_data(series):
    # explicit bounds may only widen (reference asserts containment)
    with pytest.raises(ValueError):
        series.write({"timestamp": TS, "value": [1.0, 2.0, 3.0]},
                     start=TS[1], stop=TS[2] + 100)
    with pytest.raises(ValueError):
        series.write({"timestamp": TS, "value": [1.0, 2.0, 3.0]},
                     start=TS[0], stop=TS[1])
    # open bound exactly at the data min also excludes a row
    with pytest.raises(ValueError):
        series.write({"timestamp": TS, "value": [1.0, 2.0, 3.0]},
                     start=TS[0], stop=TS[2], closed="r")
    # widening stays allowed (and deletes what it shadows)
    series.write({"timestamp": [TS[0]], "value": [9.0]},
                 start=TS[0] - 100, stop=TS[2] + 100)
    assert rows(series.frame()) == [(TS[0], 9.0)]


def test_content_hash_executor_side(repo, monkeypatch):
    # Series.write(DataFrame) encodes AND hashes on the executors
    # (segwriter.encode inside mapInArrow): no binaryFile hashing job,
    # no segment bytes read on the driver — and the published digest is
    # still the Merkle combine of the per-file sha1 of the published
    # files, read back through the FS (content addresses agree across
    # backends: push/pull dedup relies on this).
    import hashlib
    import io

    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader

    from lakota_spark import fsio

    assert not hasattr(fsio.BaseFS, "files_sha1")
    coll = repo.create_collection(
        Schema(key="str*|gzip", value="float"), "exec"
    )
    spark = repo.spark
    rows = [(f"k{i:03d}", float("nan") if i % 5 == 0 else i * 0.5)
            for i in range(40)]
    df = spark.createDataFrame(rows, "key string, value double")
    df = df.repartitionByRange(3, "key").localCheckpoint()

    formats, seg_reads = [], []
    orig_format = DataFrameReader.format
    monkeypatch.setattr(
        DataFrameReader,
        "format",
        lambda self, source: formats.append(source)
        or orig_format(self, source),
    )
    fs_cls = type(repo.fs)
    orig_read = fs_cls.read_bytes
    monkeypatch.setattr(
        fs_cls,
        "read_bytes",
        lambda self, rel: seg_reads.append(rel) or orig_read(self, rel),
    )
    for name in ("ParquetFile", "read_table"):
        orig = getattr(pq, name)
        monkeypatch.setattr(
            pq,
            name,
            lambda *a, _n=name, _f=orig, **k: seg_reads.append(_n)
            or _f(*a, **k),
        )
    coll.series("x").write(df)
    monkeypatch.undo()
    assert "binaryFile" not in formats, formats
    assert [r for r in seg_reads if "/segments/" in str(r) or
            r in ("ParquetFile", "read_table")] == [], seg_reads

    seg = coll.snapshot().for_label("x")[0]
    assert seg.length == 40
    seg_rel = f"{coll.seg_prefix}/{seg.path}"
    parts = sorted(p for p in repo.fs.ls(seg_rel) if p.endswith(".parquet"))
    assert len(parts) == 3  # one page per input partition
    blobs = [repo.fs.read_bytes(f"{seg_rel}/{p}") for p in parts]
    digest = fsio.FS.combine_sha1(
        [hashlib.sha1(b).hexdigest() for b in blobs]  # noqa: S324
    )
    assert seg.meta["digest"] == digest and seg.path == digest[:20]
    # the schema's codec hint holds on the executor path too (one
    # encoder for every writer); the NaN values arrive as null, as on
    # the driver-local path, so the value column publishes min/max
    # (the NaN stat omission is pinned on a float index in
    # tests/test_local_write_property.py)
    nulls = 0
    for b in blobs:
        rg = pq.ParquetFile(io.BytesIO(b)).metadata.row_group(0)
        cols = {rg.column(i).path_in_schema: rg.column(i)
                for i in range(rg.num_columns)}
        assert cols["key"].compression == "GZIP"
        assert cols["key"].statistics.has_min_max
        assert cols["value"].statistics.has_min_max
        nulls += cols["value"].statistics.null_count
    assert nulls == 8
    assert coll.series("x").df()["key"].tolist() == [k for k, _ in rows]


def test_content_hash_dedup_same_path(series):
    # identical data written twice content-addresses to the same segment
    # dir (reference SKIP-WRITE, `lakota/pod.py:201-204`)
    from lakota_spark import segwriter

    s = series
    coll = s.collection

    def stage_and_publish():
        df = s.schema.cast(s.spark.createDataFrame(
            [{"timestamp": 1589455990, "value": 9.0}]
        ))
        return segwriter.publish(coll.fs, coll.seg_prefix, s._stage_df(df))

    assert stage_and_publish() == stage_and_publish()


def test_driver_local_content_address_golden(repo):
    # Pins the driver-local content address (captured before the write
    # paths were folded into one segment writer): existing repos and
    # the append path keep deduping only while these stay fixed.
    import datetime as dt

    import numpy as np

    coll = repo.create_collection(
        Schema(k="int*", name="str*|gzip", t="timestamp", v="float"), "gd"
    )
    coll.series("x").write({
        "k": [3, 1, 2, 2, 5],
        "name": ["b", "a", "z", "c", "q"],
        "t": [
            dt.datetime(2020, 1, 1, 0, 0, 1, 500),
            dt.datetime(1999, 12, 31),
            dt.datetime(2020, 5, 5),
            dt.datetime(2021, 1, 1),
            dt.datetime(2000, 2, 29, 12),
        ],
        "v": [1.5, float("nan"), -2.0, 0.0, 1e300],
    })
    seg = coll.snapshot().for_label("x")[0]
    assert seg.meta["digest"] == "a55d20ba6bfd0d386d8d48bd830b25251b53e6b1"
    assert seg.meta["zmap"] == {"v": [-2.0, 1e300, True]}
    # the half-page split (dict-of-numpy fast path)
    half = repo.create_collection(Schema(t="timestamp*", v="float"), "gh")
    n = 300_000
    half.series("x").write({
        "t": (np.arange(n, dtype="i8") * 7 + 10**9).astype("M8[s]"),
        "v": np.sin(np.arange(n, dtype="f8")),
    })
    assert [s.path for s in half.snapshot().for_label("x")] == [
        "55b39b6060d79ffa2834"
    ]
    # the driver-local defrag rewrite (taken where pyarrow can read the
    # store; elsewhere defrag rewrites through the executors)
    if not getattr(repo.fs, "arrow_readable", False):
        return
    frag = repo.create_collection(Schema(t="int*", v="float", s="str"), "gf")
    for i in range(4):
        frag.series("x").write({
            "t": list(range(i * 10, i * 10 + 10)),
            "v": [j / 3 for j in range(10)],
            "s": [f"s{j}" for j in range(10)],
        })
    frag.defrag(max_chunk=1)
    assert [s.path for s in frag.snapshot().for_label("x")] == [
        "7929f6075be75606eb22"
    ]


def test_sortedness_checked_in_encode_task(repo):
    # VERDICT r1 #4: the sortedness check must not funnel the frame
    # through one task. Each encode task checks its own partition and
    # the driver compares the partition edges, on every backend (staged
    # or driver-published pages); the full case grid is in
    # tests/test_sorted_write.py.
    import pytest as _pytest

    coll = repo.create_collection(
        Schema(timestamp="int*", value="float"), "vs"
    )
    spark = repo.spark
    # multi-partition, globally sorted: passes, one page per partition
    rdd = spark.sparkContext.parallelize(
        [(i, float(i)) for i in range(100)], 4
    )
    ok = spark.createDataFrame(rdd, "timestamp long, value double")
    assert ok.rdd.getNumPartitions() == 4
    s = coll.series("s")
    s.write(ok, validate_sorted=True)
    assert rows(s.frame()) == [(i, float(i)) for i in range(100)]
    (seg,) = s.segments()
    assert len(repo.fs.ls(f"{coll.seg_prefix}/{seg.path}")) == 4
    # sorted within partitions but boundaries out of order: fails
    rdd_bad = spark.sparkContext.parallelize(
        [(50, 1.0), (51, 1.0), (1, 1.0), (2, 1.0)], 2
    )
    bad = spark.createDataFrame(rdd_bad, "timestamp long, value double")
    with _pytest.raises(ValueError, match="partition boundary"):
        coll.series("b").write(bad, validate_sorted=True)
    # unsorted within a partition: fails
    rdd_bad2 = spark.sparkContext.parallelize(
        [(5, 1.0), (3, 1.0), (7, 1.0), (9, 1.0)], 2
    )
    bad2 = spark.createDataFrame(rdd_bad2, "timestamp long, value double")
    with _pytest.raises(ValueError, match="not sorted by index columns$"):
        coll.series("b").write(bad2, validate_sorted=True)
    assert coll.series("b").segments() == []
    # without validation both fall back to the sort
    for i, df in enumerate((bad, bad2)):
        coll.series(f"f{i}").write(df)
        assert rows(coll.series(f"f{i}").frame()) == rows(df.sort("timestamp"))
    assert not [n for n in repo.fs.ls(coll.seg_prefix) if n.startswith("_tmp-")]


def test_presorted_executor_write_skips_sort(repo):
    # r7 ask #6: a well-partitioned, already-sorted DataFrame input
    # writes WITHOUT the range-sample + full sort (input layout kept),
    # and the result is indistinguishable on read: same rows, same
    # bounds, segment files still globally ordered by name
    from pyspark.sql import functions as F

    spark = repo.spark
    coll = repo.create_collection(
        Schema(timestamp="int*", value="float"), "ps"
    )
    base = spark.range(0, 10_000).select(
        F.col("id").alias("timestamp"),
        (F.col("id") * 0.5).alias("value"),
    )
    well = (
        base.repartitionByRange(4, "timestamp")
        .sortWithinPartitions("timestamp")
        .localCheckpoint()
    )
    s = coll.series("fast")
    s.write(well, validate_sorted=True)
    # the input layout was kept: one page per input partition
    (seg,) = s.segments()
    assert len(repo.fs.ls(f"{coll.seg_prefix}/{seg.path}")) == 4
    got = s.df()
    assert len(got) == 10_000
    assert got["timestamp"].is_monotonic_increasing
    assert got["timestamp"].iloc[0] == 0 and got["timestamp"].iloc[-1] == 9999
    # unsorted input is detected and falls back to the sort path
    shuffled = base.orderBy(F.rand(7)).localCheckpoint()
    with pytest.raises(ValueError, match="not sorted by index columns$"):
        coll.series("refused").write(shuffled, validate_sorted=True)
    s2 = coll.series("slow")
    s2.write(shuffled)
    got2 = s2.df()
    assert got2["timestamp"].is_monotonic_increasing and len(got2) == 10_000


def test_schema_from_frame(repo):
    # `Schema.from_frame` bootstrap (`lakota/schema.py:194-205`): dict,
    # pandas, and Spark frames; all columns default to index like the
    # reference.
    import pandas as pd

    sch = Schema.from_frame(
        {"ts": [1, 2], "value": [1.5, 2.5], "name": ["a", "b"]},
        idx_columns=["ts"],
    )
    assert sch.idx == ["ts"]
    assert sch.columns == {"ts": "int", "value": "float", "name": "str"}
    sch_all = Schema.from_frame({"a": [1], "b": [2.0]})
    assert sch_all.idx == ["a", "b"]  # reference default: every column
    pdf = pd.DataFrame({"ts": pd.to_datetime(["2020-01-01"]), "v": [1.0]})
    sch_pd = Schema.from_frame(pdf, idx_columns=["ts"])
    assert sch_pd.columns == {"ts": "timestamp", "v": "float"}
    sdf = repo.spark.createDataFrame([(1, 2.0, "x")], "ts long, v double, s string")
    sch_sp = Schema.from_frame(sdf, idx_columns=["ts"])
    assert sch_sp.columns == {"ts": "int", "v": "float", "s": "str"}
    # round-trip: a collection created from the inferred schema ingests
    coll = repo.create_collection(sch, "inferred")
    coll.series("s").write({"ts": [1], "value": [1.5], "name": ["a"]})
    assert coll.series("s").frame().collect()[0].name == "a"


def test_records_dtype_styles(repo):
    # `map_dtype` styles (`lakota/schema.py:25-38`, reference
    # `tests/frame_test.py:254-309`): default -> native datetime/date,
    # epoch -> integer seconds.
    import datetime as dtm

    coll = repo.create_collection(
        Schema(timestamp="timestamp*", date="date", float_val="float",
               int_val="int"),
        "recs",
    )
    s = coll.series("s")
    s.write({
        "timestamp": [1589455901],
        "date": [dtm.date(1970, 1, 2)],
        "float_val": [1.0],
        "int_val": [1],
    })
    default = next(s.records())
    assert default == {
        "timestamp": dtm.datetime(2020, 5, 14, 11, 31, 41),
        "date": dtm.date(1970, 1, 2),
        "float_val": 1.0,
        "int_val": 1,
    }
    epoch = next(s.records(map_dtype="epoch"))
    assert epoch == {
        "timestamp": 1589455901,
        "date": 86400,
        "float_val": 1.0,
        "int_val": 1,
    }


def test_format1_payload_reads_conservatively(repo):
    # a changelog payload written BEFORE the clip marker existed (fmt 1)
    # must mark every segment possibly-clipped: the join-free fast scan
    # trusts the ABSENCE of "clip", which format-1 data cannot promise
    from lakota_spark.commit import Snapshot

    coll = repo.create_collection(Schema(timestamp="int*", value="float"), "f1")
    s = coll.series("s")
    s.write({"timestamp": [1, 2, 3], "value": [1.0, 2.0, 3.0]})
    payload = coll.snapshot().to_payload(coll.schema)
    assert payload["fmt"] == Snapshot.FMT >= 2
    legacy = dict(payload)
    legacy.pop("fmt")
    snap = Snapshot.from_payload(legacy, coll.schema)
    assert all(seg.meta.get("clip") for seg in snap.for_label("s"))
    # fmt-2 round-trip keeps the clean (markerless) state
    snap2 = Snapshot.from_payload(payload, coll.schema)
    assert not any(seg.meta.get("clip") for seg in snap2.for_label("s"))


def test_df_local_parity_multi_index_and_date(repo, spark):
    # the driver-local pandas sink must match frame().toPandas() on
    # multi-column lexicographic bounds and date indexes too
    import datetime as dt

    coll = repo.create_collection(
        Schema(ts="int*", version="int*", value="float"), "mi"
    )
    s = coll.series("s")
    s.write({
        "ts": [1, 1, 2, 2, 3, 3],
        "version": [1, 2, 1, 2, 1, 2],
        "value": [float(i) for i in range(6)],
    })
    for kw in (
        dict(),
        dict(start=(1, 2), stop=(3, 1)),
        dict(start=(1, 2), stop=(3, 1), closed="n"),
        dict(start=2),           # prefix bound: leading column only
        dict(stop=(2,), closed="l"),
    ):
        a = s.df(**kw)
        b = s.frame(**kw).toPandas()
        assert a.equals(b), (kw, a, b)

    dcoll = repo.create_collection(Schema(d="date*", v="float"), "dt")
    ds = dcoll.series("s")
    days = [dt.date(2020, 1, i) for i in range(1, 8)]
    ds.write({"d": days, "v": [float(i) for i in range(7)]})
    for kw in (
        dict(),
        dict(start=dt.date(2020, 1, 3), stop=dt.date(2020, 1, 5)),
        dict(start=dt.date(2020, 1, 3), closed="r"),
    ):
        a = ds.df(**kw)
        b = ds.frame(**kw).toPandas()
        assert a.equals(b), (kw, a, b)


def test_df_local_fast_path_engages(spark, tmp_path, count_jobs):
    # df() reads in this process on every layout: a clean series and
    # one whose segments an overlay clipped both come back with zero
    # Spark jobs
    from lakota_spark.repo import Repo

    file_repo = Repo(str(tmp_path / "fp"), spark)
    coll = file_repo.create_collection(
        Schema(ts="int*", value="float"), "fp"
    )
    s = coll.series("s")
    s.write({"ts": [1, 2, 3], "value": [1.0, 2.0, 3.0]})
    out = []
    assert count_jobs(lambda: out.append(s.df())) == 0
    assert list(out[-1]["value"]) == [1.0, 2.0, 3.0]
    s.write({"ts": [2], "value": [9.0]})  # overlay -> clipped pieces
    assert any(seg.meta.get("clip") for seg in s.segments())
    assert count_jobs(lambda: out.append(s.df())) == 0
    assert list(out[-1]["value"]) == [1.0, 9.0, 3.0]


def test_df_errors_propagate(spark, tmp_path, monkeypatch):
    # df() has no fallback to demote a failing local read to: an error
    # in the read (here a programming error in the scan) propagates, and
    # a mask outside the pushable subset is still served (by Spark)
    from lakota_spark import segscan
    from lakota_spark.repo import Repo

    file_repo = Repo(str(tmp_path / "fb"), spark)
    coll = file_repo.create_collection(Schema(ts="int*", value="float"), "fb")
    s = coll.series("s")
    s.write({"ts": [1, 2], "value": [1.0, 2.0]})
    out = s.df(mask="(< (+ self.value 1) 3)")
    assert list(out["value"]) == [1.0]

    def bug(*a, **k):
        raise TypeError("bug")

    monkeypatch.setattr(segscan, "scan", bug)
    import pytest as _pytest

    with _pytest.raises(TypeError):
        s.df()


def test_schema_codec_chain_syntax_and_write(repo, tmp_path):
    # reference mini-language (`lakota/schema.py:111-128`): the codec
    # chain after '|' parses with the index star on the TYPE part
    # ("str*|vlen-utf8 gzip" is the documented form), round-trips
    # through _schema.json, and the compression hint is HONORED by the
    # driver-local segment writer (per-column parquet codec)
    import pyarrow.parquet as pq

    from lakota_spark.schema import Schema

    s = Schema(
        key="str*|vlen-utf8 gzip",
        value="float|blosc",
        n="int|delta zstd",
        plain="float",
    )
    assert s.idx == ["key"] and s.columns["key"] == "str"
    assert s.codecs == {
        "key": ["vlen-utf8", "gzip"],
        "value": ["blosc"],
        "n": ["delta", "zstd"],
    }
    assert Schema.from_dict(s.to_dict()) .codecs == s.codecs
    comp = s.parquet_compression()
    # unhinted floats default to lz4 (round 12 — PLAIN-encoded doubles
    # are entropy-dense: lz4 halves the encode cost of the commit path);
    # the explicit blosc hint on `value` still maps to zstd
    assert comp == {
        "key": "gzip", "value": "zstd", "n": "zstd", "plain": "lz4"
    }
    coll = repo.create_collection(s, "codecs")
    series = coll.series("x")
    series.write({
        "key": [f"k{i}" for i in range(10)],
        "value": [float(i) for i in range(10)],
        "n": list(range(10)),
        "plain": [0.5] * 10,
    })
    import io as _io

    seg_rel = "codecs/segments/" + sorted(repo.fs.ls("codecs/segments"))[0]
    part = next(
        p for p in repo.fs.ls(seg_rel) if p.endswith(".parquet")
    )
    meta = pq.ParquetFile(
        _io.BytesIO(repo.fs.read_bytes(f"{seg_rel}/{part}"))
    ).metadata
    by_col = {
        meta.row_group(0).column(i).path_in_schema:
            meta.row_group(0).column(i).compression
        for i in range(meta.num_columns)
    }
    assert by_col["key"] == "GZIP"
    assert by_col["value"] == "ZSTD" and by_col["plain"] == "LZ4"
    # unknown exotic codec names degrade to the default, never fail
    s2 = Schema(ts="int*", x="str|msgpack2 weird-codec")
    assert s2.parquet_compression()["x"] == "zstd"


def test_frame_mask_on_sorted_fast_path(repo):
    # VERDICT r9 #3: a mask handed to frame() composes with the ordered
    # scan — applied arrow-side inside the mapInArrow reader (read-time
    # pyarrow filter for row-group pruning + exact post-cast filter),
    # never as an unpushable Catalyst filter ON TOP of the relation.
    from lakota_spark import plans
    from lakota_spark.schema import Schema

    coll = repo.create_collection(
        Schema(ts="int*", value="float", tag="str"), "m"
    )
    s = coll.series("x")
    s.write({
        "ts": list(range(200)),
        "value": [float(i % 7) for i in range(200)],
        "tag": ["a" if i % 2 else "b" for i in range(200)],
    })
    df = s.frame(mask="(and (< self.value 5) (= self.tag 'a'))")
    plan = plans.explain_str(df, "simple")
    assert "MapInArrow" in plan and "Exchange" not in plan, plan
    assert "Sort" not in plan, plan
    got = [(r.ts, r.value, r.tag) for r in df.collect()]
    want = [
        (i, float(i % 7), "a")
        for i in range(200)
        if i % 2 and i % 7 < 5
    ]
    assert got == want  # order-sensitive: the sorted stream survives
    # mask fields outside select= are read for filtering, not emitted
    df2 = s.frame(select=["ts"], mask="(> self.value 3)")
    assert df2.columns == ["ts"]
    assert [r.ts for r in df2.collect()] == [
        i for i in range(200) if i % 7 > 3
    ]
    # offset/limit slice the MASKED sorted stream
    sliced = s.frame(mask="(= self.tag 'b')", offset=3, limit=4)
    assert [r.ts for r in sliced.collect()] == [6, 8, 10, 12]


def test_frame_mask_fallback_and_kv_semantics(repo, planned):
    # non-pushable mask forms (arithmetic) filter the scan's output —
    # documented behavior — and stay correct; pushable ones reach the
    # segment scan; KV series apply the mask AFTER last-writer-wins
    # dedup so a filter on the value column can never resurrect a
    # shadowed row.
    from lakota_spark import plans
    from lakota_spark.schema import Schema

    coll = repo.create_collection(
        Schema(ts="int*", value="float", tag="str"), "fb"
    )
    s = coll.series("x")
    s.write({
        "ts": list(range(50)),
        "value": [float(i) for i in range(50)],
        "tag": ["a"] * 50,
    })
    df = s.frame(mask="(< (+ self.value 1) 6)")
    plan = plans.explain_str(df, "simple")
    assert "Filter" in plan and "MapInArrow" in plan, plan
    assert planned[-1][0]["plan"] is None
    assert sorted(r.ts for r in df.collect()) == [0, 1, 2, 3, 4]
    # a pushable mask is carried by every planned scan chunk
    df = s.frame(sort=False, mask="(> self.value 45)")
    mask = s._compile_mask("(> self.value 45)")[0]
    assert all(m["plan"] == mask for m in planned[-1])
    assert sorted(r.ts for r in df.collect()) == [46, 47, 48, 49]

    kv = repo.create_collection(
        Schema.kv_schema(k="int*", v="float"), "kvm"
    )
    ks = kv.series("x")
    ks.write({"k": [1, 2, 3], "v": [10.0, 20.0, 30.0]})
    ks.write({"k": [2], "v": [5.0]})  # last writer wins: k=2 -> 5.0
    # mask (> v 9): k=2's LIVE row (5.0) fails the mask -> k=2 absent;
    # the shadowed 20.0 must NOT resurface
    out = {r.k: r.v for r in ks.frame(mask="(> self.v 9)").collect()}
    assert out == {1: 10.0, 3: 30.0}


def test_frame_builds_mask_column_only_where_it_filters(
    spark, tmp_path, monkeypatch
):
    # frame(mask=) builds the mask's Spark Column (sexpr.evaluate, py4j
    # round trips) only in the two branches that filter with it: masks
    # outside the pushable subset, and overlapping KV after the dedup.
    from pyspark.errors import AnalysisException

    from lakota_spark import sexpr
    from lakota_spark.repo import Repo

    built = []
    real = sexpr.evaluate

    def spy(*args, **kwargs):
        built.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(sexpr, "evaluate", spy)
    repo = Repo(str(tmp_path), spark)
    s = repo.create_collection(Schema(ts="int*", value="float"), "c").series("x")
    s.write({"ts": list(range(50)), "value": [float(i) for i in range(50)]})

    df = s.frame(mask="(> self.value 45)")
    assert built == []
    assert [r.ts for r in df.collect()] == [46, 47, 48, 49]

    df = s.frame(mask="(< (+ self.value 1) 6)")
    assert built
    assert [r.ts for r in df.collect()] == [0, 1, 2, 3, 4]

    ks = repo.create_collection(Schema.kv_schema(k="int*", v="float"), "kv")
    ks = ks.series("x")
    ks.write({"k": [1, 2, 3], "v": [10.0, 20.0, 30.0]})
    ks.write({"k": [2], "v": [5.0]})
    built.clear()
    out = {r.k: r.v for r in ks.frame(mask="(> self.v 9)").collect()}
    assert built
    assert out == {1: 10.0, 3: 30.0}

    for bad, err in [
        ("(< self.value", sexpr.SexprError),
        ("(nosuchfn self.value)", sexpr.SexprError),
        ("(< self.nosuch 3)", AnalysisException),
    ]:
        with pytest.raises(err):
            s.frame(mask=bad)


def test_frame_mask_timestamp_literal_on_fast_path(repo):
    # string literals compared to timestamp columns coerce to UTC
    # datetimes for the arrow-side filter (the cast schema reads ts as
    # tz=UTC) — validated driver-side before the fast path is trusted
    import datetime as dt

    from lakota_spark import plans
    from lakota_spark.schema import Schema

    coll = repo.create_collection(
        Schema(ts="timestamp*", value="float"), "tsm"
    )
    s = coll.series("x")
    base = dt.datetime(2024, 3, 1)
    rows = [base + dt.timedelta(hours=i) for i in range(48)]
    s.write({"ts": rows, "value": [float(i) for i in range(48)]})
    df = s.frame(mask="(>= self.ts '2024-03-02')")
    assert "MapInArrow" in plans.explain_str(df, "simple")
    got = [r.ts for r in df.collect()]
    assert got == rows[24:]


def test_df_local_mask(repo, count_jobs):
    # df(mask=...) applies the pushable mask inside the local scan (zero
    # Spark jobs); non-pushable forms route to the Spark path
    # (frame(mask=).toPandas()) — never a crash
    import datetime as dt

    from lakota_spark.schema import Schema

    coll = repo.create_collection(
        Schema(ts="timestamp*", value="float", tag="str"), "dfm"
    )
    s = coll.series("x")
    base = dt.datetime(2024, 3, 1)
    s.write({
        "ts": [base + dt.timedelta(hours=i) for i in range(48)],
        "value": [float(i % 7) for i in range(48)],
        "tag": ["a" if i % 2 else "b" for i in range(48)],
    })
    out = []
    assert count_jobs(lambda: out.append(
        s.df(mask="(and (< self.value 5) (= self.tag 'a'))")
    )) == 0
    want = [float(i % 7) for i in range(48) if i % 2 and i % 7 < 5]
    assert list(out[-1]["value"]) == want
    # a timestamp literal compares with the scan's UTC timestamps
    assert count_jobs(lambda: out.append(
        s.df(mask="(>= self.ts '2024-03-02')")
    )) == 0
    assert len(out[-1]) == 24
    # arithmetic (non-pushable) falls through to the Spark path
    out = s.df(mask="(< (+ self.value 1) 6)")
    assert len(out) == len([i for i in range(48) if (i % 7) + 1 < 6])


def test_frame_mask_differential_battery(repo):
    # seeded random masks from the pushable grammar: the ordered
    # fast-path result must equal the classic Catalyst path
    # (sexpr.mask over frame(sort=False)) row-for-row
    import random

    from lakota_spark import sexpr
    from lakota_spark.schema import Schema

    coll = repo.create_collection(
        Schema(ts="int*", value="float", tag="str", n="int"), "mb"
    )
    s = coll.series("x")
    rng = random.Random(97)
    n_rows = 300
    s.write({
        "ts": list(range(n_rows)),
        "value": [float(rng.randrange(40)) / 4 for _ in range(n_rows)],
        "tag": [rng.choice("abcd") for _ in range(n_rows)],
        "n": [rng.randrange(20) for _ in range(n_rows)],
    })

    def rand_cmp():
        col, vals = rng.choice([
            ("value", lambda: rng.randrange(40) / 4),
            ("n", lambda: rng.randrange(20)),
            ("ts", lambda: rng.randrange(n_rows)),
        ])
        op = rng.choice(["<", "<=", ">", ">=", "=", "!="])
        return f"({op} self.{col} {vals()})"

    def rand_term():
        k = rng.randrange(4)
        if k == 0:
            return f"(in self.tag (list '{rng.choice('ab')}' 'c'))"
        if k == 1:
            return f"(not {rand_cmp()})"
        return rand_cmp()

    for trial in range(12):
        terms = [rand_term() for _ in range(rng.randint(1, 3))]
        head = rng.choice(["and", "or"])
        mask = terms[0] if len(terms) == 1 else (
            f"({head} {' '.join(terms)})"
        )
        fast = s.frame(mask=mask)
        assert "MapInArrow" in fast._jdf.queryExecution().executedPlan().toString(), mask
        got = sorted(tuple(r) for r in fast.collect())
        want = sorted(
            tuple(r)
            for r in sexpr.mask(s.frame(sort=False), mask).collect()
        )
        assert got == want, (trial, mask)


def test_local_write_paths_byte_identical(repo):
    """The arrow fast path (dict-of-numpy, round 11) and the pandas
    path must produce BYTE-IDENTICAL segments — same content address,
    same zone map — for the same logical data, including float NaN
    (stored as parquet NULL on both), unsorted input (stable sort
    parity), and timestamp flooring. Content addressing is the dedup
    and no-op-write backbone; a divergence silently doubles storage."""
    import numpy as np
    import pandas as pd
    import pytest

    from lakota_spark.schema import Schema

    rs = np.random.RandomState(7)
    n = 5000
    base = np.datetime64("2024-03-01T00:00:00", "ns")
    data = {
        "ts": base
        + rs.randint(0, 10**6, n).astype("m8[ms]").astype("m8[ns]"),
        "k": rs.randint(-100, 100, n),
        "v": np.where(rs.rand(n) < 0.1, np.nan, rs.rand(n) * 100),
    }
    schema = Schema(ts="timestamp*", k="int", v="float")
    ca = repo.create_collection(schema, "fast_a")
    cb = repo.create_collection(schema, "fast_b")
    sa, sb = ca.series("x"), cb.series("x")
    sa.write(data)  # dict -> arrow fast path (unsorted: lexsort)
    sb.write(pd.DataFrame(data))  # pandas path (stable sort_values)
    assert sorted(repo.fs.ls("fast_a/segments")) == sorted(
        repo.fs.ls("fast_b/segments")
    )
    za = sa.segments()[0].meta.get("zmap")
    zb = sb.segments()[0].meta.get("zmap")
    assert za == zb and za["v"][2] is True  # NaN counts as has_null
    assert sa.df().equals(sb.df())
    # same bounds either path
    assert sa.segments()[0].start == sb.segments()[0].start
    assert sa.segments()[0].stop == sb.segments()[0].stop
    # validate_sorted raises identically on the fast path
    bad = {"k": np.array([3, 1, 2]), "v": np.array([1.0, 2.0, 3.0])}
    ck = repo.create_collection(Schema(k="int*", v="float"), "fast_c")
    with pytest.raises(ValueError, match="not sorted"):
        ck.series("x").write(bad, validate_sorted=True)


def test_write_with_pandas_timestamp_bounds(repo):
    """pd.Timestamp write bounds coerce to plain datetimes (a Timestamp
    bound used to fail the read as an unacceptable TimestampType
    value), and the overlay they describe reads back exactly."""
    import datetime as dt

    import pandas as pd

    coll = repo.create_collection(Schema(ts="timestamp*", value="float"), "pdt")
    s = coll.series("x")
    ts = pd.date_range("2024-01-01", periods=48, freq="h")
    s.write(pd.DataFrame({"ts": ts, "value": [float(i) for i in range(48)]}))
    bound = coll.schema.coerce_scalar("ts", pd.Timestamp("2024-01-01 05:00:07.5"))
    assert type(bound) is dt.datetime and bound == dt.datetime(2024, 1, 1, 5, 0, 7)
    s.write(
        pd.DataFrame({"ts": ts[12:14], "value": [99.0, 98.0]}),
        start=pd.Timestamp("2024-01-01 10:00"),
        stop=pd.Timestamp("2024-01-01 16:00"),
    )
    got = [(r.ts, r.value) for r in s.frame().collect()]
    want = [
        (t.to_pydatetime(), float(i)) for i, t in enumerate(ts)
        if not 10 <= i <= 16
    ] + [(ts[12].to_pydatetime(), 99.0), (ts[13].to_pydatetime(), 98.0)]
    assert got == sorted(want)
    assert s.df()["value"].tolist() == [v for _, v in sorted(want)]
