"""`series.scan_chunks` — the one task-count rule of the segment scan
(`segscan.partitions`, behind `frame()` and the ``lakota`` data
source's batch and stream readers): about one writer page of rows per
task, contiguous and in input order, capped by the caller's ceiling.
"""

import re

import pytest

from lakota_spark import plans
from lakota_spark.datasource import LakotaBatchReader, register
from lakota_spark.schema import Schema
from lakota_spark.segwriter import PAGE_LEN
from lakota_spark.series import Series, scan_chunks


def _files(n):
    return [f"seg{i:03d}/part-00000-00000.parquet" for i in range(n)]


def test_small_pruned_read_is_one_chunk():
    files = _files(21)
    assert scan_chunks(files, 10_500, 8) == [files]


def test_chunk_count_follows_rows():
    files = _files(240)
    chunks = scan_chunks(files, 1_200_000, 64)
    assert PAGE_LEN == 500_000
    assert [len(c) for c in chunks] == [80, 80, 80]


def test_ceiling_caps_chunks():
    assert len(scan_chunks(_files(1000), 10**12, 8)) == 8
    assert len(scan_chunks(_files(1000), 10**12, 2)) == 2
    # a non-positive ceiling still plans one task
    assert scan_chunks(_files(3), 10**9, 0) == [_files(3)]


def test_fewer_files_than_pages_is_one_file_per_chunk():
    files = _files(3)
    assert scan_chunks(files, 10**7, 64) == [[f] for f in files]


def test_chunks_cover_every_file_once_in_order():
    for n in range(0, 31):
        files = _files(n)
        for rows in (0, 1, PAGE_LEN, PAGE_LEN + 1, 7 * PAGE_LEN, 10**9):
            for ceiling in (1, 2, 5, 8, 64):
                chunks = scan_chunks(files, rows, ceiling)
                want = max(1, min(n, ceiling, -(-rows // PAGE_LEN)))
                assert len(chunks) == want
                # contiguous slices in input order, each file once
                assert [f for c in chunks for f in c] == files
                if n:
                    assert all(chunks)
                    sizes = [len(c) for c in chunks]
                    assert max(sizes) - min(sizes) <= 1


def test_empty_input_is_one_empty_chunk():
    assert scan_chunks([], 0, 64) == [[]]


@pytest.fixture()
def seg21(spark, repo):
    """21 disjoint segments of 500 rows, written out of interval order."""
    register(spark)
    coll = repo.create_collection(
        Schema(ts="int*", value="float"), "pack"
    )
    s = coll.series("x")
    for k in [*range(1, 21, 2), *range(0, 21, 2)]:
        lo = k * 500
        s.write({
            "ts": list(range(lo, lo + 500)),
            "value": [float(i) for i in range(lo, lo + 500)],
        })
    return repo, s


def _reader(repo, **opts):
    opts = {"path": repo.root, "table": "pack/x", **opts}
    return LakotaBatchReader(opts, Schema(ts="int*", value="float")
                             .struct_type())


def test_small_scans_plan_one_task(spark, seg21):
    repo, s = seg21
    ref = sorted(
        (r.ts, r.value)
        for r in s.frame(start=250, stop=10_249, sort=False).collect()
    )
    assert len(ref) == 10_000
    df = s.frame(start=250, stop=10_249)
    assert df.rdd.getNumPartitions() == 1
    assert [(r.ts, r.value) for r in df.collect()] == ref
    parts = _reader(repo).partitions()
    assert len(parts) == 1 and len(parts[0].value["files"]) == 21
    got = (
        spark.read.format("lakota").option("path", repo.root)
        .option("table", "pack/x").load()
        .where("ts >= 250 and ts < 10250").collect()
    )
    assert sorted((r.ts, r.value) for r in got) == ref


def test_max_partitions_still_caps(monkeypatch, seg21):
    repo, _ = seg21
    # one 500-row "page" per segment: the row rule asks for 21 tasks
    monkeypatch.setattr("lakota_spark.series.PAGE_LEN", 500)
    assert len(_reader(repo).partitions()) == 21
    parts = _reader(repo, maxPartitions="2").partitions()
    assert [len(p.value["files"]) for p in parts] == [10, 11]


def test_empty_read_keeps_one_partition(spark, repo):
    register(spark)
    repo.create_collection(Schema(ts="int*", value="float"), "pack")
    parts = _reader(repo).partitions()
    assert len(parts) == 1 and parts[0].value["files"] == []
    df = (
        spark.read.format("lakota").option("path", repo.root)
        .option("table", "pack/x").load()
    )
    assert df.count() == 0


def _plan_shape(df) -> str:
    """Physical plan text with expression ids dropped."""
    return re.sub(r"#\d+L?", "", plans.explain_str(df, "simple"))


def test_frame_plan_is_range_then_map_in_arrow(seg21):
    # the chunks ride in the mapInArrow closure over spark.range: JVM
    # rows in, no Python RDD, no shuffle
    _, s = seg21
    plan = _plan_shape(s.frame(start=250, stop=10_249, mask="(< self.value 1000)"))
    assert re.search(r"Range \(0, 1, step=1, splits=1\)", plan), plan
    assert "MapInArrow" in plan, plan
    for node in ("ExistingRDD", "Exchange", "Sort"):
        assert node not in plan, plan


def test_masked_frame_count_is_one_job(seg21, count_jobs):
    _, s = seg21
    df = s.frame(start=250, stop=10_249, mask="(< self.value 1000)")
    assert df.count() == 750
    assert count_jobs(df.count) == 1


def test_connect_fallback_keeps_sort_order(spark, repo, monkeypatch):
    """Spark Connect has no `sparkContext`: only the task ceiling falls
    back (to ``spark.sql.shuffle.partitions``). The relation, its
    partitions and its rows must match the classic session's, with
    partition order == sort order across every chunk."""
    coll = repo.create_collection(Schema(ts="int*", value="float"), "fb")
    s = coll.series("x")
    for k in [*range(1, 40, 2), *range(0, 40, 2)]:
        lo = k * 500
        s.write({
            "ts": list(range(lo, lo + 500)),
            "value": [float(i) for i in range(lo, lo + 500)],
        })
    # one segment per page: the 20k rows ask for 40 chunks
    monkeypatch.setattr("lakota_spark.series.PAGE_LEN", 500)
    classic_df = s.frame()
    # 2 x defaultParallelism chunks: more than there are cores
    n = classic_df.rdd.getNumPartitions()
    assert n == min(40, 2 * spark.sparkContext.defaultParallelism)
    classic = [(r.ts, r.value) for r in classic_df.collect()]
    assert [t for t, _ in classic] == list(range(20_000))

    class NoContext:
        """The session as the series sees it, minus `sparkContext`."""

        def __getattr__(self, name):
            if name == "sparkContext":
                raise RuntimeError("no sparkContext under Spark Connect")
            return getattr(spark, name)

    monkeypatch.setattr(Series, "spark", property(lambda self: NoContext()))
    with pytest.raises(RuntimeError):
        s.spark.sparkContext
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))  # the same ceiling as the classic one
    try:
        connect_df = s.frame(sort=True)
    finally:
        spark.conf.set(key, old)
    assert _plan_shape(connect_df) == _plan_shape(classic_df)
    assert connect_df.rdd.getNumPartitions() == n
    assert [(r.ts, r.value) for r in connect_df.collect()] == classic
