"""KV upsert (F7) and update-with-zero-fill (F8) semantics."""

import pytest

from lakota_spark.schema import Schema


def test_kv_upsert_golden(repo):
    # FIXTURES.md F7 golden: incoming wins on equal key, union otherwise
    coll = repo.create_collection(
        Schema.kv_schema(timestamp="timestamp*", category="str*", value="int"),
        "kv",
    )
    s = coll.series("s")
    s.write({
        "timestamp": ["2020-01-01", "2020-02-01", "2020-03-01"],
        "category": ["a", "c", "d"],
        "value": [1, 2, 3],
    })
    s.write({
        "timestamp": ["2020-01-01", "2020-02-02", "2020-02-03"],
        "category": ["a", "b", "c"],
        "value": [4, 5, 6],
    })
    out = s.frame().collect()
    assert [r.value for r in out] == [4, 2, 5, 6, 3]


def test_kv_double_write_noop(repo):
    coll = repo.create_collection(
        Schema.kv_schema(key="int*", value="int"), "kv2"
    )
    s = coll.series("s")
    s.write({"key": [1, 2], "value": [10, 20]})
    n = len(coll.changelog.revisions())
    s.write({"key": [1, 2], "value": [10, 20]})
    # same keys+values: the merged view is unchanged, and the content hash
    # matches, but a kv write appends a segment — snapshot differs by seq
    # only; the signature check treats it as a no-op
    assert len(coll.changelog.revisions()) == n


def test_kv_delete_keys(repo):
    coll = repo.create_collection(
        Schema.kv_schema(key="int*", value="int"), "kv3"
    )
    s = coll.series("s")
    s.write({"key": [1, 2, 3], "value": [10, 20, 30]})
    s.delete_keys({"key": [2]})
    assert [(r.key, r.value) for r in s.frame().collect()] == [(1, 10), (3, 30)]


@pytest.mark.parametrize("t,zero,a1,a2", [
    ("float", 0.0, 10.0, 20.0),
    ("int", 0, 10, 20),
    ("str", "", "x", "y"),
])
def test_update_zero_fill(repo, t, zero, a1, a2):
    # F8: update col `a` over a range; col `b` keeps old values on overlap,
    # zero-fills on extension (`lakota/series.py:159-190`)
    coll = repo.create_collection(
        Schema(timestamp="int*", a=t, b=t), f"upd-{t}"
    )
    s = coll.series("s")
    s.write({"timestamp": [1, 2], "a": [a1, a1], "b": [a2, a2]})
    s.update({"timestamp": [2, 3], "a": [a2, a2]})
    out = [(r.timestamp, r.a, r.b) for r in s.frame().collect()]
    assert out == [(1, a1, a2), (2, a2, a2), (3, a2, zero)]


def test_kv_compact_restores_disjoint_fast_paths(spark, repo, count_jobs):
    """Round 13: compact() rewrites the resolved rows as one full-span
    segment — same reads, disjoint layout, so the dedup-free fast
    paths AND the data source serve the table again; time travel
    before the compaction still sees the old (overlapping) state."""
    from lakota_spark.datasource import register

    register(spark)
    coll = repo.create_collection(
        Schema.kv_schema(k="int*", v="int"), "kvcomp"
    )
    s = coll.series("x")
    s.write({"k": [1, 2, 3], "v": [10, 20, 30]})
    s.write({"k": [2, 4], "v": [21, 40]})      # overlapping upsert
    want = [(1, 10), (2, 21), (3, 30), (4, 40)]
    assert sorted((r.k, r.v) for r in s.frame().collect()) == want
    # overlapping: the data source refuses
    import pytest as _pytest

    with _pytest.raises(Exception, match="OVERLAPPING"):
        (
            spark.read.format("lakota")
            .option("path", repo.root)
            .option("table", "kvcomp/x")
            .load()
            .collect()
        )
    import time as _time

    _time.sleep(0.01)
    cut = _time.time()
    _time.sleep(0.01)
    s.compact()
    segs = coll.snapshot().for_label("x")
    assert len(segs) == 1
    assert sorted((r.k, r.v) for r in s.frame().collect()) == want
    out = []
    assert count_jobs(lambda: out.append(s.df())) == 0
    assert list(zip(out[-1]["k"], out[-1]["v"])) == want
    ds = (
        spark.read.format("lakota")
        .option("path", repo.root)
        .option("table", "kvcomp/x")
        .load()
    )
    assert sorted((r.k, r.v) for r in ds.collect()) == want
    # history survives: before the compaction, the overlapping layout
    assert sorted(
        (r.k, r.v) for r in s.frame(before=cut).collect()
    ) == want
    # and further upserts keep working on the compacted root
    s.write({"k": [1], "v": [11]})
    assert sorted((r.k, r.v) for r in s.frame().collect()) == [
        (1, 11), (2, 21), (3, 30), (4, 40),
    ]
