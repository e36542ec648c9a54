"""HTTP backend + layered cache semantics (reference S11 + CachePOD:
`lakota/server.py:57-161`, `lakota/http_pod.py:10-107`,
`lakota/pod.py:475-533`)."""

import shutil
import tempfile

import pytest

from lakota_spark.fsio import FS, CacheFS, HttpFS
from lakota_spark.schema import Schema
from lakota_spark.server import serve


@pytest.fixture()
def http_root():
    root = tempfile.mkdtemp(prefix="lakota-http-test-")
    with serve(root) as url:
        yield root, url
    shutil.rmtree(root, ignore_errors=True)


def test_httpfs_primitives(http_root):
    root, url = http_root
    fs = HttpFS(url)
    assert fs.ls("") == []
    fs.write_bytes_atomic("a/b/data.json", b"{}")
    assert fs.read_bytes("a/b/data.json") == b"{}"
    assert fs.exists("a/b/data.json") and fs.exists("a/b")
    assert not fs.exists("a/nope")
    assert fs.ls("a") == ["b"]
    assert fs.walk("a") == [("b", True), ("b/data.json", False)]
    assert fs.file_sizes("a/b") == {"data.json": 2}
    fs.move("a/b/data.json", "a/b/renamed.json")
    assert fs.ls("a/b") == ["renamed.json"]
    fs.makedirs("a/empty")
    assert fs.exists("a/empty")
    fs.remove_file("a/b/renamed.json")
    assert fs.ls("a/b") == []
    fs.remove_tree("a")
    assert not fs.exists("a")
    with pytest.raises(FileNotFoundError):
        fs.read_bytes("gone")


def test_httpfs_path_escape_rejected(http_root):
    _, url = http_root
    fs = HttpFS(url)
    import urllib.error

    with pytest.raises(urllib.error.HTTPError):
        fs._request("GET", "../outside")


def test_cachefs_second_read_is_local(http_root, spark):
    # the reference CachePOD contract: a second read never touches the
    # remote. Frame reads cover both paths — small-file metadata
    # (read_bytes) and Spark segment scans (spark_read_uris walk+fetch).
    from lakota_spark.repo import Repo

    root, url = http_root
    repo = Repo(url, spark)
    fs = repo.fs
    assert isinstance(fs, CacheFS) and isinstance(fs.inner, HttpFS)
    coll = repo.create_collection(Schema(ts="int*", value="float"), "c")
    s = coll.series("s")
    s.write({"ts": [1, 2, 3], "value": [1.0, 2.0, 3.0]})
    assert [r.value for r in s.frame().collect()] == [1.0, 2.0, 3.0]

    remote_reads = []
    orig_read, orig_walk = fs.inner.read_bytes, fs.inner.walk

    def spy_read(rel):
        remote_reads.append(("read", rel))
        return orig_read(rel)

    def spy_walk(rel):
        remote_reads.append(("walk", rel))
        return orig_walk(rel)

    fs.inner.read_bytes = spy_read
    fs.inner.walk = spy_walk
    try:
        assert [r.value for r in s.frame().collect()] == [1.0, 2.0, 3.0]
    finally:
        fs.inner.read_bytes = orig_read
        fs.inner.walk = orig_walk
    assert remote_reads == []  # every byte served from the local cache


def test_cachefs_wraps_any_backend(spark, tmp_path):
    # layered cache over a plain FS remote (the lkweb deployment shape):
    # same read-through contract without HTTP in the middle.
    remote = FS(str(tmp_path / "remote"))
    remote.write_bytes_atomic("x/blob", b"payload")
    fs = CacheFS(remote, str(tmp_path / "cache"))
    assert fs.read_bytes("x/blob") == b"payload"
    # now corrupt the remote: the cache must still serve the first copy
    remote.write_bytes_atomic("x/blob", b"DIFFERENT")
    assert fs.read_bytes("x/blob") == b"payload"
    # write-through publishes to both sides
    fs.write_bytes_atomic("y/out", b"ok")
    assert remote.read_bytes("y/out") == b"ok"
    assert fs.cache.read_bytes("y/out") == b"ok"


@pytest.fixture()
def fake_remote(tmp_path):
    """Object-store stand-in (NOTES item 4): a pyarrow SubTreeFileSystem
    posing as a non-local, non-Hadoop remote — exercises the direct-PUT
    write branch, copy+delete-safe naming, driver-published pages and
    CacheFS materialization without needing moto/boto."""
    from pyarrow import fs as pafs

    from lakota_spark.fsio import FS

    remote = FS.__new__(FS)
    remote.uri = "fake://bucket/prefix"
    remote.scheme = "fake"
    remote.fs = pafs.SubTreeFileSystem(
        str(tmp_path / "bucket"), pafs.LocalFileSystem()
    )
    (tmp_path / "bucket").mkdir()
    remote.root = ""
    remote.is_local = False
    return remote


def test_engine_over_fake_object_store(fake_remote, spark, tmp_path):
    from lakota_spark.fsio import CacheFS
    from lakota_spark.repo import Repo

    repo = Repo(CacheFS(fake_remote, str(tmp_path / "cache")), spark)
    coll = repo.create_collection(Schema(ts="int*", value="float"), "c")
    s = coll.series("s")
    s.write({"ts": [1, 2, 3], "value": [1.0, 2.0, 3.0]})
    s.write({"ts": [2, 5], "value": [20.0, 50.0]})  # overlay shadows [2,5]
    got = [(r.ts, r.value) for r in s.frame().collect()]
    assert got == [(1, 1.0), (2, 20.0), (5, 50.0)]
    # double-write no-op works through content addressing on the remote
    n = len(coll.changelog.revisions())
    s.write({"ts": [2, 5], "value": [20.0, 50.0]})
    assert len(coll.changelog.revisions()) == n
    # gc + trash round-trip over the object-store move semantics:
    # orphan the earlier segments by overwriting everything, then squash
    s.write({"ts": [7], "value": [7.0]}, start=0, stop=100)
    coll.squash()
    stats = repo.gc(timeout=3600)
    assert stats["soft"] >= 1 and stats["hard"] == 0
    got = [(r.ts, r.value) for r in s.frame().collect()]
    assert got == [(7, 7.0)]
    assert repo.gc(timeout=0.0)["hard"] >= 1
    # pull into a local repo: digests agree across backends
    local = Repo(str(tmp_path / "local"), spark)
    local.pull(repo)
    assert [(r.ts, r.value)
            for r in local.collection("c").series("s").frame().collect()] == got


def test_memfs_lru_eviction():
    # byte-capped memory store (reference MemPOD lru_size,
    # `tests/pod_test.py:161-227`): oldest evicted, reads refresh recency,
    # oversized values stay readable, deletes release budget
    from lakota_spark.fsio import MemFS

    blob = b"\xde\xad\xbe\xef" * 4  # 16 bytes
    fs = MemFS("memory://lru-test", lru_size=10 * len(blob))
    for i in range(1, 11):
        fs.write_bytes_atomic(str(i), blob)
    assert fs._meta["size"] == 10 * len(blob)

    # rewriting existing keys changes nothing
    for i in range(1, 11):
        fs.write_bytes_atomic(str(i), blob)
    assert fs._meta["size"] == 10 * len(blob)

    # touch "1" so it is the most recent, then overflow: "2" must go first
    assert fs.read_bytes("1") == blob
    fs.write_bytes_atomic("11", blob)
    assert fs.read_bytes("1") == blob
    with pytest.raises(FileNotFoundError):
        fs.read_bytes("2")

    # a value bigger than the whole cap evicts the rest but stays readable
    big = blob * 100
    fs.write_bytes_atomic("big", big)
    assert fs.read_bytes("big") == big
    assert fs._meta["size"] >= len(big)

    # deletes release budget
    fs.remove_file("big")
    assert fs._meta["size"] < len(big)
    fs.remove_tree(".")


def test_memfs_move_overwrite_accounting():
    # move() onto an existing destination must release the overwritten
    # bytes from the LRU budget (file and tree cases) or a capped cache
    # store evicts earlier than it should
    from lakota_spark.fsio import MemFS

    fs = MemFS("memory://move-acct")
    fs.write_bytes_atomic("a", b"x" * 10)
    fs.write_bytes_atomic("b", b"y" * 7)
    fs.move("a", "b")  # overwrites b
    assert fs.read_bytes("b") == b"x" * 10
    assert fs._meta["size"] == 10
    # tree move overwriting files under the destination prefix
    fs.write_bytes_atomic("t1/f", b"z" * 5)
    fs.write_bytes_atomic("t2/f", b"w" * 9)
    fs.move("t1", "t2")
    assert fs.read_bytes("t2/f") == b"z" * 5
    assert fs._meta["size"] == 10 + 5
    fs.remove_tree(".")


def test_cachefs_move_evicts_stale_destination(tmp_path):
    # a previously cached copy of the DESTINATION path must be evicted on
    # move — the remote overwrite made it stale (rename_collection moving
    # a registry json onto a name that was read, hence cached, before)
    from lakota_spark.fsio import CacheFS, MemFS

    remote = MemFS("memory://cache-move-remote")
    cache_dir = tmp_path / "cache"
    cache_dir.mkdir()
    fs = CacheFS(remote, cache_dir=str(cache_dir))
    remote.write_bytes_atomic("src.json", b"new-bytes")
    remote.write_bytes_atomic("dst.json", b"old-bytes")
    assert fs.read_bytes("dst.json") == b"old-bytes"  # fills the cache
    fs.move("src.json", "dst.json")
    assert fs.read_bytes("dst.json") == b"new-bytes"  # not the cached copy


def test_io_metrics(tmp_path):
    # reference `tests/pod_test.py:229-239`: byte counters per backend+op
    from lakota_spark.fsio import FS, BaseFS, MemFS

    BaseFS.reset_metrics()
    data = b"\xde\xad\xbe\xef" * 4
    fs = FS(str(tmp_path))
    fs.write_bytes_atomic("key", data)
    assert BaseFS.metrics()["FS.write"] == len(data)
    fs.read_bytes("key")
    assert BaseFS.metrics()["FS.read"] == len(data)
    mem = MemFS("memory://metrics-test")
    mem.write_bytes_atomic("k", data)
    mem.read_bytes("k")
    assert BaseFS.metrics()["MemFS.write"] == len(data)
    assert BaseFS.metrics()["MemFS.read"] == len(data)
    BaseFS.reset_metrics()
    assert BaseFS.metrics() == {}


def _drive_tracker_roundtrip(spark, path):
    # seed → fold → reopen → psi gate: the full ScoreHistTracker surface
    # (VERDICT r8 #3 acceptance — same artifact reach as
    # classifier.save_quality_model)
    import pytest

    from lakota_spark.operators.drift import ScoreHistTracker

    t = ScoreHistTracker(spark, path, lo=0.0, hi=4.0, n_bins=4,
                         score_col="x")
    t.fold(spark.createDataFrame([(0.5,), (1.5,), (1.7,)], "x double"))
    t.fold(spark.createDataFrame([(2.5,), (0.1,)], "x double"))
    counts = {r["bin"]: r["c"] for r in t._t.counts().collect()}
    assert counts == {0: 2, 1: 2, 2: 1}
    # a REOPENED tracker sees the landed reference (state lives on the
    # backend, not in the instance) and keeps gating against it
    t2 = ScoreHistTracker(spark, path, lo=0.0, hi=4.0, n_bins=4,
                          score_col="x")
    assert {r["bin"]: r["c"] for r in t2._t.counts().collect()} == counts
    terms = t2.gate_and_fold(
        spark.createDataFrame([(3.5,), (3.6,)], "x double")
    ).collect()
    assert {r["bin"] for r in terms} == {0, 1, 2, 3}
    assert {r["bin"]: r["c"] for r in t2._t.counts().collect()} == {
        0: 2, 1: 2, 2: 1, 3: 2
    }
    # the _meta.json sidecar guard works through the FS verbs too
    with pytest.raises(ValueError):
        ScoreHistTracker(spark, path, lo=0.0, hi=4.0, n_bins=8,
                         score_col="x")


def test_score_hist_tracker_on_memory_backend(spark):
    import uuid

    _drive_tracker_roundtrip(
        spark, f"memory://tracker-{uuid.uuid4().hex}/hist"
    )


def test_score_hist_tracker_on_http_backend(http_root, spark):
    _, url = http_root
    _drive_tracker_roundtrip(spark, url.rstrip("/") + "/hist")


def test_versioned_tracker_gc_on_memory_backend(spark):
    # keep_versions GC must hold on non-local backends: after many folds
    # only the newest manifests/bucket dirs survive (file count bounded
    # by n_buckets x keep_versions, not fold count)
    import uuid

    from lakota_spark.operators.drift import _HistCountsTracker

    path = f"memory://tracker-gc-{uuid.uuid4().hex}"
    t = _HistCountsTracker(spark, path, 0.0, 4.0, 4, "x")
    for i in range(4):
        t.fold(spark.createDataFrame([(float(i % 4) + 0.5,)], "x double"))
    versions = [
        int(n[1:]) for n in t.fs.ls("") if n.startswith("v") and
        n[1:].isdigit()
    ]
    assert max(versions) == 4
    assert len(versions) <= t.keep_versions
    total = sum(
        {r["bin"]: r["c"] for r in t.counts().collect()}.values()
    )
    assert total == 4
