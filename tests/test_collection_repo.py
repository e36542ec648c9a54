"""Collection/versioning + repo/catalog semantics
(reference `tests/collection_test.py`, `tests/repo_test.py`,
`tests/sync_test.py`, `tests/changelog_test.py`)."""

import os

import pytest

from lakota_spark.changelog import PHI
from lakota_spark.schema import Schema


@pytest.fixture()
def repo(any_repo):
    """Storage matrix: collection/repo tests run over file AND http."""
    return any_repo


def _mk(repo, name="c"):
    coll = repo.create_collection(Schema(ts="int*", value="float"), name)
    return coll


def rows(df):
    return [(r[0], r[1]) for r in df.collect()]


def test_multi_batch_atomic(repo):
    # one revision covers several series (`lakota/batch.py`, M3)
    coll = _mk(repo)
    with coll.multi():
        coll.series("a").write({"ts": [1], "value": [1.0]})
        coll.series("b").write({"ts": [1], "value": [2.0]})
    assert len(coll.changelog.revisions()) == 1
    assert coll.ls() == ["a", "b"]


def test_multi_batch_rollback(repo):
    # exception inside the block → nothing committed (`collection_test.py:379-391`)
    coll = _mk(repo)
    with pytest.raises(RuntimeError):
        with coll.multi():
            coll.series("a").write({"ts": [1], "value": [1.0]})
            raise RuntimeError("boom")
    assert len(coll.changelog.revisions()) == 0
    assert coll.ls() == []


def test_branch_merge_newest_wins(repo):
    # two writers fork from the same leaf; merge replays in revision order
    # → newest branch wins on overlap (`collection_test.py:246-314`)
    coll = _mk(repo)
    s = coll.series("s")
    s.write({"ts": [1, 2], "value": [1.0, 2.0]})
    leaf = coll.changelog.leaf()
    # fork: two commits with the same parent (simulates concurrent writers)
    import time

    from lakota_spark.commit import Segment, Snapshot

    base = Snapshot.from_payload(leaf.read(), coll.schema)

    def fork_write(vals):
        from lakota_spark import segwriter

        seg_series = coll.series("s")
        df = coll.schema.cast(
            repo.spark.createDataFrame([{"ts": 2, "value": vals}])
        )
        path, digest = segwriter.publish(
            coll.fs, coll.seg_prefix, seg_series._stage_df(df)
        )
        seg = Segment("s", (2,), (2,), True, True, path, 1)
        snap = base.overlay(seg)
        payload = snap.to_payload(coll.schema)
        payload["delta"] = [seg.to_dict(coll.schema)]
        return coll.changelog.commit(payload, parents=[leaf.child], force=True)

    fork_write(10.0)
    time.sleep(0.002)  # hextime tie-break: second fork is strictly newer
    fork_write(20.0)
    assert len(coll.changelog.leaves()) == 2
    coll.merge()
    assert len(coll.changelog.leaves()) == 1
    out = dict(rows(coll.series("s").frame()))
    assert out[1] == 1.0
    assert out[2] == 20.0  # newest branch won


def test_trim_squash(repo):
    coll = _mk(repo)
    s = coll.series("s")
    for i in range(3):
        s.write({"ts": [i], "value": [float(i)]})
    assert len(coll.changelog.revisions()) == 3
    coll.squash()
    revs = coll.changelog.revisions()
    assert len(revs) == 1 and revs[0].parent == PHI
    assert rows(s.frame()) == [(0, 0.0), (1, 1.0), (2, 2.0)]


def test_squash_keep_history(repo):
    # reference `Collection.squash(trim=False)`: defrag without trimming —
    # data compacted, history preserved (`tests/collection_test.py:67-121`)
    coll = _mk(repo)
    s = coll.series("s")
    for i in range(3):
        s.write({"ts": [i], "value": [float(i)]})
    coll.squash(trim=False)
    assert len(coll.changelog.revisions()) >= 3  # history kept (+defrag rev)
    assert rows(s.frame()) == [(0, 0.0), (1, 1.0), (2, 2.0)]


def test_defrag(repo, count_jobs):
    coll = _mk(repo)
    s = coll.series("s")
    for i in range(6):
        s.write({"ts": [i], "value": [float(i)]})
    n_before = len(coll.snapshot().for_label("s"))
    assert count_jobs(coll.defrag) == 0
    n_after = len(coll.snapshot().for_label("s"))
    assert n_after < n_before
    assert rows(s.frame()) == [(i, float(i)) for i in range(6)]


def test_maintain_noop_below_thresholds(repo):
    coll = _mk(repo)
    s = coll.series("s")
    for i in range(4):
        s.write({"ts": [i], "value": [float(i)]})
    out = coll.maintain(max_revisions=100, max_segments=100)
    assert out["action"] is None
    assert out["revisions"] == 4 and out["max_series_segments"] == 4
    assert rows(s.frame()) == [(i, float(i)) for i in range(4)]


def test_maintain_squashes_past_revision_threshold(repo):
    coll = _mk(repo)
    s = coll.series("s")
    for i in range(8):
        s.write({"ts": [i], "value": [float(i)]})
    out = coll.maintain(max_revisions=5, max_segments=100)
    assert out["action"] == "squash"
    # history collapsed to one root; data intact; a re-run is a no-op
    assert len(coll.changelog.revisions()) == 1
    assert rows(s.frame()) == [(i, float(i)) for i in range(8)]
    assert coll.maintain(max_revisions=5, max_segments=100)["action"] is None


def test_maintain_defrags_past_segment_threshold_keeping_history(repo):
    coll = _mk(repo)
    s = coll.series("s")
    for i in range(6):
        s.write({"ts": [i], "value": [float(i)]})
    out = coll.maintain(max_revisions=None, max_segments=3)
    assert out["action"] == "defrag"
    assert len(coll.snapshot().for_label("s")) <= 3
    assert len(coll.changelog.revisions()) >= 6  # history preserved
    assert rows(s.frame()) == [(i, float(i)) for i in range(6)]


def test_maintain_empty_collection(repo):
    coll = _mk(repo)
    assert coll.maintain()["action"] is None


def test_delete_and_rename_series(repo):
    coll = _mk(repo)
    coll.series("a").write({"ts": [1], "value": [1.0]})
    coll.series("b").write({"ts": [1], "value": [2.0]})
    coll.delete_series("a")
    assert coll.ls() == ["b"]
    coll.rename_series("b", "c")
    assert coll.ls() == ["c"]
    assert rows(coll.series("c").frame()) == [(1, 2.0)]


def test_collection_crud(repo):
    _mk(repo, "x")
    _mk(repo, "y")
    assert repo.ls() == ["x", "y"]
    # double-create with same schema is a no-op
    _mk(repo, "x")
    with pytest.raises(ValueError):
        repo.create_collection(Schema(other="int*"), "x")
    repo.rename_collection("x", "z")
    assert repo.ls() == ["y", "z"]
    repo.delete_collection("y")
    assert repo.ls() == ["z"]


def test_gc_two_phase(repo):
    coll = _mk(repo)
    s = coll.series("s")
    s.write({"ts": [1, 2], "value": [1.0, 2.0]})
    s.write({"ts": [10, 11], "value": [3.0, 4.0]})
    # orphan a segment: squash history then overwrite everything
    s.write({"ts": [1], "value": [9.0]}, start=0, stop=100)
    coll.squash()  # only the leaf references segments now
    stats = repo.gc(timeout=3600)
    assert stats["soft"] == 2  # two unreferenced segment dirs soft-deleted
    assert stats["hard"] == 0
    stats = repo.gc(timeout=0.0)
    assert stats["hard"] == 2
    assert rows(s.frame()) == [(1, 9.0)]


def test_gc_ages_out_crashed_staging_dirs(repo):
    """A writer killed between staging and commit/abort leaves a
    `_tmp-<hexts>-<uuid>` dir; GC must leave anything younger than the
    STAGING grace alone (default 6h — a distributed ingest legitimately
    stages for its whole job duration) and hard-delete past it.
    Unparsable names (no hextime) are never touched."""
    from lakota_spark.changelog import hexts

    coll = _mk(repo)
    s = coll.series("s")
    s.write({"ts": [1, 2], "value": [1.0, 2.0]})
    pre = f"{coll.seg_prefix}"
    # simulate a crash leftover: stamped 2h ago, plus a fresh one and
    # one in the old (unstamped) layout
    repo.fs.write_bytes_atomic(
        f"{pre}/_tmp-{hexts(__import__('time').time() - 7200)}-dead/x",
        b"x",
    )
    repo.fs.write_bytes_atomic(f"{pre}/_tmp-{hexts()}-live/x", b"x")
    repo.fs.write_bytes_atomic(f"{pre}/_tmp-oldlayout/x", b"x")
    # the DEFAULT staging grace (6h) must keep even the 2h-old dir: a
    # long-running ingest holds staging dirs from task write to commit
    stats0 = repo.gc(timeout=3600)
    assert stats0["hard"] == 0
    assert any("dead" in n for n in repo.fs.ls(pre))
    stats = repo.gc(timeout=3600, staging_timeout=3600)
    names = set(repo.fs.ls(pre))
    assert not any("dead" in n for n in names)
    assert any("live" in n for n in names)
    assert any(n == "_tmp-oldlayout" for n in names)
    assert stats["hard"] == 1
    # committed data untouched
    assert rows(s.frame()) == [(1, 1.0), (2, 2.0)]


def test_push_pull_roundtrip(repo, spark, tmp_path):
    from lakota_spark.repo import Repo

    coll = _mk(repo)
    coll.series("s").write({"ts": [1, 2], "value": [1.0, 2.0]})
    other = Repo(str(tmp_path / "other"), spark)
    repo.push(other)
    out = other.collection("c").series("s").frame()
    assert rows(out) == [(1, 1.0), (2, 2.0)]
    # incremental pull after more writes
    coll.series("s").write({"ts": [3], "value": [3.0]})
    other.pull(repo)
    assert rows(other.collection("c").series("s").frame()) == [
        (1, 1.0), (2, 2.0), (3, 3.0)
    ]


def test_registry_replica_convergence(spark, tmp_path):
    # the reference's Repo.merge scenario (lakota/repo.py:223,303 +
    # cli.py:501): two replicas concurrently create/rename/delete
    # collections, then sync both ways — registries converge with no
    # lost collections and merged data for the concurrently-created one
    import time

    from lakota_spark.repo import Repo

    a = Repo(str(tmp_path / "a"), spark)
    b = Repo(str(tmp_path / "b"), spark)
    schema = Schema(ts="int*", value="float")

    # concurrent creates: X only on a, Z only on b, Y on BOTH (each
    # replica writes its own rows)
    a.create_collection(schema, "x").series("s").write(
        {"ts": [1], "value": [1.0]}
    )
    ya = a.create_collection(schema, "y")
    ya.series("s").write({"ts": [1], "value": [10.0]})
    b.create_collection(schema, "z").series("s").write(
        {"ts": [9], "value": [9.0]}
    )
    yb = b.create_collection(schema, "y")
    yb.series("s").write({"ts": [2], "value": [20.0]})

    # sync both ways
    a.pull(b)
    b.pull(a)
    assert a.ls() == b.ls() == ["x", "y", "z"]
    # concurrently-created 'y' merged BOTH replicas' writes (registry
    # entries share the label-derived storage prefix, so the commit DAGs
    # union and merge keeps every row)
    a.collection("y").merge()
    b.collection("y").merge()
    assert rows(a.collection("y").series("s").frame()) == [
        (1, 10.0), (2, 20.0)
    ]
    assert rows(b.collection("y").series("s").frame()) == [
        (1, 10.0), (2, 20.0)
    ]

    # divergent events: a renames x -> x2 while b deletes z
    time.sleep(0.01)  # LWW ordering vs the creates above
    a.rename_collection("x", "x2")
    b.delete_collection("z")
    a.pull(b)
    b.pull(a)
    assert a.ls() == b.ls() == ["x2", "y"]
    # renamed collection kept its data on both replicas
    assert rows(b.collection("x2").series("s").frame()) == [(1, 1.0)]

    # re-create after delete: the newer create wins over the tombstone
    time.sleep(0.01)
    z2 = b.create_collection(schema, "z")
    z2.series("s").write({"ts": [7], "value": [7.0]})
    a.pull(b)
    assert "z" in a.ls()
    assert rows(a.collection("z").series("s").frame()) == [(7, 7.0)]

    # merge() alone (the reference Repo.merge surface) reconciles a
    # third replica's registry without pulling data
    c = Repo(str(tmp_path / "c"), spark)
    c.merge(a)
    assert c.ls() == a.ls()


def test_registry_merge_converges_on_random_states(spark, tmp_path):
    # CRDT-style property: for random per-label (entry ts, tomb ts)
    # states on two replicas, merging both ways always converges to the
    # same registry — regardless of which side had which events
    import json
    import random

    from lakota_spark.repo import REGISTRY_DIR, Repo

    schema = Schema(ts="int*", value="float").to_dict()
    rng = random.Random(11)
    for trial in range(5):
        a = Repo(str(tmp_path / f"a{trial}"), spark)
        b = Repo(str(tmp_path / f"b{trial}"), spark)
        for label in "pqrstuv":
            for repo in (a, b):
                # each replica independently saw some subset of events
                if rng.random() < 0.7:
                    ts = rng.randint(1, 100)
                    repo.fs.write_bytes_atomic(
                        f"{REGISTRY_DIR}/{label}.json",
                        json.dumps(
                            {"schema": schema, "meta": {}, "ts": ts}
                        ).encode(),
                    )
                if rng.random() < 0.4:
                    ts = rng.randint(1, 100)
                    repo.fs.write_bytes_atomic(
                        f"{REGISTRY_DIR}/{label}.tomb",
                        json.dumps({"ts": ts}).encode(),
                    )
        a.merge(b)
        b.merge(a)

        def state(repo):
            out = {}
            for f in sorted(repo.fs.ls(REGISTRY_DIR)):
                out[f] = json.loads(repo.fs.read_bytes(f"{REGISTRY_DIR}/{f}"))
            return out

        assert state(a) == state(b), f"trial {trial} diverged"
        # idempotence: merging again changes nothing
        before = state(a)
        a.merge(b)
        assert state(a) == before


def test_export_import(repo, spark, tmp_path):
    coll = _mk(repo)
    coll.series("s").write({"ts": [1, 2], "value": [1.0, 2.0]})
    out = str(tmp_path / "export")
    repo.export_collection("c", out)
    assert os.path.exists(os.path.join(out, "_schema.json"))
    coll2 = repo.create_collection(Schema(ts="int*", value="float"), "c2")
    repo.import_parquet("c2", "s", f"file://{os.path.join(out, 's')}")
    assert rows(coll2.series("s").frame()) == [(1, 1.0), (2, 2.0)]


def test_time_travel_after_branches(repo):
    # cutoff derived from the REVISION stamps, not time.time(): hexts()
    # is monotonic per process (same-ms commits bump by 1 ms), so after
    # a commit-heavy suite the stamps can run a few ms AHEAD of wall
    # clock and a wall-clock cutoff between the writes lands before
    # write 1's stamp (observed as a full-suite-order flake)
    coll = _mk(repo)
    s = coll.series("s")
    s.write({"ts": [1], "value": [1.0]})
    e1 = coll.changelog.leaf().epoch
    s.write({"ts": [2], "value": [2.0]})
    e2 = coll.changelog.leaf().epoch
    assert e2 > e1
    snap_then = coll.snapshot(before=(e1 + e2) / 2)
    assert snap_then.length("s") == 1


def test_clone_identical_shares_segments(repo):
    coll = _mk(repo, "orig")
    coll.series("s").write({"ts": [1, 2], "value": [1.0, 2.0]})
    clone = coll.clone("copy")
    assert rows(clone.series("s").frame()) == [(1, 1.0), (2, 2.0)]
    a = coll.snapshot().for_label("s")[0].path
    b = clone.snapshot().for_label("s")[0].path
    assert a == b  # content-addressed share, no rewrite


def test_clone_schema_migration(repo):
    from lakota_spark.schema import Schema

    coll = repo.create_collection(Schema(ts="int*", value="float"), "m1")
    coll.series("s").write({"ts": [1], "value": [1.5]})
    clone = coll.clone("m2", rename={"value": "v"}, add={"note": "str"})
    out = clone.series("s").frame().collect()
    assert [(r.ts, r.v, r.note) for r in out] == [(1, 1.5, "")]


def test_defrag_kv_last_writer_wins(repo):
    # defrag over a KV collection must resolve key versions BEFORE merging
    # (ADVICE r1): overlapping KV segments hold several versions of a key;
    # a naive merge collapses them to one seq and the surviving version
    # becomes arbitrary, and stop=run[-1].stop drops rows beyond it.
    coll = repo.create_collection(Schema.kv_schema(key="int*", value="int"), "kvd")
    s = coll.series("s")
    s.write({"key": [1, 2, 3], "value": [10, 20, 30]})
    s.write({"key": [2, 9], "value": [21, 90]})      # overlaps, updates key 2
    s.write({"key": [1, 5], "value": [11, 50]})      # overlaps, updates key 1
    s.write({"key": [3], "value": [31]})             # updates key 3
    before = sorted((r.key, r.value) for r in s.frame().collect())
    assert before == [(1, 11), (2, 21), (3, 31), (5, 50), (9, 90)]
    coll.defrag(page_len=100, max_chunk=1)
    after = sorted((r.key, r.value) for r in s.frame().collect())
    assert after == before
    assert len(coll.snapshot().for_label("s")) == 1


def test_trim_before_reparents_survivors(repo):
    # trim(before=cutoff) must not orphan newer revisions (ADVICE r1):
    # survivors are re-parented onto the new root so log() still reaches
    # them, leaves() stays single-headed, and merge() keeps an ancestor.
    import time as _t

    coll = _mk(repo, "tr")
    s = coll.series("s")
    s.write({"ts": [1], "value": [1.0]})
    s.write({"ts": [2], "value": [2.0]})
    _t.sleep(0.01)
    cutoff = _t.time()
    _t.sleep(0.01)
    s.write({"ts": [3], "value": [3.0]})
    s.write({"ts": [4], "value": [4.0]})
    coll.trim(before=cutoff)
    # every surviving revision is reachable from PHI
    log = coll.changelog.log()
    reachable = {r.child for r in log}
    assert {r.child for r in coll.changelog.revisions()} == reachable
    assert len(coll.changelog.leaves()) == 1
    assert rows(s.frame()) == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    # history before the cutoff is squashed, after it preserved
    assert len(reachable) == 3  # new root + 2 surviving revisions


def test_search_archive_namespace(repo):
    # reference Repo.search / Repo.archive (`lakota/repo.py:138-147,
    # 227-232`): archive is a separate namespace with its own storage —
    # the live collection keeps evolving, the archive stays frozen.
    coll = _mk(repo, "arch")
    coll.series("s").write({"ts": [1, 2], "value": [1.0, 2.0]})
    assert [c.label for c in repo.search()] == ["arch"]
    assert [c.label for c in repo.search("nope")] == []
    frozen = repo.archive("arch")
    assert repo.ls() == ["arch"]                  # default ns unchanged
    assert repo.ls("archive") == ["arch"]
    coll.series("s").write({"ts": [3], "value": [3.0]})
    assert len(repo.collection("arch").series("s")) == 3
    assert len(repo.collection("arch", "archive").series("s")) == 2
    # re-archiving is idempotent and picks up new data
    frozen2 = repo.archive("arch")
    assert len(frozen2.series("s")) == 3
    # deleting the live collection leaves the archive intact
    repo.delete_collection("arch")
    assert repo.ls() == [] and repo.ls("archive") == ["arch"]
    assert len(repo.collection("arch", "archive").series("s")) == 3


def test_label_validation(repo):
    # reference `tests/repo_test.py:136-149`: labels are stripped, and
    # empty/whitespace-only labels are rejected
    sch = Schema(ts="int*", value="float")
    for label in ["abc", "abc-abc-123", "abc_abc-123.45", "abc+abc", "$", "é",
                  "foo bar"]:
        repo.create_collection(sch, label)
        repo.create_collection(sch, label)  # idempotent double-create
        with pytest.raises(ValueError):
            repo.create_collection(sch, label, raise_if_exists=True)
    for label in ["", "\t", "\n", " "]:
        with pytest.raises(ValueError):
            repo.create_collection(sch, label)
    assert repo.create_collection(sch, " padded ").label == "padded"
    # '~' is the namespace separator in registry filenames: a label holding
    # it would be misclassified by ls()/gc/pull and become invisible
    for label in ["a~b", "~", "x~"]:
        with pytest.raises(ValueError):
            repo.create_collection(sch, label)
    with pytest.raises(ValueError):
        repo.create_collection(sch, "ok", namespace="bad~ns")


@pytest.mark.parametrize("defrag", [False, True])
def test_label_delete_push(defrag, spark, tmp_path):
    # deletion propagates through push/pull; defrag+merge on the receiving
    # side must not resurrect it (reference `tests/sync_test.py:91-136`)
    from lakota_spark.repo import Repo

    local = Repo(str(tmp_path / "local"), spark)
    remote = Repo(str(tmp_path / "remote"), spark)
    sch = Schema(ts="int*", value="float")
    lc = local.create_collection(sch, "a_collection")
    remote.create_collection(sch, "a_collection")
    frm = {"ts": [1, 2, 3], "value": [1.0, 2.0, 3.0]}
    for label in "abcd":
        lc.series(label).write(frm)
    rc = remote.collection("a_collection")
    lc.push(rc)
    if defrag:
        rc.defrag()
    assert lc.ls() == list("abcd") and rc.ls() == list("abcd")

    local.collection("a_collection").delete_series("c")
    local.collection("a_collection").push(rc)
    if defrag:
        rc.merge()
        rc.defrag()
    assert remote.collection("a_collection").ls() == list("abd")

    remote.collection("a_collection").delete_series("d")
    local.collection("a_collection").pull(remote.collection("a_collection"))
    if defrag:
        local.collection("a_collection").defrag()
    assert local.collection("a_collection").ls() == list("ab")


def test_defrag_replication_stability(spark, tmp_path):
    # defrag is deterministic: two repos holding the same revisions defrag
    # independently to IDENTICAL content-addressed segments, so a later
    # push/pull re-copies nothing (reference `tests/sync_test.py:141-174`)
    from lakota_spark.repo import Repo

    local = Repo(str(tmp_path / "local"), spark)
    lc = local.create_collection(Schema(ts="int*", value="float"), "a_collection")
    s = lc.series("LABEL")
    base = 0
    for m in range(6):
        s.write({"ts": list(range(base, base + 30)), "value": [float(m)] * 30})
        base += 30
    remote = Repo(str(tmp_path / "remote"), spark)
    local.push(remote)
    rc = remote.collection("a_collection")
    lc.defrag()
    rc.defrag()
    assert sorted(lc.fs.ls(lc.seg_prefix)) == sorted(rc.fs.ls(rc.seg_prefix))


def test_shallow_push_pull(repo, spark, tmp_path):
    # shallow replication: only the leaf snapshot crosses, no history
    from lakota_spark.repo import Repo

    coll = _mk(repo, "sh")
    s = coll.series("s")
    for i in range(4):
        s.write({"ts": [i], "value": [float(i)]})
    assert len(coll.changelog.revisions()) == 4
    other = Repo(str(tmp_path / "shallow-remote"), spark)
    repo.push(other, ["sh"], shallow=True)
    dst = other.collection("sh")
    assert len(dst.changelog.revisions()) == 1   # single root revision
    assert rows(dst.series("s").frame()) == [(i, float(i)) for i in range(4)]
    # deep push for comparison carries the whole DAG
    other2 = Repo(str(tmp_path / "deep-remote"), spark)
    repo.push(other2, ["sh"])
    assert len(other2.collection("sh").changelog.revisions()) == 4


def test_shallow_pull_into_nonfresh_then_merge(spark, tmp_path):
    # a shallow pull into a collection that already has data creates a
    # second root; merge() must keep BOTH sides' rows — the shallow root
    # carries its full segment list as delta, so replay can't drop it
    from lakota_spark.repo import Repo

    sch = Schema(ts="int*", value="float")
    src = Repo(str(tmp_path / "src"), spark)
    dst = Repo(str(tmp_path / "dst"), spark)
    src.create_collection(sch, "c").series("s").write(
        {"ts": [1, 2], "value": [1.0, 2.0]}
    )
    dst.create_collection(sch, "c").series("s").write(
        {"ts": [10], "value": [10.0]}
    )
    src.push(dst, ["c"], shallow=True)
    dc = dst.collection("c")
    assert len(dc.changelog.leaves()) == 2
    dc.merge()
    assert len(dc.changelog.leaves()) == 1
    got = sorted((r.ts, r.value) for r in dc.series("s").frame().collect())
    assert got == [(1, 1.0), (2, 2.0), (10, 10.0)]


def test_squash_then_push_merges_without_loss(spark, tmp_path):
    # squash re-roots locally; pushing to a replica that still holds the
    # pre-squash chain creates two unrelated roots there — merge must
    # keep the squashed root's content (full-delta root invariant)
    from lakota_spark.repo import Repo

    sch = Schema(ts="int*", value="float")
    a = Repo(str(tmp_path / "a"), spark)
    b = Repo(str(tmp_path / "b"), spark)
    ca = a.create_collection(sch, "c")
    ca.series("s").write({"ts": [1], "value": [1.0]})
    ca.series("s").write({"ts": [2], "value": [2.0]})
    a.push(b)
    ca.series("s").write({"ts": [3], "value": [3.0]})
    ca.squash()
    a.push(b)
    cb = b.collection("c")
    assert len(cb.changelog.leaves()) == 2
    cb.merge()
    got = sorted((r.ts, r.value) for r in cb.series("s").frame().collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_kv_squash_push_merge_keeps_resolution(spark, tmp_path):
    # KV upsert resolution must survive squash → push → merge on a
    # replica still holding pre-squash history
    from lakota_spark.repo import Repo

    a = Repo(str(tmp_path / "a"), spark)
    b = Repo(str(tmp_path / "b"), spark)
    sch = Schema.kv(key="int*", value="float")
    ca = a.create_collection(sch, "c")
    ca.series("s").write({"key": [1, 2], "value": [1.0, 2.0]})
    a.push(b)
    ca.series("s").write({"key": [2, 3], "value": [20.0, 30.0]})
    ca.squash()
    a.push(b)
    cb = b.collection("c")
    cb.merge()
    got = sorted((r.key, r.value) for r in cb.series("s").frame().collect())
    assert got == [(1, 1.0), (2, 20.0), (3, 30.0)]


def test_shallow_then_deep_sync(spark, tmp_path):
    # a shallow-pulled root followed by a full history pull must merge
    # into one head with complete content
    from lakota_spark.repo import Repo

    a = Repo(str(tmp_path / "a"), spark)
    b = Repo(str(tmp_path / "b"), spark)
    sch = Schema(ts="int*", value="float")
    ca = a.create_collection(sch, "c")
    ca.series("s").write({"ts": [1], "value": [1.0]})
    ca.series("s").write({"ts": [2], "value": [2.0]})
    a.push(b, shallow=True)
    ca.series("s").write({"ts": [3], "value": [3.0]})
    a.push(b)
    cb = b.collection("c")
    cb.merge()
    assert len(cb.changelog.leaves()) == 1
    got = sorted((r.ts, r.value) for r in cb.series("s").frame().collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_export_import_collections_roundtrip(spark, tmp_path):
    # repo-level export/import (`lakota/repo.py:463-530` counterpart)
    from lakota_spark.repo import Repo

    src = Repo(str(tmp_path / "src"), spark)
    sch = Schema(ts="int*", value="float")
    for label in ("one", "two"):
        src.create_collection(sch, label).series("s").write(
            {"ts": [1, 2], "value": [1.0, 2.0]}
        )
    out = str(tmp_path / "dump")
    src.export_collections(out)
    dst = Repo(str(tmp_path / "dst"), spark)
    assert dst.import_collections(out) == ["one", "two"]
    for label in ("one", "two"):
        got = rows(dst.collection(label).series("s").frame())
        assert got == [(1, 1.0), (2, 2.0)]


def test_reference_api_aliases(repo, spark, tmp_path):
    # reference method names work unchanged: Repo.delete/rename/refresh/
    # export_collections, Collection.delete/rename/refresh/digests
    coll = _mk(repo, "al")
    s = coll.series("a")
    s.write({"ts": [1], "value": [1.0]})
    assert list(coll.digests())  # at least one referenced segment
    coll.rename("a", "b")
    assert coll.ls() == ["b"]
    coll.delete("b")
    assert coll.ls() == []
    coll.refresh()
    repo.refresh()
    repo.rename("al", "al2")
    assert "al2" in repo.ls() and "al" not in repo.ls()
    out = tmp_path / "exp"
    repo.collection("al2").series("x").write({"ts": [1], "value": [2.0]})
    repo.export_collections(str(out))
    assert (out / "al2").exists()
    repo.delete("al2")
    assert repo.ls() == []


def test_export_import_round_trip_all_formats(repo, spark, tmp_path):
    # parquet / orc / csv / jsonl must all survive export -> fresh-repo
    # import with identical values (jsonl is the standard corpus format)
    from lakota_spark.repo import Repo
    from lakota_spark.schema import Schema

    coll = repo.create_collection(
        Schema(ts="timestamp*", value="float", tag="str"), "fmt_rt"
    )
    rows = {
        "ts": ["2024-01-01T00:00:01", "2024-01-01T00:00:02",
               "2024-01-01T00:00:03"],
        "value": [1.5, 2.5, 3.5],
        "tag": ["a", "b", "c"],
    }
    coll.series("s1").write(rows)
    expected = sorted(map(tuple, coll.series("s1").frame().collect()))
    for fmt in Repo.IO_FORMATS:
        out = str(tmp_path / f"exp_{fmt}")
        repo.export_collections(out, ["fmt_rt"], fmt=fmt)
        other = Repo(f"file://{tmp_path}/imp_{fmt}", spark=spark)
        assert other.import_collections(out, fmt=fmt) == ["fmt_rt"]
        got = sorted(
            map(tuple, other.collection("fmt_rt").series("s1").frame().collect())
        )
        assert got == expected, fmt


def test_sql_view_over_collection(repo, spark):
    from lakota_spark.schema import Schema

    coll = repo.create_collection(Schema(ts="int*", value="float"), "sqlv")
    coll.series("x").write({"ts": [1, 2], "value": [1.0, 2.0]})
    coll.series("y").write({"ts": [1], "value": [9.0]})
    name = coll.sql_view()
    rows = spark.sql(
        f"SELECT series, sum(value) AS s FROM {name} GROUP BY series"
    ).collect()
    assert {(r.series, r.s) for r in rows} == {("x", 3.0), ("y", 9.0)}
    # per-series predicate works through SQL
    n = spark.sql(
        f"SELECT count(*) AS n FROM {name} WHERE series = 'x' AND ts >= 2"
    ).collect()[0].n
    assert n == 1
    # empty collection still registers a typed view
    empty = repo.create_collection(Schema(ts="int*", value="float"), "sqlv2")
    ename = empty.sql_view()
    assert spark.sql(f"SELECT * FROM {ename}").count() == 0
    # labels that sanitize to the same identifier get DISTINCT views
    ca = repo.create_collection(Schema(ts="int*", value="float"), "a-b")
    cb = repo.create_collection(Schema(ts="int*", value="float"), "a.b")
    ca.series("s").write({"ts": [1], "value": [1.0]})
    cb.series("s").write({"ts": [1], "value": [2.0]})
    na, nb = ca.sql_view(), cb.sql_view()
    assert na != nb
    assert spark.sql(f"SELECT value FROM {na}").collect()[0].value == 1.0
    assert spark.sql(f"SELECT value FROM {nb}").collect()[0].value == 2.0


def test_snapshot_cache_sees_external_writers(spark, tmp_path):
    """The per-collection head-snapshot memo and the changelog's
    linearization memo are keyed by the on-disk revision set, so a
    SECOND writer on the same storage (other process/instance) must be
    picked up on the next read or commit — a stale cache here would
    fork the changelog or serve vanished data."""
    from lakota_spark.repo import Repo

    root = str(tmp_path / "dual")
    a = Repo(root, spark).create_collection(
        Schema(ts="int*", value="float"), "c"
    )
    b = Repo(root, spark).collection("c")
    # interleave writers; each side reads through its own caches
    a.series("s").write({"ts": [1], "value": [1.0]})
    assert rows(b.series("s").frame()) == [(1, 1.0)]
    b.series("s").write({"ts": [2], "value": [2.0]})
    # A's cached head predates B's commit: its next write must chain on
    # B's head (one linear history, no fork) and keep B's row
    a.series("s").write({"ts": [3], "value": [3.0]})
    assert len(a.changelog.leaves()) == 1
    assert rows(a.series("s").frame()) == [(1, 1.0), (2, 2.0), (3, 3.0)]
    assert rows(b.series("s").frame()) == [(1, 1.0), (2, 2.0), (3, 3.0)]
    # non-append changes (trim rewrites the revision set) invalidate too
    a.trim()
    b.series("s").write({"ts": [4], "value": [4.0]})
    assert rows(a.series("s").frame()) == [
        (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)
    ]


def test_double_write_noop_after_external_commit(spark, tmp_path):
    """Known-changed commits skip the changelog's head compare; the
    no-op detection lives in the signature check, which must still see
    the LATEST head when another instance committed in between."""
    from lakota_spark.repo import Repo

    root = str(tmp_path / "dual2")
    a = Repo(root, spark).create_collection(
        Schema(ts="int*", value="float"), "c"
    )
    b = Repo(root, spark).collection("c")
    a.series("s").write({"ts": [1, 2], "value": [1.0, 2.0]})
    n0 = len(a.changelog.revisions())
    # identical re-write through the OTHER instance: still a no-op
    b.series("s").write({"ts": [1, 2], "value": [1.0, 2.0]})
    assert len(b.changelog.revisions()) == n0
    # and through the same instance
    a.series("s").write({"ts": [1, 2], "value": [1.0, 2.0]})
    assert len(a.changelog.revisions()) == n0


def test_log_cache_matches_full_relinearization(tmp_path):
    """The changelog memoizes its linearization and extends it in O(new)
    for pure append chains; every cached/extended result must equal a
    cold full recompute — across appends, forks, merge files (one file
    per parent, same child), and deletions."""
    from lakota_spark.changelog import PHI, Changelog
    from lakota_spark.fsio import FS

    fs = FS(str(tmp_path / "log"))
    cl = Changelog(fs, "_log")

    def fresh():  # cold instance: no caches
        return [r.basename for r in Changelog(fs, "_log").log()]

    def cached():
        return [r.basename for r in cl.log()]

    # append chain: each commit extends the cached linearization
    for i in range(5):
        cl.commit({"i": i}, parents=[cl.leaf().child] if i else [PHI])
        assert cached() == fresh()
    # fork: second child off an interior revision -> full recompute path
    interior = cl.log()[1].child
    cl.commit({"fork": True}, parents=[interior], force=True)
    assert cached() == fresh()
    assert len(cl.leaves()) == 2
    # merge file per parent (same child id) -> not a simple chain
    heads = [leaf.child for leaf in cl.leaves()]
    cl.commit({"merged": True}, parents=heads, force=True)
    assert cached() == fresh()
    assert len(cl.leaves()) == 1
    # deletion (trim-like): remove an old NON-ROOT revision file.
    # revisions() is deliberately unsorted (the hot path skips the
    # O(N log N) sort), so [0] is scandir order — under load it can be
    # the ROOT file, whose deletion makes the whole history unreachable
    # and leaf() None (observed flake). Pick a non-root victim: the
    # root stays reachable, so a head always survives.
    victim = next(r for r in cl.revisions() if r.parent != PHI)
    fs.remove_file(victim.rel)
    assert cached() == fresh()
    # and appends keep working on the recomputed cache
    cl.commit({"post": 1}, parents=[cl.leaf().child])
    assert cached() == fresh()


def test_register_views_and_sql(repo):
    # the whole repo becomes spark.sql-queryable: lazy per-series views
    # (pruning/pushdown engage per query), cross-series joins included
    from lakota_spark.schema import Schema

    coll = repo.create_collection(Schema(ts="int*", v="float"), "m")
    coll.series("a").write({"ts": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    coll.series("b").write({"ts": [2, 3, 4], "v": [20.0, 30.0, 40.0]})
    views = repo.register_views()
    assert "m_a" in views and "m_b" in views
    row = repo.spark.sql(
        "SELECT sum(a.v + b.v) AS s FROM m_a a JOIN m_b b USING (ts)"
    ).collect()[0]
    assert row.s == (2.0 + 20.0) + (3.0 + 30.0)
    # repo.sql composes registration + query; time travel via before=
    assert repo.sql("SELECT count(*) AS n FROM m_a").collect()[0].n == 3
    # a filtered view query pushes the range to the scan (classic path)
    out = repo.sql("SELECT v FROM m_a WHERE ts >= 2").collect()
    assert sorted(r.v for r in out) == [2.0, 3.0]


def test_register_views_collision_raises(repo):
    # ADVICE r9: \W-mangling can fold distinct series onto one view name
    # (collection 'a-b' label 'c' vs collection 'a' label 'b_c') —
    # createOrReplaceTempView would silently keep the LAST registration
    # and repo.sql would read the wrong series. Fail loudly instead.
    import pytest

    from lakota_spark.schema import Schema

    s = Schema(ts="int*", v="float")
    repo.create_collection(s, "a-b").series("c").write(
        {"ts": [1], "v": [1.0]}
    )
    repo.create_collection(s, "a").series("b_c").write(
        {"ts": [1], "v": [2.0]}
    )
    with pytest.raises(ValueError, match="collision.*a_b_c"):
        repo.register_views()
    # prefix= disambiguates per-call; single-collection registration works
    assert repo.register_views(collection="a") == ["a_b_c"]


def test_defrag_kv_skips_runs_shadowed_from_outside(repo):
    """Round 13 (found by direct repro): merging a KV run collapses it
    onto one NEW seq, so a newer covering segment OUTSIDE the run —
    which shadowed the run's stale rows — must block the compaction,
    or defrag resurrects the stale values."""
    coll = repo.create_collection(
        Schema.kv_schema(k="int*", v="int"), "kvshadow"
    )
    s = coll.series("x")
    s.write({"k": [10], "v": [1]})
    s.write({"k": [11], "v": [1]})
    # newer full-range rewrite: shadows both small segments but is too
    # large to join their run
    s.write({"k": list(range(0, 100)), "v": [2] * 100})
    before = sorted((r.k, r.v) for r in s.frame().collect())
    n_before = len(coll.snapshot().for_label("x"))
    coll.defrag(page_len=500_000, max_chunk=4)
    after = sorted((r.k, r.v) for r in s.frame().collect())
    assert after == before
    # the entangled run stayed fragmented (the only sound choice)
    assert len(coll.snapshot().for_label("x")) == n_before


def test_defrag_kv_disjoint_registry_compacts_locally(repo, count_jobs):
    """Round 13: a fragmented DISJOINT KV registry (no shadowing
    anywhere) compacts into one merged segment with identical reads,
    and the merged segment still reads without a Spark job."""
    coll = repo.create_collection(
        Schema.kv_schema(k="int*", v="int"), "kvreggy"
    )
    s = coll.series("x")
    for c in range(12):
        s.write({
            "k": list(range(c * 5, c * 5 + 5)),
            "v": [c] * 5,
        })
    before = sorted((r.k, r.v) for r in s.frame().collect())
    assert len(coll.snapshot().for_label("x")) == 12
    coll.defrag(page_len=100, max_chunk=1)
    segs = coll.snapshot().for_label("x")
    assert len(segs) == 1
    assert segs[0].meta.get("defrag")
    # the encode computed exact zone maps from the merged rows
    assert segs[0].meta.get("zmap", {}).get("v") == [0, 11, False]
    after = sorted((r.k, r.v) for r in s.frame().collect())
    assert after == before
    out = []
    assert count_jobs(lambda: out.append(s.df())) == 0
    assert list(zip(out[-1]["k"], out[-1]["v"])) == before


def test_defrag_kv_overlapping_run_starts_no_job(repo, count_jobs):
    """An OVERLAPPING KV run (three upserts over shared keys) is read,
    resolved last-writer-wins and re-encoded in this process: defrag
    starts no Spark job, every key keeps its newest value, and the
    merged segment's zone map is exact."""
    coll = repo.create_collection(
        Schema.kv_schema(k="int*", v="int"), "kvlap"
    )
    s = coll.series("x")
    model = {}
    for lo, hi, v in ((0, 10, 0), (5, 15, 1), (3, 7, 2)):
        s.write({"k": list(range(lo, hi)), "v": [v] * (hi - lo)})
        model.update((k, v) for k in range(lo, hi))
    want = sorted(model.items())
    before = s.df()
    assert list(zip(before["k"], before["v"])) == want
    assert count_jobs(
        lambda: coll.defrag(page_len=100, max_chunk=1)
    ) == 0
    (seg,) = coll.snapshot().for_label("x")
    assert seg.meta.get("defrag") and seg.length == len(want)
    assert seg.meta.get("zmap", {}).get("v") == [0, 2, False]
    assert s.df().equals(before)
    assert sorted((r.k, r.v) for r in s.frame().collect()) == want


def test_kv_maintenance_differential(repo):
    """Round 13 hardening (motivated by the defrag seq-inversion find):
    random KV workloads — overlapping/disjoint writes interleaved with
    defrag, squash and trim — must always read back exactly the pandas
    last-writer-wins replay of the writes. Maintenance may only change
    LAYOUT, never content."""
    import random as _random

    rng = _random.Random(1313)
    for case in range(8):
        coll = repo.create_collection(
            Schema.kv_schema(k="int*", v="int"), f"kvmaint{case}"
        )
        s = coll.series("x")
        state: dict[int, int] = {}
        n_writes = rng.randrange(3, 7)
        ops = []
        for w in range(n_writes):
            lo = rng.randrange(0, 30)
            n = rng.randrange(1, 9)
            ks = list(range(lo, lo + n))
            vs = [rng.randrange(0, 100) for _ in ks]
            s.write({"k": ks, "v": vs})
            state.update(zip(ks, vs))
            ops.append(f"w{lo}+{n}")
            if rng.random() < 0.4:
                op = rng.choice(["defrag", "squash", "maintain"])
                ops.append(op)
                if op == "defrag":
                    coll.defrag(page_len=rng.choice([4, 100]),
                                max_chunk=1)
                elif op == "squash":
                    coll.squash()
                else:
                    coll.maintain(max_revisions=1, max_segments=None)
        got = sorted((r.k, r.v) for r in s.frame().collect())
        want = sorted(state.items())
        assert got == want, (case, ops, got, want)
        pdf = s.df()
        assert sorted(zip(pdf["k"], pdf["v"])) == want, (case, ops)
