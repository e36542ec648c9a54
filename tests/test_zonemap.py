"""Value-column zone maps: may/must pruning logic, writer-side capture
on all three write paths, masked-read correctness (incl. the KV
shadowing trap), and the pruning differential."""

import random

import pytest

from lakota_spark import zonemap
from lakota_spark.repo import Repo
from lakota_spark.schema import Schema
from lakota_spark.sexpr import to_filter_plan


def _plan(expr):
    p = to_filter_plan(expr)
    assert p is not None, expr
    return p[0]


def test_may_match_table():
    z = {"v": [10, 20, False], "s": ["bb", "dd", True]}
    cases = [
        ("(< self.v 10)", False),
        ("(< self.v 11)", True),
        ("(> self.v 20)", False),
        ("(>= self.v 20)", True),
        ("(= self.v 15)", True),
        ("(= self.v 9)", False),
        ("(!= self.v 15)", True),
        ("(in self.v (list 1 2 3))", False),
        ("(in self.v (list 1 12))", True),
        ("(and (> self.v 12) (< self.v 14))", True),
        ("(and (> self.v 25) (< self.v 30))", False),
        ("(or (> self.v 25) (< self.v 5))", False),
        ("(or (> self.v 25) (< self.v 15))", True),
        # not: needs the must() dual
        ("(not (< self.v 25))", False),   # all values ARE < 25
        ("(not (< self.v 15))", True),
        ("(isnull self.v)", False),
        ("(isnull self.s)", True),
        # strings
        ("(< self.s \"ba\")", False),
        ("(< self.s \"bc\")", True),
        ("(= self.s \"cc\")", True),
        # unknown column: conservative keep
        ("(< self.other 0)", True),
        # flipped literal side
        ("(< 25 self.v)", False),
        ("(< 15 self.v)", True),
    ]
    for expr, want in cases:
        assert zonemap.may_match(_plan(expr), z) is want, expr


def test_must_float_nan_guard():
    # float column: must() refuses, so not(cmp) can never prune — a NaN
    # row satisfies ~(v < 1e9) even when every finite value is < 1e9
    z = {"f": [0.5, 2.5, False]}
    assert zonemap.may_match(_plan("(not (< self.f 100.0))"), z) is True
    # NaN is invisible to every stats source but satisfies Spark's
    # NaN-greatest > / >= and IEEE != — those shapes never prune floats
    assert zonemap.may_match(_plan("(> self.f 3.0)"), z) is True
    assert zonemap.may_match(_plan("(>= self.f 3.0)"), z) is True
    assert zonemap.may_match(_plan("(!= self.f 1.0)"), z) is True
    assert zonemap.may_match(_plan("(< 3.0 self.f)"), z) is True  # flip
    # <, <=, = stay prunable (NaN fails them in BOTH engines)
    assert zonemap.may_match(_plan("(< self.f 0.25)"), z) is False
    assert zonemap.may_match(_plan("(= self.f 9.0)"), z) is False
    # int columns DO prune through not() and >
    zi = {"i": [1, 5, False]}
    assert zonemap.may_match(_plan("(not (< self.i 100))"), zi) is False
    assert zonemap.may_match(_plan("(> self.i 6)"), zi) is False


def test_nonfinite_literals_never_pushable_or_pruning():
    # ADVICE r10 medium: `(= self.f nan)` used to prune segments whose
    # NaN rows Spark returns (NaN = NaN is TRUE in Spark; zone-map
    # bounds are always finite). Two layers of defense:
    # 1) to_filter_plan rejects non-finite literals outright → mask
    #    takes the Catalyst path (also fixes spark_nan_semantics'
    #    finite-literal assumption, ADVICE low #1)
    for m in ("(= self.f nan)", "(in self.f nan)", "(< nan self.f)",
              "(> self.f inf)", "(<= self.f -inf)",
              "(and (> self.v 1) (= self.f nan))",
              "(in self.f (list 1.0 nan))"):
        assert to_filter_plan(m) is None, m
    # 2) hand-built plans with NaN/inf literals (defense in depth —
    #    e.g. a pickled plan from an older writer) degrade to keep
    nan, inf = float("nan"), float("inf")
    z = {"f": [1.0, 5.0, False]}
    for plan in (
        ("cmp", "=", ("field", "f"), ("lit", nan)),
        ("in", ("field", "f"), [nan]),
        ("cmp", "<", ("lit", nan), ("field", "f")),
        ("cmp", ">", ("field", "f"), ("lit", inf)),
    ):
        assert zonemap.may_match(plan, z) is True, plan


def test_all_degenerate_cases_conservative():
    # missing zmap entries / mixed types / odd nodes keep the segment
    assert zonemap.may_match(_plan("(< self.v \"str\")"), {"v": [1, 2, False]})
    assert zonemap.may_match(_plan("(< self.v 5)"), {}) is True
    seg = type("S", (), {"meta": {}, "path": "x"})()
    assert zonemap.prune([seg], _plan("(< self.v 0)")) == [seg]


@pytest.fixture()
def repo(tmp_path):
    return Repo(f"file://{tmp_path}/zr")


def test_zone_map_captured_on_local_write_and_prunes(spark, repo):
    clc = repo.create_collection(
        Schema(ts="timestamp*", v="int", s="str"), "zm"
    )
    srs = clc.series("a")
    import datetime as dt

    def block(day, v0, tag):
        return {
            "ts": [dt.datetime(2024, 1, day, h) for h in range(4)],
            "v": [v0 + i for i in range(4)],
            "s": [f"{tag}{i}" for i in range(4)],
        }

    srs.write(block(1, 0, "a"))
    srs.write(block(2, 100, "b"))
    srs.write(block(3, 1000, "c"))
    segs = srs.segments()
    zms = [s.meta.get("zmap") for s in segs]
    assert all(z is not None for z in zms)
    assert sorted(z["v"] for z in zms) == [
        [0, 3, False], [100, 103, False], [1000, 1003, False]
    ]
    assert sorted(z["s"] for z in zms)[0] == ["a0", "a3", False]

    # pruning: only the middle segment can match
    plan = _plan("(and (>= self.v 100) (< self.v 200))")
    assert len(zonemap.prune(segs, plan)) == 1
    # and the masked read is right on both the frame and df paths
    out = srs.frame(mask="(and (>= self.v 100) (< self.v 200))")
    assert sorted(r.v for r in out.collect()) == [100, 101, 102, 103]
    pdf = srs.df(mask="(and (>= self.v 100) (< self.v 200))")
    assert sorted(pdf["v"].tolist()) == [100, 101, 102, 103]
    # a mask matching nothing anywhere: zero segments, empty frame
    assert srs.frame(mask="(> self.v 99999)").count() == 0
    assert len(srs.df(mask="(> self.v 99999)")) == 0


def test_zone_map_captured_on_executor_write(spark, repo):
    clc = repo.create_collection(
        Schema(k="int*", v="int", f="float"), "zx"
    )
    srs = clc.series("e")
    df = spark.range(1000).selectExpr(
        "id as k", "id * 2 as v", "cast(id as double) / 4 as f"
    )
    srs.write(df)
    (seg,) = srs.segments()
    z = seg.meta.get("zmap")
    assert z is not None
    assert z["v"] == [0, 1998, False]
    assert z["f"] == [0.0, 249.75, False]
    assert srs.frame(mask="(> self.v 1998)").count() == 0
    assert srs.frame(mask="(>= self.v 1990)").count() == 5


def test_zone_map_kv_never_prunes(spark, repo):
    # THE trap: a masked-out newer segment must still shadow older rows
    clc = repo.create_collection(
        Schema.kv_schema(k="int*", v="int"), "kvz"
    )
    srs = clc.series("kv")
    srs.write({"k": [1, 2], "v": [5, 6]})
    srs.write({"k": [1], "v": [100]})  # overwrites k=1
    out = srs.frame(mask="(< self.v 10)").collect()
    # k=1 now has v=100 (fails mask); only k=2 v=6 survives. If zone
    # maps pruned the newer segment, the stale (1, 5) would resurface.
    assert sorted((r.k, r.v) for r in out) == [(2, 6)]


def test_zone_map_pruning_differential(spark, repo):
    """Random segments + random masks: masked read ≡ unmasked read
    filtered in pandas — pruning must never change results."""
    clc = repo.create_collection(
        Schema(i="int*", v="int", f="float"), "zd"
    )
    srs = clc.series("d")
    rng = random.Random(11)
    base = 0
    for _ in range(6):
        n = rng.randrange(3, 30)
        vs = [rng.randrange(-50, 50) for _ in range(n)]
        srs.write({
            "i": list(range(base, base + n)),
            "v": vs,
            "f": [x / 4 for x in vs],
        })
        base += n
    full = srs.df()
    masks = [
        "(< self.v 0)",
        "(not (< self.v 10))",
        "(and (>= self.v -10) (<= self.v 10))",
        "(or (> self.v 45) (< self.v -45))",
        "(in self.v (list 0 1 2 3))",
        "(> self.f 5.0)",
        "(not (> self.f 0.0))",
        "(!= self.v 0)",
    ]
    for m in masks:
        got = srs.df(mask=m).reset_index(drop=True)
        import pandas as pd

        from lakota_spark.series import _arrow_mask_expr
        import pyarrow as pa

        plan = to_filter_plan(m)[0]
        tbl = pa.Table.from_pandas(full, preserve_index=False)
        exp = (
            tbl.filter(_arrow_mask_expr(plan))
            .to_pandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp, check_dtype=False), m


def test_zone_map_prunes_datasource_partitions(spark, repo):
    from lakota_spark.datasource import register

    register(spark)
    clc = repo.create_collection(Schema(i="int*", v="int"), "dsz")
    srs = clc.series("d")
    srs.write({"i": [1, 2, 3], "v": [10, 11, 12]})
    srs.write({"i": [4, 5, 6], "v": [500, 501, 502]})
    df = (
        spark.read.format("lakota")
        .option("path", repo.root)
        .option("table", "dsz/d")
        .load()
    )
    out = df.where("v >= 500").collect()
    assert sorted(r.v for r in out) == [500, 501, 502]
    assert df.where("v > 1000").count() == 0


def test_zone_map_after_defrag_and_ds_writer(spark, repo):
    from lakota_spark.datasource import register

    register(spark)
    # defrag merges small segments; the rewritten segment must carry a
    # zone map again (local path: exact from the merged frame)
    clc = repo.create_collection(Schema(i="int*", v="int"), "dfz")
    srs = clc.series("d")
    for k in range(6):
        srs.write({"i": [k * 10 + j for j in range(3)],
                   "v": [k * 100 + j for j in range(3)]})
    clc.defrag()
    segs = srs.segments()
    assert len(segs) < 6
    assert all(s.meta.get("zmap") for s in segs)
    z = segs[0].meta["zmap"]["v"]
    assert z[0] == 0 and z[1] == 502 and z[2] is False

    # distributed writer: per-partition zone maps land in the commit
    clc2 = repo.create_collection(Schema(i="int*", v="int"), "dwz")
    df = (
        spark.range(2000)
        .selectExpr("id as i", "id * 3 as v")
        .repartitionByRange(2, "i")
    )
    (
        df.write.format("lakota")
        .option("path", repo.root)
        .option("table", "dwz/w")
        .mode("append")
        .save()
    )
    wsegs = clc2.series("w").segments()
    assert len(wsegs) == 2
    for s in wsegs:
        zm = s.meta.get("zmap")
        assert zm is not None and "v" in zm
    lohi = sorted(tuple(s.meta["zmap"]["v"][:2]) for s in wsegs)
    assert lohi[0][0] == 0 and lohi[1][1] == 5997


def test_nan_mask_semantics_match_classic_path(spark, repo):
    """Spark totals-orders doubles with NaN GREATEST; Arrow follows
    IEEE. The pushable fast path (ordered scan), the pandas df() path
    and the data source must all agree with the CLASSIC Catalyst path
    on NaN-bearing float columns (spark_nan_semantics rewrite), and
    zone maps must not prune the NaN rows away."""
    import math

    from lakota_spark.datasource import register

    register(spark)
    clc = repo.create_collection(Schema(i="int*", f="float"), "nanz")
    srs = clc.series("n")
    # every write path now stores a NaN value as null; a segment written
    # before that still holds a REAL NaN
    from tests.test_read_grid import write_keeping_nan

    write_keeping_nan(
        srs, [{"i": 0, "f": 5.0}, {"i": 1, "f": 5.0}, {"i": 2, "f": float("nan")}]
    )
    srs.write({"i": [3, 4], "f": [1.0, 2.0]})

    masks = [
        "(> self.f 10.0)",    # Spark: NaN only; Arrow naive: nothing
        "(>= self.f 5.0)",
        "(< self.f 3.0)",
        "(<= self.f 5.0)",
        "(!= self.f 5.0)",
        "(= self.f 5.0)",
        "(not (> self.f 10.0))",
    ]
    for m in masks:
        classic = sorted(
            r.i for r in srs.frame(sort=False, mask=m).collect()
        )
        fast = sorted(r.i for r in srs.frame(sort=True, mask=m).collect())
        assert fast == classic, (m, fast, classic)
        local = sorted(srs.df(mask=m)["i"].tolist())
        assert local == classic, (m, local, classic)
    # the NaN row itself survives a > mask end-to-end
    got = srs.df(mask="(> self.f 10.0)")
    assert got["i"].tolist() == [2] and math.isnan(got["f"].iloc[0])
    # data source: Spark re-applies its own semantics on top, so the
    # source must not DROP NaN rows a Spark filter would keep
    df = (
        spark.read.format("lakota")
        .option("path", repo.root)
        .option("table", "nanz/n")
        .load()
    )
    assert sorted(r.i for r in df.where("f > 10.0").collect()) == [2]
    assert sorted(r.i for r in df.where("f != 5.0").collect()) == [2, 3, 4]


def _kvseg(start, stop, seq, zmap=None, path="p"):
    from lakota_spark.commit import Segment

    return Segment(
        "kv", (start,), (stop,), True, True, path, 1, seq,
        {"zmap": zmap} if zmap else {},
    )


def test_prune_kv_shadow_rules():
    """Unit pins for the round-13 shadowing-aware KV pruning: only a
    segment that shadows NOTHING (no older-or-equal-seq overlap) may
    be dropped by its zone map."""
    plan = _plan("(< self.v 10)")
    fail = {"v": [100, 200, False]}  # mask provably matches nothing

    # disjoint ranges: every mask-failing segment drops
    segs = [_kvseg(0, 9, 1, fail), _kvseg(10, 19, 2, fail),
            _kvseg(20, 29, 3, {"v": [0, 5, False]})]
    out = zonemap.prune_kv(segs, plan)
    assert out == [segs[2]]

    # the newer of an overlapping pair shadows -> blocked; the older
    # one shadows nothing -> prunable
    segs = [_kvseg(0, 9, 1, fail), _kvseg(5, 14, 2, fail)]
    out = zonemap.prune_kv(segs, plan)
    assert out == [segs[1]]

    # seq tie on overlap: no defined winner, BOTH blocked
    segs = [_kvseg(0, 9, 7, fail), _kvseg(9, 12, 7, fail)]
    assert zonemap.prune_kv(segs, plan) == segs

    # a tombstone (path=None) is never dropped and blocks as an older
    # neighbor
    tomb = _kvseg(0, 9, 1, None, path=None)
    newer = _kvseg(3, 5, 2, fail)
    assert zonemap.prune_kv([tomb, newer], plan) == [tomb, newer]

    # zmap-less segments are kept even when unblocked
    bare = _kvseg(50, 59, 9, None)
    assert zonemap.prune_kv([bare], plan) == [bare]

    # touching at a single point IS overlap (closed intervals)
    segs = [_kvseg(0, 10, 1, fail), _kvseg(10, 20, 2, fail)]
    out = zonemap.prune_kv(segs, plan)
    assert out == [segs[1]]  # older [0,10] shadows nothing, drops


def test_zone_map_kv_shadowing_differential(spark, repo):
    """Random KV workloads: frame(mask=) with shadowing-aware pruning
    must equal a pandas last-writer-wins replay of the same writes —
    across disjoint, chained and hot-key-overlap commit shapes."""
    rng = random.Random(13)
    for case in range(12):
        clc = repo.create_collection(
            Schema.kv_schema(k="int*", v="int"), f"kvdiff{case}"
        )
        srs = clc.series("x")
        state: dict[int, int] = {}
        for _ in range(rng.randrange(2, 7)):
            lo = rng.randrange(0, 40)
            n = rng.randrange(1, 8)
            ks = list(range(lo, lo + n))
            vs = [rng.randrange(-50, 50) for _ in ks]
            srs.write({"k": ks, "v": vs})
            state.update(zip(ks, vs))
        t = rng.randrange(-40, 40)
        for mask, pred in [
            (f"(< self.v {t})", lambda v: v < t),
            (f"(not (< self.v {t}))", lambda v: not v < t),
            (f"(and (>= self.v {t}) (<= self.v {t + 10}))",
             lambda v: t <= v <= t + 10),
        ]:
            got = sorted(
                (r.k, r.v)
                for r in srs.frame(mask=mask, sort=False).collect()
            )
            want = sorted(
                (k, v) for k, v in state.items() if pred(v)
            )
            assert got == want, (case, mask, got, want)
            # the sorted and driver-local paths — which may take the
            # r13 disjoint fast plans or the dedup plan depending on
            # the generated overlap shape — must agree row-for-row
            got_sorted = [
                (r.k, r.v)
                for r in srs.frame(mask=mask, sort=True).collect()
            ]
            assert got_sorted == want, (case, mask, got_sorted)
            pdf = srs.df(mask=mask)
            assert sorted(zip(pdf["k"], pdf["v"])) == want, (case, mask)


def test_kv_disjoint_reads_skip_dedup(spark, repo, count_jobs):
    """Round 13: a pairwise-disjoint KV segment set needs no
    last-writer-wins window — frame(sort=True) takes the exchange-free
    ordered scan, frame(sort=False) the join-free raw scan, and df()
    the local scan without a dedup; one overlapping write flips all
    three back to last-writer-wins with identical results throughout."""
    from lakota_spark import plans

    clc = repo.create_collection(
        Schema.kv_schema(k="int*", v="int"), "kvdisj"
    )
    srs = clc.series("x")
    # disjoint buckets, written out of interval order on purpose
    srs.write({"k": [20, 21, 22], "v": [2, 2, 2]})
    srs.write({"k": [0, 1, 2], "v": [0, 0, 0]})
    srs.write({"k": [10, 11, 12], "v": [1, 1, 1]})
    want = sorted([(0, 0), (1, 0), (2, 0), (10, 1), (11, 1), (12, 1),
                   (20, 2), (21, 2), (22, 2)])

    sorted_df = srs.frame(sort=True)
    plan = plans.explain_str(sorted_df, "simple")
    assert "Exchange" not in plan and "Sort" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert [(r.k, r.v) for r in sorted_df.collect()] == want

    unsorted_df = srs.frame(sort=False)
    plan = plans.explain_str(unsorted_df, "simple")
    assert "Exchange" not in plan and "Window" not in plan, plan
    assert sorted((r.k, r.v) for r in unsorted_df.collect()) == want

    out = []
    assert count_jobs(lambda: out.append(srs.df())) == 0
    local = out[-1]
    assert list(zip(local["k"], local["v"])) == want
    # masked local read: zone maps prune, rows match the Spark path
    got = srs.df(mask="(>= self.v 2)")
    assert list(zip(got["k"], got["v"])) == [(20, 2), (21, 2), (22, 2)]

    # one overlapping upsert -> dedup is back, results stay right
    srs.write({"k": [11, 12], "v": [9, 9]})
    plan = plans.explain_str(srs.frame(sort=False), "simple")
    assert "Window" in plan, plan
    want2 = sorted([(0, 0), (1, 0), (2, 0), (10, 1), (11, 9), (12, 9),
                    (20, 2), (21, 2), (22, 2)])
    assert sorted((r.k, r.v) for r in srs.frame().collect()) == want2
    # df() resolves last-writer-wins in the local scan too
    assert count_jobs(lambda: out.append(srs.df())) == 0
    assert list(zip(out[-1]["k"], out[-1]["v"])) == want2


def test_kv_disjoint_tail_prunes_segments(spark, repo):
    """Round 13: tail() on a disjoint KV set takes the non-KV
    trailing-segment metadata prune (commit order re-sorted to
    interval order) instead of reading every segment; an overlapping
    write flips it back to the full dedup read. Values must match the
    full-frame tail either way."""
    clc = repo.create_collection(
        Schema.kv_schema(k="int*", v="int"), "kvtail"
    )
    srs = clc.series("x")
    # interval order deliberately != commit order
    srs.write({"k": list(range(20, 30)), "v": [2] * 10})
    srs.write({"k": list(range(0, 10)), "v": [0] * 10})
    srs.write({"k": list(range(10, 20)), "v": [1] * 10})
    got = [(r.k, r.v) for r in srs.tail(5).collect()]
    assert got == [(25, 2), (26, 2), (27, 2), (28, 2), (29, 2)]
    # hot-key rewrite overlapping the tail: dedup path, new values win
    srs.write({"k": [28, 29], "v": [9, 9]})
    got = [(r.k, r.v) for r in srs.tail(3).collect()]
    assert got == [(27, 2), (28, 9), (29, 9)]


def test_prune_kv_sweep_matches_brute_force():
    """Property pin for the r13 active-set sweep: the O(n log n)
    shadow-blocking and disjointness computations must agree with the
    obvious O(n^2) definitions on randomized segment soups (interval
    ties, seq ties, tombstones, containment chains)."""
    from lakota_spark.commit import cmp_prefix

    plan = _plan("(< self.v 0)")
    refute = {"v": [1, 5, False]}     # mask provably fails
    maymatch = {"v": [-5, 5, False]}  # mask may match

    def overlap(a, b):
        return (
            cmp_prefix(tuple(a.start), tuple(b.stop)) <= 0
            and cmp_prefix(tuple(b.start), tuple(a.stop)) <= 0
        )

    def brute_prune(segs):
        out = []
        for i, s in enumerate(segs):
            blocked = any(
                j != i
                and segs[j].seq <= s.seq
                and overlap(s, segs[j])
                for j in range(len(segs))
            )
            if not blocked and s.path:
                z = (s.meta or {}).get("zmap")
                if z is not None and not zonemap.may_match(plan, z):
                    continue
            out.append(s)
        return out

    def brute_disjoint(segs):
        return not any(
            overlap(segs[i], segs[j])
            for i in range(len(segs))
            for j in range(i + 1, len(segs))
        )

    rng = random.Random(131)
    for _ in range(300):
        n = rng.randrange(0, 12)
        segs = []
        for _i in range(n):
            lo = rng.randrange(0, 30)
            hi = lo + rng.randrange(0, 10)
            segs.append(
                _kvseg(
                    lo, hi,
                    seq=rng.randrange(0, 6),  # ties likely
                    zmap=rng.choice([refute, maymatch, None]),
                    path=rng.choice(["p", "p", "p", None]),
                )
            )
        got = zonemap.prune_kv(segs, plan)
        want = brute_prune(segs)
        assert got == want, (segs, got, want)
        assert zonemap.pairwise_disjoint(segs) == brute_disjoint(segs), segs
