"""Property-based check of the interval-overlay algebra.

The metadata overlay (`lakota_spark.commit.Snapshot.overlay`) is the
load-bearing semantic of the engine (SURVEY.md §7 risk 1). Rather than
running Spark for each case, this drives the SAME pruning + bounds
filtering logic the read path uses, against a brute-force row-dict model:
apply random writes (with optional widened bounds and closed variants)
and range deletes; the surviving (key → write_id) mapping must match.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from lakota_spark.commit import Segment, Snapshot
from lakota_spark.series import CLOSED

DOMAIN = list(range(12))


def model_apply(model: dict, op) -> None:
    kind, lo, hi, closed, rows, wid = op
    lo_c, hi_c = CLOSED[closed]
    for k in list(model):
        ge = k > lo or (k == lo and lo_c)
        le = k < hi or (k == hi and hi_c)
        if ge and le:
            del model[k]
    if kind == "write":
        for r in rows:
            model[r] = wid


def engine_rows(snap: Snapshot, writes: dict) -> dict:
    """Read back via segment pruning + effective-bound filtering — the
    per-row clip `segscan` applies to each overlay-clipped segment."""
    out: dict[int, int] = {}
    for seg in snap.for_label("s"):
        rows = writes[seg.seq]  # rows physically in that segment's file
        for k in rows:
            ge = k > seg.start[0] or (k == seg.start[0] and seg.start_closed)
            le = k < seg.stop[0] or (k == seg.stop[0] and seg.stop_closed)
            if ge and le:
                assert k not in out, "overlay produced overlapping segments"
                out[k] = seg.seq
    return out


ops = st.lists(
    st.tuples(
        st.sampled_from(["write", "delete"]),
        st.integers(0, 11),          # lo
        st.integers(0, 11),          # hi (swapped if needed)
        st.sampled_from(["b", "l", "r", "n"]),
        st.booleans(),               # widen bounds beyond data?
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=300, deadline=None)
@given(ops)
def test_overlay_matches_bruteforce(op_list):
    snap = Snapshot()
    model: dict[int, int] = {}
    writes: dict[int, list[int]] = {}
    for kind, a, b, closed, widen in op_list:
        lo, hi = min(a, b), max(a, b)
        lo_c, hi_c = CLOSED[closed]
        if kind == "write":
            rows = [
                k for k in range(lo, hi + 1)
                if (k > lo or lo_c) and (k < hi or hi_c)
            ]
            if not rows:
                continue
            if not widen:
                # bounds = data min/max, closed both (the default path)
                lo, hi, closed = rows[0], rows[-1], "b"
                lo_c = hi_c = True
            seq = snap.max_seq + 1
            seg = Segment(
                "s", (lo,), (hi,), lo_c, hi_c, path=f"p{seq}", length=len(rows)
            )
            snap = snap.overlay(seg)
            writes[seq] = rows
            model_apply(model, ("write", lo, hi, closed, rows, seq))
        else:
            seg = Segment("s", (lo,), (hi,), lo_c, hi_c, path=None, length=0)
            snap = snap.overlay(seg)
            model_apply(model, ("delete", lo, hi, closed, [], 0))
    assert engine_rows(snap, writes) == model


# --- differential: windowed overlay vs reference linear scan -------------
#
# The bisect-windowed overlay (round 7) must produce the SAME segment
# table as the original O(N)-scan algorithm, including multi-column
# bounds, short (prefix) bounds, multiple labels, and KV mode — cases
# the row-model test above (single label, 1-tuples) doesn't reach.


def linear_overlay(snap: Snapshot, new: Segment, kv: bool = False) -> Snapshot:
    """The pre-round-7 reference algorithm, verbatim semantics."""
    from dataclasses import replace

    from lakota_spark.commit import cmp_prefix

    c = cmp_prefix(new.start, new.stop)
    if c > 0 or (c == 0 and not (new.start_closed and new.stop_closed)):
        return Snapshot(list(snap.segments), max_seq=snap.max_seq)
    seq = snap.max_seq + 1
    new = replace(new, seq=seq)
    out = []
    for seg in snap.segments:
        if seg.label != new.label or kv or not seg.intersects(
            new.start, new.stop, new.start_closed, new.stop_closed
        ):
            out.append(seg)
            continue
        head = replace(
            seg,
            stop=new.start,
            stop_closed=not new.start_closed,
            meta={**seg.meta, "clip": 1},
        )
        if not head.is_empty():
            out.append(head)
        tail = replace(
            seg,
            start=new.stop,
            start_closed=not new.stop_closed,
            meta={**seg.meta, "clip": 1},
        )
        if not tail.is_empty():
            out.append(tail)
    if new.path is not None and new.length > 0:
        out.append(new)
    return Snapshot(out, max_seq=seq)


bound2 = st.tuples(st.integers(0, 5), st.integers(0, 5))
ops2 = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),      # label
        bound2,                            # lo (2-col)
        bound2,                            # hi
        st.sampled_from(["b", "l", "r", "n"]),
        st.sampled_from(["write", "delete", "prefix_delete"]),
    ),
    min_size=1,
    max_size=14,
)


@settings(max_examples=300, deadline=None)
@given(ops2, st.booleans())
def test_windowed_overlay_matches_linear_scan(op_list, kv):
    fast = Snapshot()
    ref = Snapshot()
    for i, (label, a, b, closed, kind) in enumerate(op_list):
        lo, hi = min(a, b), max(a, b)
        lo_c, hi_c = CLOSED[closed]
        if kind == "prefix_delete":
            # short (prefix) bounds — the stored-bound arity mix the
            # bisect window must extend over
            seg = Segment(
                label, (lo[0],), (hi[0],), lo_c, hi_c, path=None, length=0
            )
        elif kind == "delete":
            seg = Segment(label, lo, hi, lo_c, hi_c, path=None, length=0)
        else:
            seg = Segment(
                label, lo, hi, lo_c, hi_c, path=f"p{i}", length=1
            )
        # mirror production: KV collections pass overlapping=True on
        # every overlay (deletes run kv=False over an overlapping table)
        fast = fast.overlay(
            seg, kv=kv and kind == "write", overlapping=kv
        )
        ref = linear_overlay(ref, seg, kv=kv and kind == "write")
        assert fast.max_seq == ref.max_seq
        assert [
            (s.label, s.start, s.stop, s.start_closed, s.stop_closed,
             s.path, s.seq, s.meta.get("clip"))
            for s in fast.segments
        ] == [
            (s.label, s.start, s.stop, s.start_closed, s.stop_closed,
             s.path, s.seq, s.meta.get("clip"))
            for s in ref.segments
        ]
