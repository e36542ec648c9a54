"""Value-column zone maps: per-segment min/max for NON-index columns,
stored in segment meta at write time and consulted at read time so a
``mask=`` predicate can skip whole segments before any parquet bytes
move.  Index bounds already prune by range (`Series.segments`); this is
the same idea for the payload columns — the classic zone-map / small
materialized aggregate trick, and at 100 TB the difference between
"open every segment's footers and let row-group stats prune" and
"never even list the files".

Source of the stats: the one segment writer (`segwriter.encode`)
computes exact min/max/has-null from the arrow table it encodes
(`compute_from_arrow`; int/float/str, strings capped at 64 chars — a
truncated MIN is still a valid lower bound but a truncated MAX is not,
so long strings just drop the column), on whichever side of the cluster
the table lives. A segment written by several tasks merges their maps
(`merge`: exact min/max, possibly dropping a column one task could not
bound).

Pruning logic is a may/must dual over the `sexpr.to_filter_plan` IR:
``may(plan)`` is True when SOME row could satisfy the mask (False ⇒
skip the segment), ``must(plan)`` under-approximates "every non-null
row satisfies" and exists only to drive ``may(not x) = not must(x)``.
Floats force ``must = False`` (NaN compares false against everything
arrow-side, so a NaN row can satisfy a negated comparison that every
finite value fails).  Everything unknown — absent column, mixed types,
unexpected node — degrades to "keep the segment".  KV collections are
never pruned by the callers: dropping a segment whose rows fail the
mask could resurrect OLDER shadowed rows that pass it (mask must apply
after last-writer-wins dedup).
"""

from __future__ import annotations

import math

_STR_CAP = 64


def _ok_str(v) -> bool:
    return isinstance(v, str) and len(v) <= _STR_CAP


def _ok_num(v) -> bool:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return False
    return not (isinstance(v, float) and not math.isfinite(v))


def _comparable(lit, lo) -> bool:
    if isinstance(lit, bool):
        return False
    if isinstance(lit, str):
        return isinstance(lo, str)
    if isinstance(lit, float) and not math.isfinite(lit):
        # NaN/inf literal: zone-map bounds are always finite (every
        # stats source skips NaN), but Spark treats NaN = NaN as TRUE
        # and NaN as greatest — interval logic on finite bounds would
        # prune segments whose NaN rows Spark returns. Not comparable
        # → caller degrades to keep. (to_filter_plan also rejects such
        # plans outright; this is defense in depth.)
        return False
    if isinstance(lit, (int, float)):
        return isinstance(lo, (int, float)) and not isinstance(lo, bool)
    return False


def _may_cmp(op: str, lo, hi, lit, flipped: bool) -> bool:
    """Could some non-null value v in [lo, hi] satisfy ``v op lit``
    (or ``lit op v`` when flipped)?"""
    if flipped:  # lit op v  ==  v (mirror op) lit
        op = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=",
              "!=": "!="}[op]
    if op == "<":
        return lo < lit
    if op == "<=":
        return lo <= lit
    if op == ">":
        return hi > lit
    if op == ">=":
        return hi >= lit
    if op == "=":
        return lo <= lit <= hi
    return not (lo == hi == lit)  # !=


def _must_cmp(op: str, lo, hi, lit, flipped: bool) -> bool:
    """Does EVERY non-null value in [lo, hi] satisfy it?"""
    if flipped:
        op = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=",
              "!=": "!="}[op]
    if op == "<":
        return hi < lit
    if op == "<=":
        return hi <= lit
    if op == ">":
        return lo > lit
    if op == ">=":
        return lo >= lit
    if op == "=":
        return lo == hi == lit
    return lit < lo or lit > hi  # !=


def may_match(plan, zmap: dict) -> bool:
    """False ⇒ provably no row of the segment satisfies the mask."""

    def field_of(a, b):
        if a[0] == "field" and b[0] == "lit":
            return a[1], b[1], False
        if b[0] == "field" and a[0] == "lit":
            return b[1], a[1], True
        return None

    def may(node) -> bool:
        kind = node[0]
        if kind == "lit":
            return bool(node[1])
        if kind == "cmp":
            _, op, a, b = node
            if a[0] == "lit" and b[0] == "lit":
                return _may_cmp(op, a[1], a[1], b[1], False) \
                    if _comparable(b[1], a[1]) else True
            fl = field_of(a, b)
            if fl is None:
                return True
            col, lit, flipped = fl
            z = zmap.get(col)
            if z is None or not _comparable(lit, z[0]):
                return True
            if isinstance(z[0], float) or isinstance(z[1], float):
                # NaN is invisible to every stats source (pandas/arrow
                # min_max and parquet footers all skip it) yet satisfies
                # Spark's NaN-greatest `>`/`>=` and IEEE `!=` — those
                # shapes can never prune a float column
                eff = (
                    {"<": ">", "<=": ">=", ">": "<", ">=": "<=",
                     "=": "=", "!=": "!="}[op]
                    if flipped
                    else op
                )
                if eff in (">", ">=", "!="):
                    return True
            return _may_cmp(op, z[0], z[1], lit, flipped)
        if kind == "and":
            return all(may(x) for x in node[1])
        if kind == "or":
            return any(may(x) for x in node[1])
        if kind == "not":
            return not must(node[1])
        if kind == "in":
            a, values = node[1], node[2]
            if a[0] != "field":
                return True
            z = zmap.get(a[1])
            if z is None:
                return True
            return any(
                _comparable(v, z[0]) and z[0] <= v <= z[1]
                for v in values
            ) or any(not _comparable(v, z[0]) for v in values)
        if kind == "isnull":
            a = node[1]
            if a[0] != "field":
                return True
            z = zmap.get(a[1])
            return True if z is None else bool(z[2])
        return True  # unknown node: keep

    def must(node) -> bool:
        kind = node[0]
        if kind == "lit":
            return bool(node[1])
        if kind == "cmp":
            _, op, a, b = node
            fl = field_of(a, b)
            if fl is None:
                return False
            col, lit, flipped = fl
            z = zmap.get(col)
            if z is None or not _comparable(lit, z[0]):
                return False
            if isinstance(z[0], float) or isinstance(z[1], float):
                return False  # NaN rows: arrow cmp false, ~cmp true
            return _must_cmp(op, z[0], z[1], lit, flipped)
        if kind == "and":
            return all(must(x) for x in node[1])
        if kind == "or":
            return any(must(x) for x in node[1])
        if kind == "not":
            return not may(node[1])
        if kind == "in":
            a, values = node[1], node[2]
            if a[0] != "field":
                return False
            z = zmap.get(a[1])
            if z is None or isinstance(z[0], float):
                return False
            return z[0] == z[1] and any(
                _comparable(v, z[0]) and v == z[0] for v in values
            )
        return False  # isnull / unknown: never provable

    return may(plan)


def prune(segments, plan):
    """Drop segments whose zone map proves the mask matches nothing.
    Segments without a zone map (old writes, tombstones, skipped
    columns) are kept.  Callers must NOT use this on KV collections."""
    if plan is None:
        return segments
    out = []
    for s in segments:
        z = (s.meta or {}).get("zmap") if s.path else None
        if z is not None and not may_match(plan, z):
            continue
        out.append(s)
    return out


def pairwise_disjoint(segments) -> bool:
    """True when no two segments' closed prefix intervals overlap.

    For a KV (last-writer-wins) read this is the license to skip dedup
    entirely: a key can only have two versions if two segments'
    intervals both contain it, so a pairwise-disjoint queried set makes
    the dedup window a per-row no-op — and the read can take the same
    raw-scan / exchange-free / driver-local fast paths as a non-KV
    series (round 13). The append-heavy registry shape (new key ranges
    per commit, old ranges never rewritten) is exactly this.

    Sweep: sort by start, track the running max stop; an interval
    starting at-or-before it overlaps. `cmp_prefix` equality on a
    common prefix counts as overlap (conservative — prefix bounds get
    the dedup path)."""
    from lakota_spark.commit import cmp_prefix

    if len(segments) <= 1:
        return True
    order = sorted(segments, key=lambda s: tuple(s.start))
    hi = tuple(order[0].stop)
    for s in order[1:]:
        if cmp_prefix(tuple(s.start), hi) <= 0:
            return False
        stop = tuple(s.stop)
        if cmp_prefix(stop, hi) > 0:
            hi = stop
    return True


def prune_kv(segments, plan):
    """Shadowing-aware zone-map pruning for KV (last-writer-wins)
    series — round 13, VERDICT r12 #8.

    For KV the mask applies AFTER dedup, so dropping a mask-failing
    segment is only safe when the drop cannot change which row is the
    NEWEST version of any key: a segment S that overlaps an OLDER
    segment's key interval shadows that segment's rows, and removing S
    would promote those older rows to newest — rows the mask may
    accept (resurrection). Shadowing only flows newer→older, so the
    exact safe rule is:

        S may be pruned  ⇔  its zone map proves the mask matches no
        row of S, AND no other segment with seq <= S.seq overlaps
        S's key interval.

    Append-heavy KV workloads (registries, time-bucketed upserts)
    write mostly range-disjoint segments, so nearly everything is
    prunable; hot-key rewrite chains overlap and stay unpruned —
    exactly the segments whose rows can actually shadow. Overlap is
    closed-interval `cmp_prefix` (prefix bounds compare equal on the
    common prefix — wider overlap, more blocking, conservative), seq
    ties block BOTH sides (equal-seq overlap has no defined winner),
    and tombstones / zmap-less segments are never dropped but DO block
    as older neighbors. The blocked-set sweep is O(n log n + pairs):
    segments sorted by start; each new segment checks the still-open
    active set, which is exactly its overlap set.

    Differentially verified against a pruning-free pandas
    replay (Hypothesis, `tests/test_zonemap.py`); read-amplification
    win measured in NOTES.md, "KV zone-map pruning with shadowing
    awareness" (123 -> 5 segments)."""
    from lakota_spark.commit import cmp_prefix

    if plan is None or not segments:
        return segments
    order = sorted(
        range(len(segments)),
        key=lambda i: tuple(segments[i].start),
    )
    blocked = [False] * len(segments)
    active: list[int] = []  # indices whose interval may still overlap
    for i in order:
        s = segments[i]
        nxt = []
        for j in active:
            o = segments[j]
            if cmp_prefix(tuple(o.stop), tuple(s.start)) < 0:
                continue  # closed before s starts — and before all
                # later starts too, but keeping the filter per-step
                # is simpler and still linear amortized
            nxt.append(j)
            # o.start <= s.start <= o.stop ⇒ overlap is certain
            if o.seq <= s.seq:
                blocked[i] = True
            if s.seq <= o.seq:
                blocked[j] = True
        nxt.append(i)
        active = nxt
    out = []
    for i, s in enumerate(segments):
        if not blocked[i] and s.path:
            z = (s.meta or {}).get("zmap")
            if z is not None and not may_match(plan, z):
                continue
        out.append(s)
    return out


def merge(zmaps) -> dict | None:
    """Combine segment zone maps for a compaction rewrite: valid only
    when EVERY input segment contributes one (an unknown segment could
    hold anything).  Per column present in all inputs: [min of mins,
    max of maxs, any has_null] — a correct (possibly loose) bound for
    any SUBSET of the union too, so KV last-writer-wins rewrites may
    reuse it."""
    out: dict | None = None
    for z in zmaps:
        if z is None:
            return None
        if out is None:
            out = {c: list(v) for c, v in z.items()}
            continue
        for c in list(out):
            v = z.get(c)
            if v is None:
                del out[c]
                continue
            cur = out[c]
            if v[0] < cur[0]:
                cur[0] = v[0]
            if v[1] > cur[1]:
                cur[1] = v[1]
            cur[2] = cur[2] or v[2]
    return out or None


def compute_from_arrow(tbl, idx, aliases) -> dict | None:
    """Exact zone map from an arrow table: value columns of type
    int/float/str -> [min, max, has_null]; columns whose bounds are not
    JSON-safe tight bounds (long strings, non-finite floats, all null)
    are omitted.  Computed with ``pc.min_max``.  NOTE ``pc.min_max`` SKIPS NaN (like pandas min/max
    and parquet footer stats), so float bounds never see NaN — which is
    exactly why `may_match` refuses to prune float columns on the
    ``>``/``>=``/``!=`` shapes a NaN row could satisfy."""
    import pyarrow.compute as pc

    out = {}
    for col, kind in aliases.items():
        if col in idx or kind not in ("int", "float", "str"):
            continue
        c = tbl.column(col)
        n = len(c)
        if n == 0 or c.null_count == n:
            continue
        has_null = c.null_count > 0
        if not has_null and kind == "float":
            # count NaN as has_null (like pd.isna): float round trips
            # through pandas make None and NaN indistinguishable, so the
            # conservative flag keeps isnull-mask pruning identical
            # however the rows reached the writer
            has_null = bool(pc.any(pc.is_nan(c)).as_py())
        mm = pc.min_max(c)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None or hi is None:
            continue
        if kind == "str":
            if not (_ok_str(lo) and _ok_str(hi)):
                continue
        else:
            try:
                lo, hi = (
                    (float(lo), float(hi))
                    if kind == "float"
                    else (int(lo), int(hi))
                )
            except (TypeError, ValueError):
                continue
            if not (_ok_num(lo) and _ok_num(hi)):
                continue
        out[col] = [lo, hi, has_null]
    return out or None
