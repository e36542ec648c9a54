"""Snapshot = the full segment table of a revision, plus the interval
overlay algebra that makes writes last-writer-wins.

Reproduces the *semantics* of the reference's commit machinery
(`lakota/commit.py:263-359` update/overlay, `lakota/utils.py:307-335`
closed-bound algebra) on segment metadata: a new segment's interval
shadows the overlapping part of older segments of the same label; older
segments are truncated (possibly split into head/tail pieces) by
*narrowing their effective read bounds* — their Parquet files are never
rewritten, the read path applies the bounds as filters.

Bounds are tuples over the index columns (lexicographic order); every
bound carries an inclusive/exclusive flag (reference Closed ∈
{n,l,r,b} maps to the two booleans start_closed/stop_closed).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from dataclasses import dataclass, field, replace
from typing import Any

from lakota_spark.schema import Schema

Bound = tuple  # tuple of index-column values


def cmp_prefix(a: tuple, b: tuple) -> int:
    """Lexicographic compare where a shorter tuple is a *prefix interval*:
    equal on the common prefix → 0 ('prefix matches'), mirroring the
    reference's multi-column prefix intersect (`lakota/series.py:12-20`)."""
    for x, y in zip(a, b):
        if x < y:
            return -1
        if x > y:
            return 1
    return 0


@dataclass(frozen=True)
class Segment:
    """One contiguous, sorted slice of a series.

    ``path`` points at a content-addressed Parquet directory; ``start`` /
    ``stop`` are the *effective* read bounds (narrowed by later overlays —
    the file may physically contain more rows). ``seq`` is the commit
    sequence, used by KV reads for last-writer-wins ordering.
    """

    label: str
    start: Bound
    stop: Bound
    start_closed: bool = True
    stop_closed: bool = True
    path: str | None = None  # None => empty segment (pure delete marker)
    length: int = 0
    seq: int = 0
    meta: dict = field(default_factory=dict)

    # -- interval algebra --------------------------------------------------

    def is_empty(self) -> bool:
        if self.path is None:
            return True
        c = cmp_prefix(self.start, self.stop)
        if c > 0:
            return True
        if c == 0 and not (self.start_closed and self.stop_closed):
            return True
        return False

    def intersects(self, start: Bound, stop: Bound, start_closed: bool, stop_closed: bool) -> bool:
        c1 = cmp_prefix(self.start, stop)
        if c1 > 0 or (c1 == 0 and not (self.start_closed and stop_closed)):
            return False
        c2 = cmp_prefix(start, self.stop)
        if c2 > 0 or (c2 == 0 and not (start_closed and self.stop_closed)):
            return False
        return True

    def to_dict(self, schema: Schema) -> dict:
        # Memoized per (segment, schema): checkpoint commits serialize
        # the WHOLE table — O(N) bound serializations per checkpoint —
        # and segments are frozen and survive across snapshots (overlay
        # only replaces the clipped ones), so caching turns the
        # steady-state cost into one dict per NEW segment.
        # `dataclasses.replace` builds a fresh object, which drops the
        # cache with the stale bounds.
        #
        # CONTRACT: the returned dict is SHARED and FROZEN — it is
        # embedded by reference into every commit payload/delta that
        # serializes this segment, and its 'meta' aliases segment.meta.
        # Callers must treat it (and nested values) as read-only;
        # mutation-prone boundaries must take copies.
        cached = getattr(self, "_dict_cache", None)
        if cached is not None and cached[0] is schema:
            return cached[1]
        d = {
            "label": self.label,
            "start": schema.serialize_bound(self.start),
            "stop": schema.serialize_bound(self.stop),
            "start_closed": self.start_closed,
            "stop_closed": self.stop_closed,
            "path": self.path,
            "length": self.length,
            "seq": self.seq,
            "meta": self.meta,
        }
        object.__setattr__(self, "_dict_cache", (schema, d))
        return d

    @classmethod
    def from_dict(cls, d: dict, schema: Schema) -> "Segment":
        return cls(
            label=d["label"],
            start=schema.deserialize_bound(d["start"]),
            stop=schema.deserialize_bound(d["stop"]),
            start_closed=d["start_closed"],
            stop_closed=d["stop_closed"],
            path=d["path"],
            length=d["length"],
            seq=d.get("seq", 0),
            meta=d.get("meta", {}),
        )


def _skey(s: "Segment") -> tuple:
    """Snapshot sort key — (label, start, open-start-last)."""
    return (s.label, s.start, s.start_closed is False)


class Snapshot:
    """The segment table of one revision (reference `Commit`,
    `lakota/commit.py:1-16`): all segments of all labels, sorted by
    (label, start).

    Within a non-KV label the segments are pairwise DISJOINT — `overlay`
    clips every intersecting older segment, so the invariant holds
    inductively from the empty table, and defrag/squash rewrite disjoint
    runs. The windowed overlay below leans on it: sorted-by-start +
    disjoint means intersecting segments form one contiguous window,
    located by bisect instead of an O(table) scan per write."""

    def __init__(
        self,
        segments: list[Segment] | None = None,
        max_seq: int = 0,
        _presorted: bool = False,
    ):
        if _presorted:
            # caller guarantees sort order and an exact max_seq — the
            # overlay fast path, where the O(N log N) re-sort and the
            # O(N) seq scan were half the sustained-append cost
            self.segments = segments if segments is not None else []
            self.max_seq = max_seq
            return
        self.segments = sorted(segments or [], key=_skey)
        self.max_seq = max(
            [max_seq, *[s.seq for s in self.segments]] or [0]
        )

    def _keys(self) -> list[tuple]:
        """Sort-key array parallel to ``segments`` (lazy, carried across
        overlays by splicing — rebuilding it is an O(N) pass per write)."""
        k = getattr(self, "_keys_cache", None)
        if k is None:
            k = [_skey(s) for s in self.segments]
            self._keys_cache = k
        return k

    # -- overlay (the core write-path semantics) ---------------------------

    def overlay(
        self, new: Segment, kv: bool = False, overlapping: bool = False
    ) -> "Snapshot":
        """Apply one write: ``new``'s interval shadows older data of the
        same label (`lakota/commit.py:263-359`). Older overlapping segments
        are truncated/split; a zero-length ``new`` is a pure range delete
        (`lakota/series.py:227-229`).

        KV collections skip the shadowing: rows merge by key at read time
        (last seq wins), so prior segments stay intact
        (`lakota/series.py:449-475`).

        Cost: O(log N + K) for K intersecting segments (bisect the label
        block, walk the contiguous intersecting window, splice) — the
        sustained-append shape is K=0. The windowing leans on the non-KV
        disjointness invariant; callers overlaying a label that may hold
        OVERLAPPING segments (a range delete / key shadowing pass on a KV
        collection) must pass ``overlapping=True`` to widen the window to
        the whole label block. Correctness is differentially pinned
        against a reference linear-scan overlay by the Hypothesis suite
        (`tests/test_overlay_property.py`).
        """
        # Degenerate (empty) interval — e.g. delete (x, x) with an open
        # bound — shadows nothing; without this guard the head/tail split
        # below would produce OVERLAPPING pieces (both flags flip to
        # closed at the same point). Found by the Hypothesis overlay suite.
        c = cmp_prefix(new.start, new.stop)
        if c > 0 or (c == 0 and not (new.start_closed and new.stop_closed)):
            return Snapshot(
                self.segments, max_seq=self.max_seq, _presorted=True
            )
        seq = self.max_seq + 1
        new = replace(new, seq=seq)
        segments = self.segments
        keys = self._keys()
        label = new.label
        llo = bisect_left(keys, (label,))
        # labels are plain strings: label+"\x00" sorts after every
        # (label, ...) key and before any longer label's block
        lhi = bisect_left(keys, (label + "\x00",))
        add_new = new.path is not None and new.length > 0
        if kv:
            if not add_new:
                return Snapshot(segments, max_seq=seq, _presorted=True)
            lo = hi = bisect_right(keys, _skey(new), llo, lhi)
            pieces = [new]
        else:
            if overlapping:
                # label may hold overlapping segments (KV) — stops are
                # not ascending, so the window is the whole label block;
                # the piece loop's intersects test sorts members out
                lo, hi = llo, lhi
            else:
                # Window top: segments whose start sorts after (label,
                # new.stop, True) cannot intersect — except short
                # (prefix) stored bounds that prefix-equal new.stop yet
                # tuple-sort after it; extend over that run explicitly.
                hi = bisect_right(keys, (label, new.stop, True), llo, lhi)
                while (
                    hi < lhi
                    and cmp_prefix(segments[hi].start, new.stop) == 0
                ):
                    hi += 1
                # Window bottom: walk back while seg.stop >= new.start
                # at PREFIX-compare level (flags ignored — an
                # open-boundary touch must not stop the walk while an
                # earlier closed segment still intersects). Disjointness
                # keeps stops ascending, so the first strictly-smaller
                # stop terminates for every earlier segment too. Window
                # members that turn out not to intersect pass through
                # unchanged below.
                lo = hi
                while lo > llo and cmp_prefix(
                    segments[lo - 1].stop, new.start
                ) >= 0:
                    lo -= 1
            pieces: list[Segment] = []
            for seg in segments[lo:hi]:
                if not seg.intersects(
                    new.start, new.stop, new.start_closed, new.stop_closed
                ):
                    pieces.append(seg)  # in window, outside interval
                    continue
                # head piece: [seg.start, new.start-), tail: (new.stop+, seg.stop]
                # Clipped pieces carry a "clip" marker: their effective
                # bounds are now NARROWER than the rows physically in the
                # file, so the read path must re-filter them. Unmarked
                # segments' intervals are guaranteed to contain every file
                # row (write-time bound containment check), which lets
                # the segment scan (`segscan`) read them unfiltered —
                # the common append-only / post-defrag case.
                head = replace(
                    seg,
                    stop=new.start,
                    stop_closed=not new.start_closed,
                    meta={**seg.meta, "clip": 1},
                )
                if not head.is_empty():
                    pieces.append(head)
                tail = replace(
                    seg,
                    start=new.stop,
                    start_closed=not new.stop_closed,
                    meta={**seg.meta, "clip": 1},
                )
                if not tail.is_empty():
                    pieces.append(tail)
            if add_new:
                pieces.append(new)
            pieces.sort(key=_skey)  # stable: ties keep old-before-new
        out_segments = segments[:lo] + pieces + segments[hi:]
        out = Snapshot(out_segments, max_seq=seq, _presorted=True)
        out._keys_cache = keys[:lo] + [_skey(p) for p in pieces] + keys[hi:]
        return out

    # -- queries over the table -------------------------------------------

    def labels(self) -> list[str]:
        return sorted({s.label for s in self.segments})

    def for_label(
        self,
        label: str,
        start: Bound | None = None,
        stop: Bound | None = None,
        start_closed: bool = True,
        stop_closed: bool = True,
    ) -> list[Segment]:
        """Segments of one label intersecting the query interval — the
        metadata pruning pass (`lakota/commit.py:425-475`): Spark never
        even sees files outside the range."""
        segs = [s for s in self.segments if s.label == label]
        if start is None and stop is None:
            return segs
        out = []
        for s in segs:
            lo = start if start is not None else s.start
            hi = stop if stop is not None else s.stop
            if s.intersects(lo, hi, start_closed, stop_closed):
                out.append(s)
        return out

    def delete_labels(self, labels: list[str]) -> "Snapshot":
        """Drop all rows of the given labels (`lakota/commit.py:477-479`)."""
        return Snapshot(
            [s for s in self.segments if s.label not in labels],
            max_seq=self.max_seq,
        )

    def rename_label(self, old: str, new: str) -> "Snapshot":
        """Metadata-only rename (`lakota/commit.py:493-506`)."""
        return Snapshot(
            [replace(s, label=new) if s.label == old else s for s in self.segments],
            max_seq=self.max_seq,
        )

    def length(self, label: str | None = None) -> int:
        """Metadata-only count — answers len() without touching data
        (`lakota/series.py:231-232`). NB: exact only while effective bounds
        equal physical bounds; overlaid segments report physical length, so
        callers needing exactness after overlays must count via Spark."""
        return sum(
            s.length for s in self.segments if label is None or s.label == label
        )

    def paths(self) -> set[str]:
        return {s.path for s in self.segments if s.path}

    # -- (de)serialization -------------------------------------------------

    #: payload format: 2 = overlay-clipped pieces carry a meta "clip"
    #: marker (read path trusts its ABSENCE to skip the clip filter).
    #: Format-1 payloads predate the marker, so every segment there must
    #: be treated as possibly-clipped — correctness first, the fast scan
    #: returns after a defrag/squash rewrites the segments.
    #: Format 3 = checkpoint + delta log: a revision is either a
    #: CHECKPOINT (this full-snapshot payload, ``kind`` absent) or a
    #: DELTA entry (``kind: "delta"``, no ``segments`` key) holding only
    #: the segments written by that commit — appends cost O(new) instead
    #: of O(table). Deltas resolve by replaying onto the nearest-ancestor
    #: checkpoint (``Collection._snapshot_at``); ``from_payload`` REFUSES
    #: delta payloads so no caller can mistake one for an empty table.
    FMT = 3

    def to_payload(self, schema: Schema) -> dict:
        return {
            "fmt": self.FMT,
            "segments": [s.to_dict(schema) for s in self.segments],
            "max_seq": self.max_seq,
        }

    @classmethod
    def from_payload(cls, payload: dict | None, schema: Schema) -> "Snapshot":
        if not payload:
            return cls()
        if payload.get("kind") == "delta":
            raise ValueError(
                "delta payload is not a snapshot — resolve it via "
                "Collection._snapshot_at (nearest checkpoint + replay)"
            )
        segs = [
            Segment.from_dict(d, schema)
            for d in payload.get("segments", [])
        ]
        if payload.get("fmt", 1) < 2:
            segs = [
                replace(s, meta={**s.meta, "clip": 1}) if s.path else s
                for s in segs
            ]
        return cls(segs, max_seq=payload.get("max_seq", 0))


def payload_paths(payload: dict | None) -> set[str]:
    """Segment dirs a RAW revision payload references — checkpoint
    ``segments`` plus ``delta`` entries — without resolving the snapshot.
    Union over all revisions equals the union of all resolved snapshots'
    paths (every segment enters a snapshot through a checkpoint list or a
    delta overlay, and clipping keeps the path), which is exactly the
    GC / sync working set."""
    if not payload:
        return set()
    return {
        d["path"]
        for key in ("segments", "delta")
        for d in payload.get(key) or []
        if d.get("path")
    }
