"""Collection: a set of series sharing one schema and one changelog.

One commit covers all series of the collection (`lakota/commit.py:84-106`)
— the ``multi()`` batch context accumulates several series writes into a
single atomic revision (`lakota/batch.py:15-62`).

Versioning operators (SURVEY.md §2.9): branch merge (M9), trim (M10),
defrag compaction (M11) — all metadata jobs over the commit log plus, for
defrag, one Spark rewrite per fragmented run.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from lakota_spark import segscan, segwriter
from lakota_spark.changelog import PHI, Changelog, checkpoint_cadence
from lakota_spark.commit import Segment, Snapshot, payload_paths
from lakota_spark.schema import Schema
from lakota_spark.series import PAGE_LEN, KVSeries, Series

DEFRAG_MAX_CHUNK = 4  # `lakota/utils.py:39`


class Collection:
    def __init__(self, repo, label: str, schema: Schema, prefix: str | None = None):
        self.repo = repo
        self.label = label
        self.schema = schema
        self.fs = repo.fs
        # storage prefix differs from label for namespaced collections
        # (e.g. the archive namespace) — see Repo._storage_prefix
        self.prefix = prefix or label
        self.seg_prefix = f"{self.prefix}/segments"
        self.changelog = Changelog(self.fs, f"{self.prefix}/_log")
        self._batch: list[Segment] | None = None
        # (leaf child id, Snapshot) of the head revision — the changelog
        # is a full-snapshot log, so sequential appends otherwise re-parse
        # an O(table) payload per commit. Keyed by the leaf id: any commit
        # from another writer (thread/process) changes the id and the
        # cache silently falls back to the payload read. Segments are
        # frozen and overlay() never mutates an input snapshot, so
        # sharing the cached object is safe (audited: all callers
        # read-only).
        self._snap_cache: tuple[str, Snapshot] | None = None
        # (leaf child id, {(label, path)}) — the double-write no-op
        # pre-check's working set, maintained incrementally (see _commit)
        self._known_cache: tuple[str, set] | None = None

    @property
    def spark(self):
        # lazy via the repo: metadata-only callers (the lakota data
        # source's planner workers) never force a SparkSession
        return self.repo.spark

    @property
    def segments_dir(self):
        """Local path of the segments dir (None on object stores)."""
        return self.fs.local_path(self.seg_prefix)

    # ---------------------------------------------------------------- api

    def series(self, label: str) -> Series:
        cls = KVSeries if self.schema.kv else Series
        return cls(self, label)

    def __iter__(self):
        """Iterate series labels (`lakota/collection.py:91-92`)."""
        return iter(self.ls())

    def __truediv__(self, label: str) -> Series:
        return self.series(label)

    def ls(self) -> list[str]:
        return self.snapshot().labels()

    def sql_view(
        self,
        view_name: str | None = None,
        labels=None,
        series_col: str = "series",
    ) -> str:
        """Register the collection as a Spark SQL temp view and return
        its name — the DataFrame/SQL duality the engine inherits for
        free: the view is the union of every (or the named) series with
        a ``series_col`` provenance column, so `spark.sql("SELECT ...
        FROM <view> WHERE series = 'x'")` works against versioned
        storage. The view captures the CURRENT snapshot's plan (lazy —
        nothing is materialized); re-register after writes to see new
        data. Collection labels may contain characters SQL identifiers
        can't, so the derived name sanitizes them; an explicitly empty
        ``labels`` list yields the typed empty view (not all series).
        """
        import hashlib
        import re

        from pyspark.sql import functions as F

        if series_col in self.schema.columns:
            raise ValueError(
                f"schema already has a {series_col!r} column; pass a "
                "different series_col for the provenance column"
            )
        if view_name:
            name = view_name
        else:
            # distinct labels like 'a-b' and 'a.b' sanitize identically;
            # a short hash of the RAW label keeps derived names unique so
            # createOrReplaceTempView can't silently clobber a sibling
            tag = hashlib.sha1(self.label.encode()).hexdigest()[:6]
            name = "lakota_" + re.sub(r"\W", "_", self.label) + "_" + tag
        df = None
        for label in labels if labels is not None else self.ls():
            part = self.series(label).frame().withColumn(
                series_col, F.lit(label)
            )
            df = part if df is None else df.unionAll(part)
        if df is None:  # empty collection / empty selection: typed view
            struct = self.schema.struct_type().add(series_col, "string")
            df = self.spark.createDataFrame([], struct)
        df.createOrReplaceTempView(name)
        return name

    # ----------------------------------------------------------- snapshot

    def snapshot(self, before=None) -> Snapshot:
        if before is not None and not isinstance(before, (int, float)):
            import datetime as dt

            if isinstance(before, str):
                before = dt.datetime.fromisoformat(before)
            if isinstance(before, dt.datetime):
                before = before.timestamp()
        leaf = self.changelog.leaf(before=before)
        if leaf is None:
            return Snapshot()
        return self._leaf_snapshot(leaf)

    def _leaf_snapshot(self, leaf) -> Snapshot:
        cached = self._snap_cache
        if cached is not None and cached[0] == leaf.child:
            return cached[1]
        snap = self._snapshot_at(leaf)
        self._snap_cache = (leaf.child, snap)
        return snap

    # -- fmt-3 delta-log resolution ---------------------------------------

    def _snapshot_at(self, rev, by_child: dict | None = None) -> Snapshot:
        """Resolve the segment table AT a revision: walk the parent chain
        to the nearest CHECKPOINT (full-snapshot payload), then replay the
        intervening delta entries through the same ``overlay`` the commits
        used — seq assignment and clipping are deterministic, so the
        resolved table is bit-identical to the one the writer cached.

        Delta revisions always have a single parent (merge commits are
        forced checkpoints), so the walk is unambiguous. ``by_child``
        (child id → Revision) is built from the changelog listing when not
        supplied; the chain is bounded by CHECKPOINT_EVERY, so a cold read
        costs one checkpoint read plus at most that many small delta
        reads."""
        payload = rev.read()
        if payload.get("kind") != "delta":
            return Snapshot.from_payload(payload, self.schema)
        chain = [payload]
        cur = rev
        while True:
            if by_child is None:
                by_child = {r.child: r for r in self.changelog.log()}
            parent = by_child.get(cur.parent)
            if parent is None:
                raise IOError(
                    f"changelog corrupt: delta revision {cur.child} has "
                    f"no parent {cur.parent} (missing checkpoint)"
                )
            payload = parent.read()
            if payload.get("kind") != "delta":
                snap = Snapshot.from_payload(payload, self.schema)
                break
            chain.append(payload)
            cur = parent
        for p in reversed(chain):
            snap = self._replay_delta(snap, p)
        return snap

    def _replay_delta(self, snap: Snapshot, payload: dict) -> Snapshot:
        for d in payload.get("delta", []):
            seg = Segment.from_dict(d, self.schema)
            snap = snap.overlay(
                seg,
                kv=self.schema.kv and seg.path is not None,
                overlapping=self.schema.kv,
            )
        return snap

    def apply_segments(self, segs: list[Segment], root: bool = False):
        """Overlay new segments onto the leaf (or stage them in a batch).
        ``root=True`` discards the current state and commits the segments
        as a NEW ROOT (reference `Series.write(root=True)`) — a reset
        that keeps history reachable as a separate branch."""
        if self._batch is not None:
            self._batch.extend(segs)
            return None
        return self._commit(segs, root=root)

    def _commit(self, segs: list[Segment], root: bool = False):
        leaf = None if root else self.changelog.leaf()
        snap = self._leaf_snapshot(leaf) if leaf else Snapshot()
        # The double-write no-op test serializes every segment twice
        # (O(table) per commit). A NEW content address absent from the
        # table is a guaranteed change (overlay appends it), so the
        # normal append skips both signatures; anything else — re-writes
        # of known paths, pure range deletes — still takes the full
        # compare (a delete shadowing nothing must stay revision-free).
        # The (label, path) set is cached keyed by leaf id and extended
        # incrementally on commit — rebuilding it is an O(table) pass
        # per append. Staleness safety: EXTRA entries only demote a
        # fresh write to the sig compare (still correct); entries are
        # never dropped while the leaf id matches, so the
        # misses-break-no-op direction can't occur.
        cached_known = self._known_cache
        if (
            leaf is not None
            and cached_known is not None
            and cached_known[0] == leaf.child
        ):
            known = cached_known[1]
        else:
            known = {(s.label, s.path) for s in snap.segments}
        maybe_noop = not any(
            seg.path is not None
            and seg.length > 0
            and (seg.label, seg.path) not in known
            for seg in segs
        )
        before_sig = _sig(snap, self.schema) if maybe_noop else None
        for seg in segs:
            snap = snap.overlay(
                seg,
                kv=self.schema.kv and seg.path is not None,
                overlapping=self.schema.kv,
            )
        if (
            maybe_noop
            and not root
            and _sig(snap, self.schema) == before_sig
        ):
            return None  # double-write no-op (`lakota/changelog.py:49-52`)
        if root:
            # root-commit idempotence: re-rooting with CONTENT identical
            # to the current head is a no-op — this is what makes a
            # replayed complete-mode streaming microbatch (checkpoint
            # recovery re-runs the batch) add no phantom root revision.
            # O(table) sig compare, but root commits are rare by nature.
            cur = self.changelog.leaf()
            if cur is not None and _sig(
                self._leaf_snapshot(cur), self.schema
            ) == _sig(snap, self.schema):
                return None
        delta = [s.to_dict(self.schema) for s in segs]
        payload = None
        if leaf is not None and not root:
            # fmt-3 delta log: serialize only THIS commit's segments and
            # let readers replay onto the nearest checkpoint — O(new) per
            # append instead of O(table). The checkpoint cadence scales
            # with the table (see `checkpoint_cadence`) so the amortized
            # checkpoint cost per commit stays CONSTANT as segments
            # accumulate; the distance is carried in the payload, O(1)
            # to consult via the seeded payload memo. Roots / merges /
            # maintenance commits are always checkpoints.
            dist = int(leaf.read().get("ckpt_dist", 0)) + 1
            if dist < checkpoint_cadence(len(snap.segments)):
                payload = {
                    "fmt": Snapshot.FMT,
                    "kind": "delta",
                    "ckpt_dist": dist,
                    "delta": delta,
                }
        if payload is None:
            payload = snap.to_payload(self.schema)
            payload["delta"] = delta
        # known_changed: both paths that reach here proved the table
        # changed (fresh content address, or differing signatures), so
        # the changelog can skip its own head-payload re-compare.
        rev = self.changelog.commit(
            payload,
            parents=[leaf.child] if leaf else [PHI],
            force=root,
            known_changed=True,
        )
        if rev is not None:
            self._snap_cache = (rev.child, snap)
            self._known_cache = (
                rev.child,
                known
                | {(s.label, s.path) for s in segs if s.path is not None},
            )
            if payload.get("kind") != "delta":
                # checkpoint cadence is also the archive cadence: move
                # old revision files behind the manifest cursor so the
                # per-commit listing stays O(recent window) with full
                # history intact (time travel, merge, gc all still see
                # the archived files)
                self.changelog.maybe_archive()
        return rev

    def _full_delta(self, snap: Snapshot) -> list[dict]:
        """Every segment of a snapshot as delta dicts. ROOT commits
        (parent PHI) must carry this instead of []: merge() replays
        deltas from the common ancestor, and when branches share no
        ancestor the replay base is empty — an empty-delta root's
        content would silently vanish from the merge result."""
        return [
            s.to_dict(self.schema)
            for label in snap.labels()
            for s in snap.for_label(label)
        ]

    def leaf_and_snapshot(self):
        """The current leaf and ITS snapshot, read consistently — the
        pair maintenance flows (defrag, delete_keys) must capture so they
        can commit with optimistic concurrency (parent = the leaf they
        read). Parenting on the CURRENT leaf at commit time instead
        silently drops any write that raced in between: the new head is
        a full snapshot that never saw it (data loss — caught by
        tests/test_concurrency.py::test_chaos_writes_defrag_gc_merge).
        With the origin leaf as parent a raced maintenance commit forks,
        and merge() replays the racing write's delta while the
        maintenance rev (delta=[]) contributes nothing — maintenance is
        disposable, data is not."""
        leaf = self.changelog.leaf()
        snap = (
            self._leaf_snapshot(leaf)
            if leaf
            else Snapshot()
        )
        return leaf, snap

    def commit_snapshot(self, snap: Snapshot, parents=None):
        leaf = self.changelog.leaf()
        parents = parents or ([leaf.child] if leaf else [PHI])
        # No-op check at snapshot level: the changelog's byte-compare
        # can't see through a delta head (different payload shape, same
        # table), so an idempotent maintenance call — delete of a missing
        # label, re-run rename — must be caught here or it would mint a
        # redundant checkpoint.
        if (
            leaf is not None
            and parents == [leaf.child]
            and _sig(snap, self.schema)
            == _sig(self._leaf_snapshot(leaf), self.schema)
        ):
            return None
        payload = snap.to_payload(self.schema)
        payload["delta"] = (
            self._full_delta(snap) if parents == [PHI] else []
        )
        rev = self.changelog.commit(
            payload, parents=parents, known_changed=True
        )
        if rev is not None:
            self._snap_cache = (rev.child, snap)
        return rev

    @contextmanager
    def multi(self):
        """Atomic multi-series batch (`lakota/batch.py:15-62`): all writes
        inside the block land as ONE revision; an exception rolls back
        (nothing committed)."""
        if self._batch is not None:
            yield self
            return
        self._batch = []
        try:
            yield self
            staged, self._batch = self._batch, None
            if staged:
                self._commit(staged)
        except Exception:
            self._batch = None
            raise

    # ------------------------------------------------------- maintenance

    def merge(self):
        """Reconcile branch heads (`lakota/collection.py:235-298`): replay
        every branch's deltas since the common ancestor in global
        revision-id order (hextime prefix → newest write wins,
        `tests/collection_test.py:246-314` semantics), commit with all
        heads as parents."""
        leaves = self.changelog.leaves()
        if len(leaves) <= 1:
            return None
        # Multi-parent merge revisions are stored as one FILE PER PARENT
        # (same child id). Ancestry must walk ALL edges — a child-keyed
        # dict keeps one arbitrary parent edge, and a later merge walking
        # the other side would silently drop a whole branch's deltas
        # (data loss — caught by test_chaos_writes_defrag_gc_merge).
        parent_edges: dict[str, set[str]] = {}
        payload_rev: dict[str, object] = {}
        for r in self.changelog.revisions():
            parent_edges.setdefault(r.child, set()).add(r.parent)
            payload_rev[r.child] = r  # any edge; payloads are identical

        def reachable(child: str) -> set[str]:
            seen: set[str] = set()
            frontier = [child]
            while frontier:
                cur = frontier.pop()
                if cur == PHI or cur in seen or cur not in parent_edges:
                    continue
                seen.add(cur)
                frontier.extend(parent_edges[cur])
            return seen

        closures = [reachable(leaf.child) for leaf in leaves]
        common = set.intersection(*closures)
        # newest common ancestor: with merge nodes carrying every prior
        # head as a parent, its closure covers all older common history
        base_child = max(common) if common else None
        base_snap = (
            self._snapshot_at(payload_rev[base_child], by_child=payload_rev)
            if base_child
            else Snapshot()
        )
        replay_ids = set.union(*closures) - (
            reachable(base_child) | {base_child} if base_child else set()
        )
        # deltas strictly after the ancestor, replayed in child-id order
        replay: list[tuple[str, list[Segment]]] = []
        for child in replay_ids:
            payload = payload_rev[child].read()
            replay.append(
                (
                    child,
                    [
                        Segment.from_dict(d, self.schema)
                        for d in payload.get("delta", [])
                    ],
                )
            )
        replay.sort(key=lambda t: t[0])
        snap = base_snap
        for _, segs in replay:
            for seg in segs:
                snap = snap.overlay(
                    seg,
                    kv=self.schema.kv and seg.path is not None,
                    overlapping=self.schema.kv,
                )
        payload = snap.to_payload(self.schema)
        payload["delta"] = []
        return self.changelog.commit(
            payload, parents=[leaf.child for leaf in leaves], force=True
        )

    def trim(self, before=None):
        """Drop history: re-root the leaf snapshot and delete older
        revisions (`lakota/collection.py:339-362`; squash semantics).

        With ``before=cutoff``, survivors whose ancestors were deleted are
        re-parented onto the new root — otherwise they'd be unreachable
        from PHI (silent history loss) while still surfacing as heads."""
        leaf = self.changelog.leaf()
        if leaf is None:
            return None
        cutoff = before
        if cutoff is None:
            # full collapse: the replacement root is the CURRENT state
            snap = self._leaf_snapshot(leaf)
            root_ts = None
        else:
            # retention trim: the replacement root is the state AS OF
            # the cutoff, PLACED AT the cutoff (pinned hextime) — so
            # ``before=t`` for any t inside the retained window still
            # resolves: the root chains under the re-parented survivors
            # with the correct temporal order, and a query between the
            # cutoff and the first survivor sees exactly the cutoff
            # state. (Head resolution never reads this root's payload:
            # each branch's first survivor is re-parented as a full
            # CHECKPOINT below.) Pinning the timestamp also makes
            # same-cutoff trims idempotent (identical content address).
            leaf_cut = self.changelog.leaf(before=cutoff)
            snap = (
                self._snapshot_at(leaf_cut)
                if leaf_cut is not None
                else Snapshot()
            )
            root_ts = cutoff - 0.001  # strictly below the cutoff window
        payload = snap.to_payload(self.schema)
        payload["delta"] = self._full_delta(snap)  # root: see _full_delta
        new_root = self.changelog.commit(
            payload, parents=[PHI], force=True, ts=root_ts
        )
        # Drop the archive cursor FIRST: readers then fall back to full
        # hot+archive listings, so the deletions/re-parents below are
        # seen directly instead of through a stale manifest naming
        # already-deleted files. The next checkpoint re-archives.
        self.changelog.reset_manifest()
        revs = [
            r
            for r in self.changelog.revisions()
            if r.child != new_root.child
        ]
        doomed = [r for r in revs if cutoff is None or r.epoch < cutoff]
        doomed_keys = {(r.parent, r.child) for r in doomed}
        survivors = [r for r in revs if (r.parent, r.child) not in doomed_keys]
        # the new root counts as surviving: a revision already parented
        # on it (same-cutoff re-trim — the root's pinned ts makes it
        # content-stable) must NOT be treated as an orphan, or the
        # "re-parent" below writes its own filename and then deletes it
        surviving_children = {r.child for r in survivors} | {new_root.child}
        # every edge file this trim removes, by basename — the second
        # purge pass below must cover re-parented survivor edges too, not
        # just the doomed set: a racing archiver can move ANY of them
        removed_names: set[str] = set()
        if cutoff is not None:
            # Orphaned edges (ancestors below the cutoff) re-parent onto
            # the new root. A CHECKPOINT survivor keeps its payload bytes
            # (and so its content-addressed child id) — only the
            # filename's parent half changes. A DELTA survivor CANNOT be
            # re-parented as-is: its payload would replay against the new
            # root's (leaf) snapshot instead of its real historical base.
            # Materialize its resolved snapshot as a checkpoint under a
            # new sha — keeping the original hextime so time-travel
            # ordering is preserved — and re-point its surviving
            # children's edge files at the new id (their payloads, and
            # therefore their ids, are unchanged). All resolutions happen
            # BEFORE any file mutation: a conversion deletes edge files a
            # later orphan's parent-chain walk might still need.
            import hashlib
            import json

            by_child = {r.child: r for r in revs}
            orphans = [
                r
                for r in survivors
                if r.parent != PHI and r.parent not in surviving_children
            ]
            conversions: dict[str, tuple[str, bytes]] = {}
            for r in orphans:
                payload = r.read()
                if payload.get("kind") != "delta":
                    continue
                snap_r = self._snapshot_at(r, by_child=by_child)
                new_payload = snap_r.to_payload(self.schema)
                # keep the original incremental delta: merge() replays
                # deltas, and this revision still contributes exactly
                # what it wrote
                new_payload["delta"] = payload.get("delta", [])
                raw = json.dumps(
                    new_payload, sort_keys=True, separators=(",", ":")
                ).encode()
                sha = hashlib.sha1(raw).hexdigest()  # noqa: S324
                conversions[r.child] = (
                    r.child.split("-", 1)[0] + "-" + sha,
                    raw,
                )
            for r in orphans:
                conv = conversions.get(r.child)
                if conv is None:
                    raw = self.fs.read_bytes(r.rel)
                    self.fs.write_bytes_atomic(
                        f"{self.changelog.prefix}/{new_root.child}.{r.child}.json",
                        raw,
                    )
                    self.fs.remove_file(r.rel)
                    removed_names.add(r.basename)
                    continue
                new_child, raw = conv
                self.fs.write_bytes_atomic(
                    f"{self.changelog.prefix}/{new_root.child}.{new_child}.json",
                    raw,
                )
                self.fs.remove_file(r.rel)
                removed_names.add(r.basename)
                for c in survivors:
                    if c is not r and c.parent == r.child:
                        self.fs.write_bytes_atomic(
                            f"{self.changelog.prefix}/{new_child}.{c.child}.json",
                            self.fs.read_bytes(c.rel),
                        )
                        self.fs.remove_file(c.rel)
                        removed_names.add(c.basename)
        for r in doomed:
            self.fs.remove_file(r.rel)
        # Second purge pass: a WRITER's checkpoint may have run
        # maybe_archive() concurrently, moving a doomed file hot ->
        # _archive between our listing above and the remove_file (which
        # no-ops on a missing source). The archived copy would then
        # survive with its parent chain deleted — worse, if its CHILD id
        # also exists as a re-parented survivor edge, the stale copy
        # inflates that child's merge edge-count and the survivor
        # vanishes from linearization. Re-list (hot + archive) and purge
        # by BASENAME — placement-independent — and drop any manifest
        # the racing archiver published after our reset above. A fully
        # post-trim archive pass can still land after this pass; its
        # strays are unreachable (dropped by linearization, skipped by
        # maybe_archive's reachability filter) and the next trim removes
        # them.
        removed_names |= {r.basename for r in doomed}
        if removed_names:
            # reset_manifest also drops the cached archive-existence
            # probe, so revisions() re-probes and sees an _archive/ a
            # racing archiver may have just created
            self.changelog.reset_manifest()
            for r in self.changelog.revisions():
                if r.basename in removed_names:
                    self.fs.remove_file(r.rel)
        return new_root

    def maintain(
        self,
        max_revisions: int | None = 1024,
        max_segments: int | None = 4096,
        keep=None,
    ) -> dict:
        """Threshold-triggered housekeeping — the product answer to
        sustained-append growth made automatic. The fmt-3 delta log
        already bounds the per-commit PAYLOAD to O(new); the residual
        per-commit cost is the directory listing + linearization, which
        grow with the revision-file count, and read-side frame assembly,
        which grows with fragmentation. This runs the right compaction
        when (and only when) a threshold is crossed, so callers can drop
        it into a write loop / ingest pipeline unconditionally:

        - ``len(revisions) > max_revisions`` → ``squash()``: collapses
          history into one root (time travel before the squash is
          gone — that is what bounds the listing; measured: 2.75
          ms/append after a squash at 10k commits vs 31 ms before).
        - else any series over ``max_segments`` segments → ``defrag()``:
          rewrites fragmented runs page-sized, KEEPS history.

        ``keep`` retains a TIME-TRAVEL WINDOW through the squash: a
        ``datetime.timedelta`` (relative to now) or an absolute
        epoch/datetime maps to ``squash(trim=cutoff)`` — revisions
        inside the window survive (re-rooted at the cutoff state), so a
        bounded ingest loop keeps ``before=`` queries over its retention
        horizon instead of collapsing to a single root. Note the
        changelog history ARCHIVE already keeps per-commit cost flat
        with FULL history — ``keep`` is for bounding STORAGE/file-count,
        not a performance requirement.

        Pass None to disable either trigger. Returns
        ``{"revisions", "max_series_segments", "action"}``. Safe under
        races like the flows it delegates to: both commit with
        optimistic concurrency (`leaf_and_snapshot`), so a racing write
        forks and survives the merge while the maintenance commit is
        disposable."""
        revs = self.changelog.revisions()
        leaf = self.changelog.leaf()
        snap = self._leaf_snapshot(leaf) if leaf is not None else None
        worst = (
            max((len(snap.for_label(lb)) for lb in snap.labels()), default=0)
            if snap is not None
            else 0
        )
        out = {
            "revisions": len(revs),
            "max_series_segments": worst,
            "action": None,
        }
        if snap is None:
            return out
        if max_revisions is not None and len(revs) > max_revisions:
            cutoff = None
            if keep is not None:
                import datetime as dt
                import time as _time

                if isinstance(keep, dt.timedelta):
                    cutoff = _time.time() - keep.total_seconds()
                elif isinstance(keep, dt.datetime):
                    cutoff = keep.timestamp()
                else:
                    cutoff = float(keep)
            self.squash(trim=cutoff if cutoff is not None else None)
            out["action"] = "squash"
        elif max_segments is not None and worst > max_segments:
            self.defrag()
            out["action"] = "defrag"
        return out

    def stats(self) -> list[dict]:
        """Per-series storage report from SNAPSHOT METADATA alone — no
        Spark job, no file IO beyond the changelog the snapshot already
        read.  One dict per series: live segment count, total rows,
        smallest/largest segment, overlay-clipped pieces, and zone-map
        coverage — the numbers that tell an operator whether `defrag`
        (fragmentation), `squash` (revision count), or a rewrite (zmap
        coverage after an engine upgrade) is worth running."""
        snap = self.snapshot()
        out = []
        for label in sorted(snap.labels()):
            live = [s for s in snap.for_label(label) if s.path]
            lens = [s.length for s in live]
            out.append(
                {
                    "series": label,
                    "segments": len(live),
                    "rows": sum(lens),
                    "min_segment": min(lens, default=0),
                    "max_segment": max(lens, default=0),
                    "clipped": sum(
                        1 for s in live if (s.meta or {}).get("clip")
                    ),
                    "zone_maps": sum(
                        1 for s in live if (s.meta or {}).get("zmap")
                    ),
                }
            )
        return out

    def squash(self, trim=None, max_chunk: int = DEFRAG_MAX_CHUNK):
        """defrag + trim combo (`lakota/collection.py:310-337`): compact
        fragmented segments, then collapse history. ``trim`` False keeps
        the full history; a datetime/epoch trims only older revisions;
        None (default) collapses everything into one root."""
        revs = self.defrag(max_chunk=max_chunk)
        if trim is not False:
            self.trim(before=trim)
        return revs

    def defrag(self, page_len: int = PAGE_LEN, max_chunk: int = DEFRAG_MAX_CHUNK):
        """Compaction (`lakota/collection.py:364-403`): rewrite runs of
        small segments into page-sized ones; fast-forward past chunks that
        are already large. A run is fewer than ``2 * page_len`` rows, so
        each is read in this process (`segscan.table`) and encoded with
        `segwriter.encode`: defrag starts no Spark job.

        Commits with optimistic concurrency (see `leaf_and_snapshot`): a
        write racing past the captured leaf forks the changelog instead
        of being silently dropped from the compacted head; merge() then
        keeps the write and discards the compaction (re-run later)."""
        leaf, snap = self.leaf_and_snapshot()
        changed = False
        for label in snap.labels():
            segs = snap.for_label(label)
            run: list[Segment] = []

            def flush(run: list[Segment]):
                nonlocal snap, changed
                if len(run) < 2:
                    return
                if self.schema.kv:
                    # Merging a KV run collapses its members onto ONE
                    # new seq (max_seq+1). That is only sound when no
                    # OUTSIDE segment both overlaps the run's interval
                    # and carries a seq above a run member's: such a
                    # segment shadowed the member's rows before the
                    # rewrite, and the promoted seq would resurrect
                    # them (found by direct repro in round 13 — a
                    # covering rewrite followed by defrag flipped keys
                    # back to their stale values). In-run shadow chains
                    # are fine (the resolving read below collapses
                    # them); the skip only leaves genuinely
                    # order-entangled runs fragmented, and the
                    # append-heavy registry shape (disjoint segments)
                    # never trips it.
                    from lakota_spark.commit import cmp_prefix

                    run_ids = {id(s) for s in run}
                    run_lo = tuple(run[0].start)
                    run_hi = max(tuple(s.stop) for s in run)
                    min_seq = min(s.seq for s in run)
                    for o in snap.for_label(label):
                        if id(o) in run_ids or o.seq <= min_seq:
                            continue
                        if (
                            cmp_prefix(tuple(o.start), run_hi) <= 0
                            and cmp_prefix(run_lo, tuple(o.stop)) <= 0
                        ):
                            return
                # KV runs may hold several versions of a key across
                # overlapping segments: resolve last-writer-wins BEFORE
                # merging, else the single merged seq would make the
                # surviving version arbitrary at read time (the
                # reference defrags through the resolving read path).
                tbl = segscan.table(
                    self.series(label), run, seq=self.schema.kv
                )
                pages = segwriter.encode(
                    segwriter.conform(tbl, self.schema), self.schema
                )
                if pages.n == 0:
                    return
                # `run` is sorted by start; KV segments may overlap, so
                # the largest stop is NOT necessarily run[-1]'s — taking
                # it would silently drop rows beyond that stop.
                stop, stop_closed = max(
                    ((s.stop, s.stop_closed) for s in run),
                    key=lambda t: (t[0], t[1]),
                )
                path, digest = segwriter.publish(
                    self.fs, self.seg_prefix, pages
                )
                meta = {"digest": digest, "defrag": True}
                if pages.zmap:
                    meta["zmap"] = pages.zmap
                merged = Segment(
                    label=label,
                    start=run[0].start,
                    stop=stop,
                    start_closed=run[0].start_closed,
                    stop_closed=stop_closed,
                    path=path,
                    length=pages.n,
                    seq=snap.max_seq + 1,
                    meta=meta,
                )
                # identity, not equality: `in run` would pay an
                # O(|run|) frozen-dataclass field compare per table
                # segment — quadratic on a fragmented table (20 s of
                # the 10k-segment defrag before this)
                run_ids = {id(s) for s in run}
                keep = [s for s in snap.segments if id(s) not in run_ids]
                snap = Snapshot([*keep, merged], max_seq=snap.max_seq + 1)
                changed = True

            # float division: with N rows in >max_chunk segments, anything
            # below N/(max_chunk+1) is "fragmented" (`collection.py:386-403`)
            threshold = min(page_len, snap.length(label) / (max_chunk + 1))
            run_rows = 0  # running total: per-append re-sum is O(run²)
            for seg in segs:
                if seg.length < threshold:
                    run.append(seg)
                    run_rows += seg.length
                    if run_rows >= page_len:
                        flush(run)
                        run = []
                        run_rows = 0
                else:
                    flush(run)
                    run = []
                    run_rows = 0
            flush(run)
        if changed:
            return self.commit_snapshot(
                snap, parents=[leaf.child] if leaf else None
            )
        return None

    def clone(
        self,
        new_label: str,
        rename: dict[str, str] | None = None,
        add: dict[str, str] | None = None,
    ) -> "Collection":
        """Schema-migrating copy (`lakota/collection.py:127-205`, M8):
        rename columns and/or add columns (zero-filled per the reference's
        no-NULL semantics). When the schema is unchanged, segments are
        shared by content address (no data rewrite — the reference's
        digest-reuse trick); migrations rewrite via Spark.
        """
        import shutil

        from lakota_spark.schema import ZERO, Schema

        rename = rename or {}
        add = add or {}
        spec: dict[str, str] = {}
        for name, alias in self.schema.columns.items():
            tgt = rename.get(name, name)
            spec[tgt] = alias + ("*" if name in self.schema.idx else "")
        for name, alias in add.items():
            spec[name] = alias
        new_schema = (
            Schema.kv_schema(**spec) if self.schema.kv else Schema(**spec)
        )
        new_coll = self.repo.create_collection(new_schema, new_label)
        if not rename and not add:
            # metadata-only clone: copy the log, share content-addressed
            # segment dirs (hardlink-copy on local FS, byte copy elsewhere)
            new_coll.changelog.pull(self.changelog)
            local_src = self.segments_dir
            local_dst = new_coll.segments_dir
            if local_src and local_dst and os.path.isdir(local_src):
                os.makedirs(local_dst, exist_ok=True)
                for name in os.listdir(local_src):
                    dst = os.path.join(local_dst, name)
                    if not os.path.exists(dst):
                        shutil.copytree(
                            os.path.join(local_src, name),
                            dst,
                            copy_function=os.link,
                        )
            else:
                for name in self.fs.ls(self.seg_prefix):
                    dst = f"{new_coll.seg_prefix}/{name}"
                    if not self.fs.exists(dst):
                        self.fs.copy_tree(f"{self.seg_prefix}/{name}", dst)
            return new_coll
        with new_coll.multi():
            for label in self.ls():
                # sort=False: the target series' write() sorts anyway
                df = self.series(label).frame(sort=False)
                for old, newc in rename.items():
                    df = df.withColumnRenamed(old, newc)
                for name, alias in add.items():
                    zero = ZERO[alias.rstrip("*").split("|")[0].strip()]
                    df = df.withColumn(
                        name,
                        F.lit(zero).cast(
                            new_schema.struct_type()[name].dataType
                        ),
                    )
                new_coll.series(label).write(df.select(*new_schema.columns))
        return new_coll

    # --------------------------------------------------- label management

    def delete_series(self, *labels: str):
        snap = self.snapshot().delete_labels(list(labels))
        return self.commit_snapshot(snap)

    def rename_series(self, old: str, new: str):
        snap = self.snapshot().rename_label(old, new)
        return self.commit_snapshot(snap)

    # reference API names (`lakota/collection.py`: delete/rename/refresh)
    delete = delete_series
    rename = rename_series

    def refresh(self) -> None:
        """No-op for parity: the changelog is re-read from the FS on every
        snapshot — there is no driver-side cache to invalidate."""

    def digests(self):
        """Yield every segment content-digest any revision references
        (`lakota/collection.py:405-413`) — the sync/GC working set."""
        seen = set()
        for rev in self.changelog.revisions():
            for name in payload_paths(rev.read()):
                if name not in seen:
                    seen.add(name)
                    yield name

    def pull(self, other: "Collection", shallow: bool = False) -> int:
        """Sync revisions + referenced segment dirs from another repo's
        collection (`lakota/collection.py:210-233`) — works across any
        pair of fsio backends.

        ``shallow`` replicates only the other side's LEAF state
        (reference `Repo.push(..., shallow=True)`): the leaf payload is
        a full snapshot, so it commits here as a root revision and only
        the segments it references are copied — no history, a fraction
        of the bytes."""
        if shallow:
            leaf = other.changelog.leaf()
            if leaf is None:
                return 0
            # resolve through the delta log on the SOURCE side (its
            # changelog holds the checkpoint chain), then commit the full
            # table here; shallow commit is a ROOT → full-delta invariant
            leaf_snap = other._leaf_snapshot(leaf)
            payload = leaf_snap.to_payload(self.schema)
            payload["delta"] = self._full_delta(leaf_snap)
            from lakota_spark.changelog import PHI

            rev = self.changelog.commit(payload, parents=[PHI], force=True)
            revisions = [rev] if rev else []
            n = len(revisions)
        else:
            n = self.changelog.pull(other.changelog)
            revisions = self.changelog.revisions()
        self.fs.makedirs(self.seg_prefix)
        for rev in revisions:
            for name in payload_paths(rev.read()):
                dst = f"{self.seg_prefix}/{name}"
                src = f"{other.seg_prefix}/{name}"
                if not self.fs.exists(dst) and other.fs.exists(src):
                    self.fs.copy_tree(src, dst, other=other.fs)
        return n

    def push(self, other: "Collection", shallow: bool = False) -> int:
        return other.pull(self, shallow=shallow)


def _sig(snap: Snapshot, schema) -> tuple:
    """Order/seq-insensitive content signature of a snapshot — rewriting
    identical data must not create a new revision. Deduplicated: a KV
    re-write of identical content appends an identical segment entry whose
    merged view is unchanged."""
    return tuple(
        sorted(
            {
                (
                    d["label"],
                    tuple(d["start"] or ()),
                    tuple(d["stop"] or ()),
                    d["start_closed"],
                    d["stop_closed"],
                    d["path"],
                    d["length"],
                )
                for d in (s.to_dict(schema) for s in snap.segments)
            }
        )
    )
