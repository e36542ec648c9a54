"""Git-style changelog: a DAG of revision files over any filesystem.

Reproduces the reference's changelog *semantics* (`lakota/changelog.py`):

- Revision files named ``{parent}.{child}`` with ``child =
  {hextime}-{sha1(payload)}`` — content-addressed, so two writers racing
  with identical payloads converge on one file (idempotent commits,
  double-write no-op) and distinct payloads create sibling leaves that a
  later ``merge`` reconciles. Root sentinel parent is ``phi``.
- Leaf resolution = depth-first walk ordered by child id (hextime prefix
  gives a deterministic total order → "newest branch wins"); a merge
  commit exists as one file per parent and linearizes after ALL parents.
- Time travel: ``before=`` picks the last revision strictly older than a
  timestamp.

Storage is a directory of small JSON files on any `fsio.FS` backend
(local/S3/GCS/HDFS) — one LIST + K small GETs, exactly the reference's
I/O shape (`lakota/commit.py:56-79`). At 100 TB the *data* lives in
Parquet segments; this log stays tiny because each revision stores
segment metadata only.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import time

from lakota_spark.fsio import FS

PHI = "phi"  # root sentinel (`lakota/changelog.py:10-12`)

#: Checkpoint cadence of the fmt-3 delta log: a full-snapshot checkpoint
#: every N commits bounds cold-read resolution to N-1 small delta reads
#: (Delta-Lake-style log compaction). Appends in between serialize only
#: their own segments — O(new) instead of O(table) per commit, which is
#: what keeps fragmented-append workloads linear at millions of segments.
#:
#: The cadence is ADAPTIVE: a fixed every-K cadence still pays O(table)
#: every K commits — amortized O(table/K) per append, i.e. linear growth
#: again at large segment counts. Scaling the cadence with the table
#: (one checkpoint per SEGS_PER_CKPT new table-segments' worth of
#: commits, capped at CHECKPOINT_MAX so a cold reader never replays an
#: unbounded delta chain) makes the amortized checkpoint bytes per
#: commit CONSTANT: O(N) payload / (N/SEGS_PER_CKPT) commits =
#: O(SEGS_PER_CKPT). Resolution is cadence-agnostic (walk to the
#: nearest checkpoint, whatever the spacing).
import os as _os

CHECKPOINT_EVERY = int(_os.environ.get("LAKOTA_SPARK_CKPT_EVERY", "32"))
CHECKPOINT_MAX = int(_os.environ.get("LAKOTA_SPARK_CKPT_MAX", "512"))
SEGS_PER_CKPT = 16

#: History archive (round 7): revision files older than the recent
#: window move to ``{prefix}/_archive/`` and a ``_manifest-*.json``
#: cursor in the hot directory records their linearized order — so the
#: per-commit listing + linearization is O(recent window), not
#: O(all history), while every archived revision stays readable (time
#: travel, merge, gc, pull all see the full set). This is the
#: Delta-Lake `_last_checkpoint` idea adapted to a content-addressed
#: DAG; the reference lists the whole directory per commit
#: (`lakota/changelog.py:66-67`) — an opportunity, not a parity gap.
#: KEEP_HOT = revisions left hot after an archive pass (cheap no-op
#: compares + racing writers attach to a hot parent).
KEEP_HOT = int(_os.environ.get("LAKOTA_SPARK_KEEP_HOT", "64"))
ARCHIVE_DIR = "_archive"


def checkpoint_cadence(n_segments: int) -> int:
    """Commits between checkpoints for a table of ``n_segments``."""
    return max(
        CHECKPOINT_EVERY, min(CHECKPOINT_MAX, n_segments // SEGS_PER_CKPT)
    )


import threading as _threading

_HEXTS_LOCK = _threading.Lock()
_HEXTS_LAST = 0


def hexts(ts: float | None = None) -> str:
    """Sortable hex timestamp prefix (millisecond resolution).

    Wall-clock calls are MONOTONIC per process (same-ms calls bump by
    1 ms): child ids are ``{hextime}-{sha1(payload)}``, so two commits
    with IDENTICAL payloads at different chain positions inside one
    millisecond would otherwise collide on the same child id — the
    linearizer then sees a phantom two-parent merge node and cold
    replay diverges from the writer (surfaced by the delta-log
    Hypothesis suite once the round-7 commit path got fast enough to
    land several commits per ms). Explicit ``ts`` stays pinned — trim
    relies on same-cutoff idempotency."""
    if ts is not None:
        return format(int(ts * 1000), "013x")
    global _HEXTS_LAST
    with _HEXTS_LOCK:
        now = int(time.time() * 1000)
        if now <= _HEXTS_LAST:
            now = _HEXTS_LAST + 1
        _HEXTS_LAST = now
    return format(now, "013x")


def hexts_to_epoch(h: str) -> float:
    return int(h, 16) / 1000.0


def staging_name(uid: str) -> str:
    """Name for an in-flight segment staging dir: ``_tmp-<hexts>-<uid>``.
    The embedded hextime lets `Repo.gc` age out leftovers of writers
    killed between staging and commit/abort. Keep this format and
    `staging_epoch` in lockstep — every writer (driver-local, executor,
    streaming) and the GC parser go through this pair. The stamp is the
    plain wall clock: ``uid`` makes the name unique, and bumping the
    monotonic commit clock here ran commit stamps ahead of
    ``time.time()``, so ``before=time.time()`` missed recent writes."""
    return f"_tmp-{hexts(time.time())}-{uid}"


def staging_epoch(name: str) -> float | None:
    """Creation epoch parsed from a `staging_name`, or None when the
    name does not carry one (older layout — GC must leave it alone)."""
    parts = name.split("-", 2)
    try:
        return hexts_to_epoch(parts[1])
    except (IndexError, ValueError):
        return None


class Revision:
    __slots__ = ("parent", "child", "fs", "rel", "basename")

    def __init__(
        self, parent: str, child: str, fs: FS, rel: str, basename: str | None = None
    ):
        self.parent = parent
        self.child = child
        self.fs = fs
        self.rel = rel
        # stored, not derived: basename is touched O(N) times per log()
        # call (the listing-set cache key), which made posixpath.basename
        # a measurable cost across a fragmented-append run
        self.basename = (
            basename if basename is not None else posixpath.basename(rel)
        )

    @property
    def epoch(self) -> float:
        return hexts_to_epoch(self.child.split("-", 1)[0])

    #: parsed-payload memo keyed by child id. Sound because revisions are
    #: content-addressed (the child id embeds the payload sha1, verified
    #: on first read) and immutable once written. Kills the per-write
    #: re-read+re-parse of the head snapshot — the dominant commit cost
    #: on fragmented-append workloads, where it grows with the segment
    #: table (O(N²) across N appends without the memo). Consumers treat
    #: payloads as read-only (from_payload/merge only read keys).
    _PAYLOADS: "dict[str, dict]" = {}
    #: must exceed CHECKPOINT_MAX so a cold delta-chain resolution never
    #: thrashes its own working set; full-history scans (gc/digests)
    #: stream through and evict FIFO, which is fine — their hot key is
    #: whatever they read next, not what they read before
    _PAYLOADS_MAX = 600

    def _alt_rel(self) -> str:
        """The other location this revision file may live at: a racing
        archive pass moves hot files to ``_archive/`` (and trim moves
        re-parented survivors back to hot) between our listing and this
        read — content addressing makes either copy equally valid."""
        dirname, _, base = self.rel.rpartition("/")
        if dirname.endswith("/" + ARCHIVE_DIR):
            return f"{dirname[: -len(ARCHIVE_DIR) - 1]}/{base}"
        return f"{dirname}/{ARCHIVE_DIR}/{base}"

    def read(self) -> dict:
        cached = Revision._PAYLOADS.get(self.child)
        if cached is not None:
            return cached
        try:
            raw = self.fs.read_bytes(self.rel)
        except (FileNotFoundError, IOError):
            raw = self.fs.read_bytes(self._alt_rel())
        digest = hashlib.sha1(raw).hexdigest()  # noqa: S324 - integrity only
        want = self.child.split("-", 1)[1]
        if digest != want:
            # torn concurrent write — retry once (`lakota/changelog.py:174-187`)
            raw = self.fs.read_bytes(self.rel)
            if hashlib.sha1(raw).hexdigest() != want:  # noqa: S324
                raise IOError(f"corrupt revision {self.rel}")
        payload = json.loads(raw)
        if len(Revision._PAYLOADS) >= Revision._PAYLOADS_MAX:
            # FIFO eviction is enough: the hot key is always the head
            Revision._PAYLOADS.pop(next(iter(Revision._PAYLOADS)))
        Revision._PAYLOADS[self.child] = payload
        return payload

    def __repr__(self) -> str:
        return f"<Revision {self.parent[:8]}..{self.child[:20]}>"


class Changelog:
    def __init__(self, fs: FS, prefix: str):
        self.fs = fs
        self.prefix = prefix
        # ((manifest name, frozenset of hot basenames), linearized log)
        # — see log(). The HOT directory is still listed on every call
        # (external writers must be seen); the cache only skips
        # re-LINEARIZING an unchanged or purely-appended DAG. The
        # manifest name keys archive-state: any archive/reset pass
        # writes/removes a manifest file in the hot directory, so the
        # same listing that finds new revisions invalidates this cache.
        self._log_cache: tuple[tuple, list[Revision]] | None = None
        # filename → Revision memo: revisions are immutable once written,
        # so re-listing a directory must not re-CONSTRUCT N objects per
        # call (O(N²) across an append run — measured as ~30% of the
        # fragmented-append commit cost). Deleted files (trim/squash)
        # just stop being returned; the memo is size-bounded below.
        self._rev_cache: dict[str, Revision] = {}
        #: (manifest basename, linearized archived chain) — loaded once
        #: per manifest version; manifest files are content-named so a
        #: name match proves the cache is current.
        self._manifest_cache: tuple[str, list[Revision]] | None = None
        #: archives may exist (manifest seen / archive ran / reset):
        #: when False, log() skips the extra _archive listing entirely,
        #: keeping the small-collection hot path at one ls. None =
        #: unknown (cold instance) — resolved by ONE _archive existence
        #: probe, which catches manifest-less archive leftovers (e.g. a
        #: trim re-parented survivors and dropped the cursor). Sound
        #: cross-process afterwards because an archive pass writes its
        #: manifest BEFORE moving any file — a listing that misses the
        #: manifest predates every move it covers.
        self._maybe_archived: bool | None = None

    # -- listing / ordering ------------------------------------------------

    def _rev_from_name(self, fn: str, rel: str) -> "Revision | None":
        name = fn[: -len(".json")]
        parent, _, child = name.partition(".")
        if not child:
            return None
        cache = self._rev_cache
        rev = cache.get(fn)
        if rev is None or rev.rel != rel:
            rev = Revision(parent, child, self.fs, rel, fn)
            cache[fn] = rev
        return rev

    def _scan_hot(self) -> tuple[list[Revision], str | None]:
        """One listing of the hot directory → (revisions, newest
        manifest basename)."""
        revs: list[Revision] = []
        manifest = None
        for fn in self.fs.ls(self.prefix, sort=False):
            if not fn.endswith(".json") or ".tmp" in fn:
                continue
            if fn.startswith("_manifest-"):
                # content-named; zero-padded seq makes max() the newest
                if manifest is None or fn > manifest:
                    manifest = fn
                continue
            rev = self._rev_from_name(fn, f"{self.prefix}/{fn}")
            if rev is not None:
                revs.append(rev)
        if manifest is not None:
            self._maybe_archived = True
        if len(self._rev_cache) > 2 * len(revs) + 2 * KEEP_HOT + 64:
            # trim/squash/archive removed or moved many files — rebuild
            # from live entries (archived chain objects re-enter through
            # the manifest cache, not this memo)
            self._rev_cache = {r.basename: r for r in revs}
        return revs, manifest

    def _scan_archive(self) -> list[Revision]:
        revs = []
        arch = f"{self.prefix}/{ARCHIVE_DIR}"
        for fn in self.fs.ls(arch, sort=False):
            if not fn.endswith(".json") or ".tmp" in fn:
                continue
            rev = self._rev_from_name(fn, f"{arch}/{fn}")
            if rev is not None:
                revs.append(rev)
        return revs

    def _archived_possible(self) -> bool:
        if self._maybe_archived is None:
            self._maybe_archived = self.fs.exists(
                f"{self.prefix}/{ARCHIVE_DIR}"
            )
        return self._maybe_archived

    def revisions(self) -> list[Revision]:
        """EVERY revision file — hot + archived. Full-history callers
        (gc, merge, trim, pull, push) use this; the per-commit hot path
        goes through log(), which reads the archived prefix from the
        manifest cursor instead of listing it."""
        hot, _ = self._scan_hot()
        if not self._archived_possible():
            return hot
        seen = {r.basename for r in hot}
        # hot listed FIRST: a file being archived concurrently is in the
        # archive listing if the move happened before it left hot — the
        # union always covers it (dedup by basename if seen in both)
        out = list(hot)
        for rev in self._scan_archive():
            if rev.basename not in seen:
                out.append(rev)
        return out

    def _chain_for(self, manifest: str | None) -> list[Revision] | None:
        """Linearized archived chain recorded by ``manifest`` (cached per
        manifest version); None when it cannot be loaded/validated —
        callers fall back to a full listing."""
        if manifest is None:
            return None
        cached = self._manifest_cache
        if cached is not None and cached[0] == manifest:
            return cached[1]
        try:
            body = json.loads(
                self.fs.read_bytes(f"{self.prefix}/{manifest}")
            )
            files = body["files"]
        except Exception:
            return None
        arch = f"{self.prefix}/{ARCHIVE_DIR}"
        revs = []
        for fn in files:
            rev = self._rev_from_name(fn, f"{arch}/{fn}")
            if rev is not None:
                revs.append(rev)
        chain = self._linearize(revs)
        if len(chain) != len({r.child for r in revs}):
            return None  # detached entries — manifest unusable
        self._manifest_cache = (manifest, chain)
        return chain

    def log(self, before: float | None = None) -> list[Revision]:
        """Depth-first, child-id-ordered linearization from the root
        (`lakota/changelog.py:91-122`). The LAST entry is the winning leaf.

        The head path (``before=None``) lists only the HOT directory and
        prepends the archived chain from the manifest cursor — O(recent
        window) per call, not O(history). The fast path requires every
        hot revision to be reachable from the chain tail (or PHI when no
        archive exists); any gap — a root branch, an attachment into the
        archived interior, a mid-move race — falls back to the full
        hot+archive linearization, which is always correct.

        The result is cached keyed by (manifest name, exact hot file
        set): an unchanged listing returns the cached list, and the
        sequential-append case (new revisions forming a single-child
        chain off the cached winning leaf — the bulk write-loop shape)
        extends it in O(new). ``before=`` (time travel) always takes the
        full listing.

        CONTRACT: on a cache hit the CACHED list object itself is
        returned — callers must not mutate it (reverse, slice-assign,
        append), or they poison every later log()/leaf() call. All
        current callers only read/index; copying here would tax the hot
        leaf() path for nothing.
        """
        if before is not None:
            revs = self.revisions()
            return self._linearize([r for r in revs if r.epoch < before])
        hot, manifest = self._scan_hot()
        names = frozenset(r.basename for r in hot)
        key = (manifest, names)
        cached = self._log_cache
        if cached is not None and cached[0] == key:
            return cached[1]
        if (
            cached is not None
            and cached[1]
            and cached[0][0] == manifest
            and names > cached[0][1]
        ):
            extended = self._extend_chain(
                cached[1],
                [r for r in hot if r.basename not in cached[0][1]],
            )
            if extended is not None:
                self._log_cache = (key, extended)
                return extended
        out = None
        if not self._archived_possible():
            out = self._linearize(hot)
        else:
            chain = self._chain_for(manifest)
            if chain is not None:
                root = chain[-1].child if chain else PHI
                hot_part = self._linearize(hot, root=root)
                if len(hot_part) == len({r.child for r in hot}):
                    out = chain + hot_part
            if out is None:
                out = self._linearize(self.revisions())
        self._log_cache = (key, out)
        return out

    @staticmethod
    def _extend_chain(
        old: list[Revision], added: list[Revision]
    ) -> list[Revision] | None:
        """``old + chain`` when the added revisions are one linear chain
        rooted at the old winning leaf (the deepest DFS node, so a full
        relinearization would place them exactly there); None otherwise."""
        by_parent: dict[str, list[Revision]] = {}
        for r in added:
            by_parent.setdefault(r.parent, []).append(r)
        out = list(old)
        tail = out[-1].child
        for _ in range(len(added)):
            nxt = by_parent.pop(tail, None)
            if nxt is None or len(nxt) != 1:
                return None  # branch, merge file, or detached rev
            out.append(nxt[0])
            tail = nxt[0].child
        return out if not by_parent else None

    @staticmethod
    def _linearize(revs: list[Revision], root: str = PHI) -> list[Revision]:
        """``root`` other than PHI linearizes a SUBGRAPH hanging off an
        archived chain tail (the manifest fast path)."""
        children: dict[str, list[Revision]] = {}
        for r in revs:
            children.setdefault(r.parent, []).append(r)
        for sibs in children.values():
            sibs.sort(key=lambda r: r.child)
        # A merge commit exists as one FILE PER PARENT (same child id). It
        # must linearize AFTER every parent's subtree, so emit a node only
        # when its LAST incoming edge is traversed — otherwise the DFS
        # would surface it before the sibling branch and the wrong head
        # would win leaf resolution.
        n_edges: dict[str, int] = {}
        for r in revs:
            n_edges[r.child] = n_edges.get(r.child, 0) + 1
        out: list[Revision] = []
        seen_edges: dict[str, int] = {}
        # iterative DFS: the recursive form overflowed the interpreter
        # stack on linear histories past ~1000 revisions (any cold
        # time-travel read of a long chain)
        stack = [iter(children.get(root, ()))]
        while stack:
            rev = next(stack[-1], None)
            if rev is None:
                stack.pop()
                continue
            seen_edges[rev.child] = seen_edges.get(rev.child, 0) + 1
            if seen_edges[rev.child] < n_edges[rev.child]:
                continue  # wait for the merge node's remaining parents
            out.append(rev)
            stack.append(iter(children.get(rev.child, ())))
        return out

    def leaf(self, before: float | None = None) -> Revision | None:
        log = self.log(before)
        return log[-1] if log else None

    def leaves(self) -> list[Revision]:
        """All heads (revisions that are nobody's parent) — branch tips."""
        revs = self.revisions()
        parents = {r.parent for r in revs}
        heads = {r.child: r for r in revs if r.child not in parents}
        return sorted(heads.values(), key=lambda r: r.child)

    # -- committing --------------------------------------------------------

    def commit(
        self,
        payload: dict,
        parents: list[str] | None = None,
        force: bool = False,
        known_changed: bool = False,
        ts: float | None = None,
    ) -> Revision | None:
        """Append a revision. Returns None when the payload is identical to
        the (first) parent's — double-write no-op (`lakota/changelog.py:49-57`).

        ``known_changed=True`` skips the no-op head compare (one extra
        directory listing + an O(payload) serialization) — pass it only
        when the caller already proved the table changed, as
        ``Collection._commit`` does via its signature check.

        ``ts`` pins the revision's hextime (default: now) — trim uses it
        to place the replacement root AT the retention cutoff so time
        travel inside the retained window keeps resolving.

        Atomicity: content-addressed names make racing identical commits
        collide harmlessly on any backend (local rename / object-store PUT).
        """
        parents = parents or [PHI]
        raw = json.dumps(payload, sort_keys=True, separators=(",", ":")).encode()
        sha = hashlib.sha1(raw).hexdigest()  # noqa: S324 - content address
        if not force and not known_changed and parents[0] != PHI:
            # the parent is almost always the current winning leaf —
            # check the cached log tail before scanning it (the full
            # revisions() listing here would be O(history) per commit)
            log = self.log()
            head = (
                log[-1]
                if log and log[-1].child == parents[0]
                else next(
                    (r for r in log if r.child == parents[0]), None
                )
            )
            if head is not None:
                head_payload = head.read()
                if (
                    json.dumps(
                        head_payload, sort_keys=True, separators=(",", ":")
                    ).encode()
                    == raw
                ):
                    return None
        child = f"{hexts(ts)}-{sha}"
        # Multi-parent commits (merge) write ONE FILE PER PARENT with the
        # same child id — every head gains a descendant, so `leaves()`
        # collapses to the merge commit (reference changelog naming scheme).
        rel = None
        for parent in parents:
            rel = f"{self.prefix}/{parent}.{child}.json"
            self.fs.write_bytes_atomic(rel, raw)
        # Seed the payload memo with the object we just serialized: the
        # next commit reads its parent's payload (ckpt_dist / no-op
        # compare), and in the sequential-append case that parent is
        # exactly this revision. Sound: `raw` was produced from `payload`
        # with the same canonical dumps a later read would parse, and
        # serialize_bound emits JSON-stable lists (no tuples survive).
        if len(Revision._PAYLOADS) >= Revision._PAYLOADS_MAX:
            Revision._PAYLOADS.pop(next(iter(Revision._PAYLOADS)))
        Revision._PAYLOADS[child] = payload
        return Revision(parents[0], child, self.fs, rel)

    # -- history archiving -------------------------------------------------

    def maybe_archive(self, keep: int | None = None) -> bool:
        """Move old revision files to ``_archive/`` and publish a
        manifest cursor recording their linearized order — called after
        checkpoint commits, no-op below the threshold.

        The archived set must be a DFS PREFIX nothing outside attaches
        into (except at its tail): then ``chain + linearize(hot, root=
        tail)`` equals the full linearization and the per-commit path
        never touches the archive. Attachment points are validated here
        against every parent edge; the prefix shrinks below any interior
        attachment (stale-leaf racers, old branch points).

        Threshold ~√history balances the per-commit hot-listing cost
        against the O(history) manifest rewrite: both land at O(√N)
        amortized, flat in practice (the 10k-append probe: ms/append
        3.9→31 before, flat after). Ordering: manifest is written BEFORE
        any file moves (a reader that sees a moved-away file also sees
        the manifest covering it; mid-move reads fall back via
        ``Revision._alt_rel``).
        """
        keep = KEEP_HOT if keep is None else keep
        hot, manifest = self._scan_hot()
        chain = self._chain_for(manifest) or []
        total = len(chain) + len(hot)
        import math

        if len(hot) <= max(keep + 64, 4 * math.isqrt(total)):
            return False
        log = self.log()
        files = self.revisions()
        pos = {r.child: i for i, r in enumerate(log)}
        # Skip revisions log() cannot place — mid-pull transients
        # (children copied before their archived parents), strays left
        # by a concurrent trim, or files that landed between the log()
        # and revisions() listings. Archiving them would bake garbage
        # into the manifest; bailing entirely would let ONE stray
        # disable archiving forever. The membership filter is
        # UNCONDITIONAL: a count comparison (len(pos) vs distinct file
        # children) can coincidentally balance — e.g. a racing trim
        # deletes N listed revisions while N strays appear — and a
        # skipped filter turns pos[r.child] below into a KeyError
        # (caught live by the trim-races-archiver chaos test). Strays
        # stay in place: linearization already drops them; a later trim
        # deletes them.
        files = [r for r in files if r.child in pos]
        if not files:
            return False
        k = len(log) - keep
        changed = True
        while changed and k > len(chain):
            changed = False
            for r in files:
                ci = pos[r.child]
                pj = pos.get(r.parent)
                if ci >= k and pj is not None and pj < k - 1:
                    k = pj + 1  # r attaches inside the prefix — shrink
                    changed = True
        if k <= len(chain):
            return False
        p_children = {log[i].child for i in range(k)}
        new_files = sorted(
            r.basename for r in files if r.child in p_children
        )
        arch = f"{self.prefix}/{ARCHIVE_DIR}"
        self.fs.makedirs(arch)
        mname = self._publish_manifest(new_files, manifest)
        for r in files:
            if r.child not in p_children or r.rel.startswith(arch + "/"):
                continue
            dst = f"{arch}/{r.basename}"
            try:
                self.fs.move(r.rel, dst)
            except Exception:
                # dst present: a racing archiver moved it. BOTH missing:
                # a racing trim deleted it after our listing — skip. Our
                # manifest then names a dead file, but the trim's new
                # root is PHI-parented in hot, so the fast path's
                # hot-coverage check fails and readers fall back to the
                # (correct) full listing until the next checkpoint
                # republishes a clean manifest.
                if not self.fs.exists(dst) and self.fs.exists(r.rel):
                    raise
        # chain cache: the archived prefix in log order, rel under _archive
        self._manifest_cache = (
            mname,
            [
                self._rev_from_name(
                    log[i].basename, f"{arch}/{log[i].basename}"
                )
                for i in range(k)
            ],
        )
        self._log_cache = None
        return True

    def reset_manifest(self) -> None:
        """Drop the archive cursor — history-rewriting flows (trim /
        squash) call this after deleting or re-parenting revision files;
        reads fall back to full hot+archive listings until the next
        checkpoint re-archives. Also drops the cached archive-existence
        probe: a rewrite may race an archiver that CREATED ``_archive/``
        after this instance cached False, and every rewrite flow needs
        the fresh probe, not just the callers that remember to poke it."""
        for fn in self.fs.ls(self.prefix, sort=False):
            if fn.startswith("_manifest-") and fn.endswith(".json"):
                try:
                    self.fs.remove_file(f"{self.prefix}/{fn}")
                except Exception:
                    pass
        self._manifest_cache = None
        self._log_cache = None
        self._maybe_archived = None

    def _publish_manifest(
        self, file_names, prev: str | None
    ) -> str:
        """Atomically publish the archive cursor: content-named
        ``_manifest-{seq}-{sha1[:8]}.json`` listing the archived
        basenames, superseding ``prev`` (readers always pick the
        lexicographically-largest name, so the best-effort removal of
        the old file is cleanup, not correctness). Shared by
        ``maybe_archive`` and ``pull`` so the naming/sequencing protocol
        cannot drift between them."""
        body = json.dumps(
            {"fmt": 1, "files": sorted(file_names)},
            separators=(",", ":"),
        ).encode()
        seq = int(prev.split("-")[1]) + 1 if prev else 1
        mname = (
            f"_manifest-{seq:08d}-"
            f"{hashlib.sha1(body).hexdigest()[:8]}.json"  # noqa: S324
        )
        self.fs.write_bytes_atomic(f"{self.prefix}/{mname}", body)
        self._maybe_archived = True
        if prev is not None:
            try:
                self.fs.remove_file(f"{self.prefix}/{prev}")
            except Exception:
                pass  # best-effort: newest-name wins at read time
        return mname

    def pull(self, other: "Changelog") -> int:
        """Copy revision files missing locally (`lakota/changelog.py:124-137`).

        Source hot/archive placement is PRESERVED: a replica bootstrap
        of a long history would otherwise dump every archived revision
        into the hot directory, paying full-listing commits until its
        own first archive pass re-moves them all.

        Archive coherence: whenever this pull ADDS files under
        ``_archive/``, a manifest covering the post-pull archived set is
        published in the hot directory AFTER the copies land. Without
        it, a long-lived peer instance that probed ``exists(_archive)``
        False before the pull keeps its cached ``_maybe_archived=False``
        forever (nothing in its hot listing ever flips it), lists hot
        only, drops the pulled hot revisions as detached (their parents
        live in the invisible archive) and stays pinned to the stale
        pre-pull leaf. Mid-pull readers see a stale-but-consistent view
        (children before parents linearize as detached and are dropped);
        the manifest lands last, atomically flipping peers to the full
        history. If the combined archived set is not a clean DFS prefix
        (two-way sync with divergent archives) the manifest fails
        ``_chain_for`` validation and reads fall back to the full
        hot+archive listing — correct, and repaired by the next
        checkpoint's archive pass."""
        have = {r.basename for r in self.revisions()}
        arch = f"{self.prefix}/{ARCHIVE_DIR}"
        made_arch = False
        n = 0
        for r in other.revisions():
            if r.basename in have:
                continue
            archived = r.rel.rpartition("/")[0].endswith(
                "/" + ARCHIVE_DIR
            )
            if archived and not made_arch:
                self.fs.makedirs(arch)
                self._maybe_archived = True
                made_arch = True
            dst = (
                f"{arch}/{r.basename}"
                if archived
                else f"{self.prefix}/{r.basename}"
            )
            self.fs.write_bytes_atomic(dst, other.fs.read_bytes(r.rel))
            n += 1
        if made_arch:
            _, manifest = self._scan_hot()
            self._publish_manifest(
                (r.basename for r in self._scan_archive()), manifest
            )
            self._manifest_cache = None
            self._log_cache = None
        return n
