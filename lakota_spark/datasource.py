"""``lakota`` as a first-class Spark (Python) Data Source.

The idiomatic-Spark front door to the storage engine (round 10):

    spark.dataSource.register(LakotaDataSource)   # or Repo(...) auto-registers
    df = (spark.read.format("lakota")
          .option("path", "/repo/root")
          .option("table", "temperature/paris")
          .load())
    stream = (spark.readStream.format("lakota")
              .option("path", "/repo/root")
              .option("table", "temperature/paris")
              .load())

Batch read: the pruned snapshot's segment part-files (Spark never
schedules a file outside the queried interval) packed into contiguous
input partitions of about one writer page of rows each
(`series.scan_chunks`, capped by ``maxPartitions``), pyarrow reads on
the executors, and FILTER PUSHDOWN via
`DataSourceReader.pushFilters`: supported predicates (comparisons, In,
IsNull/IsNotNull on schema columns) compile to the same neutral plan
`Series.frame(mask=)` uses (`series._arrow_mask_expr`) — row-group
pruning at read time, exact arrow-side filtering after the cast, and
leading-index bounds additionally prune whole SEGMENTS driver-side.
Unsupported predicates are handed back to Spark. Planning and scanning
are `segscan.partitions` / `segscan.scan`, the same code behind
`Series.frame`: clipped segments (overlay-narrowed bounds) are clipped
to their effective bounds, and a referenced segment buried by gc is
moved back out of trash, so results match `Series.frame(sort=False)`
exactly. KV collections serve when their
resolved snapshot is pairwise range-DISJOINT (round 13 — each key has
exactly one live version, so no shuffle is needed; the registry shape);
overlapping KV refuses at scan time (last-writer-wins needs a global
shuffle — use `Series.frame`).

Streaming read: the changelog IS the log. Offsets are revision ids;
each microbatch emits the rows the batch's revisions WROTE — read off
each commit's own ``delta`` payload over the immutable parent DAG
(round 13; append semantics: rows later clipped away by overlays are
still emitted — a tail of WRITES, not a changing view). Maintenance
rewrites (defrag/merge/rename) record empty deltas, so compactions
emit NOTHING — the snapshot-diff emission they replaced re-emitted
every compacted row and could lose writes a batch straddled. Offsets
are replayable (ancestor sets and payloads are immutable), so Spark's
checkpoint gives exactly-once. `trim`/`squash` deletes history; an
open stream whose start revision disappears raises rather than
silently re-emitting.

SQL access goes through `Repo.register_views()` / `Repo.sql()` (lazy
temp views) — `CREATE TABLE ... USING lakota` is NOT supported: Spark
4.1 does not hand a catalog table's OPTIONS back to a Python data
source at scan time (verified: the reader receives an empty options
dict), so such a table cannot locate its repo.

Streaming write (round 11): `df.writeStream.format("lakota")` — one
atomic revision per microbatch, replay-idempotent through content
addressing + the double-write no-op (see `LakotaStreamWriter`).
High-volume ingest that needs per-batch range partitioning on the
index stays on the `foreachBatch` + `Series.write` path
(`lakota_spark/streaming`): streaming queries cannot
repartitionByRange, which foreachBatch can do on the bounded batch
DataFrame.

Reference parity: none — the reference has no Spark surface; this is
extension surface (SURVEY §2.12-adjacent) built on public PySpark 4
`pyspark.sql.datasource` APIs.
"""

from __future__ import annotations

import datetime as _dt
from typing import TYPE_CHECKING

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from lakota_spark import segscan

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.datasource import Filter

_CMP_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _open_series(options):
    from lakota_spark.repo import Repo

    root = options.get("path")
    table = options.get("table")
    if not root or not table or "/" not in table:
        raise ValueError(
            "lakota data source needs .option('path', <repo root>) and "
            ".option('table', '<collection>/<series>')"
        )
    cname, label = table.split("/", 1)
    # SQL DDL (CREATE TABLE ... USING lakota) qualifies the path option
    # to the single-slash 'file:/...' form — normalize it back
    if root.startswith("file:") and "://" not in root:
        root = root[len("file:"):]
    # Repo.spark is LAZY: the data source's planner workers run with no
    # SparkSession, and everything the readers need (registry, schema,
    # changelog, snapshots, file listings) is pure fsio metadata
    repo = Repo(root, spark=None)
    return repo.collection(cname).series(label)


def _lit(v, tz_aware=True):
    if isinstance(v, _dt.datetime) and tz_aware and v.tzinfo is None:
        return v.replace(tzinfo=_dt.timezone.utc)
    return v


class LakotaDataSource(DataSource):
    """See module docstring. Options: ``path``, ``table``
    ('collection/series'), ``before`` (batch time travel), and
    ``startingOffsets`` ('latest' default | 'earliest', streaming)."""

    @classmethod
    def name(cls) -> str:
        return "lakota"

    def schema(self):
        return _open_series(self.options).schema.struct_type()

    def reader(self, schema) -> "LakotaBatchReader":
        return LakotaBatchReader(self.options, schema)

    def streamReader(self, schema) -> "LakotaStreamReader":  # noqa: N802
        return LakotaStreamReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> "LakotaArrowWriter":
        return LakotaArrowWriter(self.options, schema, overwrite=overwrite)

    def streamWriter(  # noqa: N802 (API naming)
        self, schema, overwrite: bool
    ) -> "LakotaStreamWriter":
        return LakotaStreamWriter(self.options, schema, overwrite=overwrite)


#: default ceiling on scheduled input partitions (`series.scan_chunks`
#: packs about one writer page of rows per partition below it); override
#: per read with .option("maxPartitions", N) to match a larger cluster's
#: parallelism
_MAX_PARTITIONS = 64


class LakotaBatchReader(DataSourceReader):
    def __init__(self, options, schema):
        self._series = _open_series(options)
        before = options.get("before")
        if before is not None:
            # options arrive as strings: accept epoch floats as well as
            # the ISO datetimes Collection.snapshot already parses
            try:
                before = float(before)
            except ValueError:
                pass
        self._before = before
        self._max_parts = int(options.get("maxPartitions", _MAX_PARTITIONS))
        self._struct = schema
        self._idx = list(self._series.schema.idx)
        self._nodes: list = []  # conjunctive pushed-filter plan nodes
        self._fields: set[str] = set()

    def __getstate__(self):
        # the reader object ships to executors: keep only the picklable
        # read state (struct/uri/idx/plan nodes), drop the driver-side
        # Series/Repo handles (SparkSession refs)
        d = dict(self.__dict__)
        d.pop("_series", None)
        return d

    # -- pushdown ----------------------------------------------------------

    def pushFilters(self, filters):  # noqa: N802 (API naming)
        from pyspark.sql.types import TimestampType

        ts_cols = {
            f.name
            for f in self._series.schema.struct_type().fields
            if isinstance(f.dataType, TimestampType)
        }
        cols = set(self._series.schema.columns)
        nodes = []
        kept = []
        for f in filters:
            node = None
            attr = getattr(f, "attribute", None)
            name = attr[0] if attr and len(attr) == 1 else None
            if name in cols:
                tz = name in ts_cols
                if type(f) in _CMP_OPS:
                    node = (
                        "cmp",
                        _CMP_OPS[type(f)],
                        ("field", name),
                        ("lit", _lit(f.value, tz)),
                    )
                elif isinstance(f, In):
                    node = (
                        "in",
                        ("field", name),
                        [_lit(v, tz) for v in f.value],
                    )
                elif isinstance(f, IsNull):
                    node = ("isnull", ("field", name))
                elif isinstance(f, IsNotNull):
                    node = ("not", ("isnull", ("field", name)))
            if node is None:
                kept.append(f)
            else:
                nodes.append((node, f))
        if nodes:
            # validate the whole conjunction against an empty cast table;
            # on any rejection hand EVERYTHING back to Spark
            from pyspark.sql.pandas.types import to_arrow_schema

            from lakota_spark.series import _arrow_mask_expr

            try:
                probe = to_arrow_schema(
                    self._series.schema.struct_type()
                ).empty_table()
                probe.filter(
                    _arrow_mask_expr(("and", [n for n, _ in nodes]))
                )
            except Exception:  # noqa: BLE001 — pushdown is best-effort
                kept.extend(f for _, f in nodes)
                nodes = []
        self._nodes = [n for n, _ in nodes]
        yield from kept

    def _pushed_index_bounds(self):
        """Leading-index-column bounds from the pushed conjunction — the
        segment-pruning pass (whole files never scheduled)."""
        lead = self._idx[0]
        start = stop = None
        s_cl = e_cl = True
        for n in self._nodes:
            if n[0] != "cmp" or n[2] != ("field", lead):
                continue
            op, v = n[1], n[3][1]
            if isinstance(v, _dt.datetime) and v.tzinfo is not None:
                # segment bounds are UTC-naive wall values; the arrow
                # plan keeps the tz-aware twin for the cast schema
                v = v.replace(tzinfo=None)
            if op in (">", ">="):
                if start is None or v > start[0]:
                    start, s_cl = (v,), op == ">="
            elif op in ("<", "<="):
                if stop is None or v < stop[0]:
                    stop, e_cl = (v,), op == "<="
            elif op == "=":
                start = stop = (v,)
                s_cl = e_cl = True
        return start, stop, s_cl, e_cl

    # -- planning / reading --------------------------------------------------

    def partitions(self):
        start, stop, s_cl, e_cl = self._pushed_index_bounds()
        snap = self._series.collection.snapshot(before=self._before)
        segs = snap.for_label(self._series.label, start, stop, s_cl, e_cl)
        if self._series.schema.kv:
            # Round 13: a pairwise-DISJOINT KV snapshot needs no
            # last-writer-wins shuffle (each key has exactly one live
            # version), so registry-shaped KV tables serve through the
            # data source / SQL views like any other table. Overlapping
            # KV still refuses — Spark's plain-table semantics would
            # surface shadowed rows. Checked at scan time against the
            # resolved (possibly time-travelled) snapshot: any segment
            # holding a queried key intersects the query range, so
            # subset disjointness is the exact condition.
            from lakota_spark import zonemap

            if not zonemap.pairwise_disjoint(
                [s for s in segs if s.path]
            ):
                raise ValueError(
                    "lakota data source cannot serve KV collections "
                    "with OVERLAPPING segments (last-writer-wins needs "
                    "a global shuffle); use Series.frame(), or "
                    "defrag/rewrite the collection to a disjoint "
                    "layout"
                )
        plan = (
            ("and", self._nodes)
            if len(self._nodes) > 1
            else (self._nodes[0] if self._nodes else None)
        )
        if plan is not None:
            # replicate Spark's NaN-greatest ordering arrow-side (same
            # rewrite as Series._compile_mask) — also makes zone-map
            # pruning NaN-conservative for float columns
            from lakota_spark import sexpr as _sexpr

            plan = _sexpr.spark_nan_semantics(
                plan,
                {
                    c
                    for c, k in self._series.schema.columns.items()
                    if k == "float"
                },
            )
        if plan is not None:
            # value-column zone maps: drop whole segments the pushed
            # filters provably cannot match (overlapping KV is rejected
            # above and there is NO dedup downstream here, so the plain
            # pruner is exact for the disjoint-KV case too)
            from lakota_spark import zonemap

            segs = zonemap.prune(segs, plan)
        return [
            InputPartition(meta)
            for meta in segscan.partitions(
                self._series, segs, plan, self._max_parts
            )
        ]

    def read(self, partition):
        yield from segscan.scan(partition.value, self._struct)



def _trace(msg: str) -> None:
    """Append a line to `$LAKOTA_STREAM_TRACE` when set (else no-op).

    The streaming source runs in a separate runner process the driver
    cannot monkeypatch, so protocol questions ("which call seals batch
    0?", "does a restart call initialOffset?") are only answerable by
    in-situ logging. The r13 soak probe
    (`scripts/soak_stream_admission.py --trace`) uses this to record
    the initialOffset/latestOffset/partitions sequence; it settled
    that latestOffset precedes initialOffset even on fresh starts —
    the fact that makes the first batch structurally unboundable."""
    import os

    p = os.environ.get("LAKOTA_STREAM_TRACE")
    if p:
        with open(p, "a") as fh:
            fh.write(f"pid={os.getpid()} {msg}\n")


class LakotaStreamReader(DataSourceStreamReader):
    """Tail the changelog as a Structured Streaming source — offsets are
    revision ids, a microbatch is the rows of newly referenced segments
    (see module docstring).

    ``option("maxRevisionsPerBatch", N)`` (round 12) bounds every
    microbatch AFTER the first to N changelog revisions — the
    maxOffsetsPerTrigger-style admission control that stops a
    catch-up spike (bursty ingest, a slow batch, a paused trigger)
    from snowballing into one history-sized batch. Batch 0 of a
    GENUINELY FRESH query is the one batch that is never bounded:
    Spark seals it via a latestOffset() call that happens before the
    reader can see any position (the r13 trace measured latestOffset
    arriving before even initialOffset), and returning an offset below
    a position this instance cannot know would REWIND the query's
    offset log — empty backward batches, then re-emission (duplicates
    on non-idempotent sinks). RESTARTS are bounded from their first
    post-restart batch: WAL recovery re-plans the last committed batch
    via partitions(start=ckpt, end=ckpt) BEFORE any latestOffset, and
    that sealed end arms the marker with the checkpointed position
    (r13 trace + `test_stream_reader_admission_after_restart`). So the
    marker only ever advances along sealed batch ends
    (partitions()/commit()), which keeps offsets monotonic by
    construction. A squash that rewrites
    the chain past the marker falls back to head (the snapshot
    resolver then raises its documented restart error). The depth
    scenario — a 200-revision standing backlog draining bounded while
    gc, sink maintain and the source ARCHIVER run concurrently — is
    exercised by `scripts/soak_stream_admission.py` and pinned by
    `tests/test_concurrency.py::test_stream_admission_catchup_soak`."""

    def __init__(self, options, schema):
        self._series = _open_series(options)
        if self._series.schema.kv:
            raise ValueError(
                "lakota streaming source cannot serve KV collections"
            )
        self._struct = schema
        self._max_parts = int(options.get("maxPartitions", _MAX_PARTITIONS))
        self._earliest = (
            str(options.get("startingOffsets", "latest")).lower()
            == "earliest"
        )
        # admission control (round 12): bound how many changelog
        # revisions one microbatch may ingest. Without it a backfill
        # from `earliest` over a long-lived table arrives as ONE batch
        # holding the whole history — the classic streaming-source
        # failure shape at scale (state/store pressure, no incremental
        # checkpoints). 0 = unthrottled (default).
        self._max_revs = int(options.get("maxRevisionsPerBatch", 0) or 0)
        # admission-control marker: the last SEALED batch end this
        # instance has seen (partitions() — an end Spark has already
        # written to its offset WAL, so advancing from it can never
        # rewind). While None — before the first batch plans —
        # latestOffset must NOT bound: this instance cannot know the
        # checkpointed position yet.
        self._progress: str | None = None

    def __getstate__(self):
        d = dict(self.__dict__)
        d.pop("_series", None)
        return d

    def _snapshot_at(self, rev_id: str):
        from lakota_spark.commit import Snapshot

        if not rev_id:
            return Snapshot()
        coll = self._series.collection
        for rev in coll.changelog.log():
            if rev.child == rev_id:
                return coll._leaf_snapshot(rev)
        raise ValueError(
            f"lakota stream offset {rev_id!r} no longer exists — the "
            "changelog was squashed/rewritten; restart the stream from "
            "a fresh checkpoint"
        )

    def initialOffset(self) -> dict:  # noqa: N802
        _trace(f"initialOffset id={id(self)%100000}")
        # Spark calls initialOffset ONLY when the query has no
        # checkpointed offset (the MicroBatchStream contract), so the
        # position returned here is by definition at-or-below anything
        # the WAL will ever hold: seeding the admission marker from it
        # is rewind-safe. TODAY this does not bound batch 0 — the r13
        # soak trace (`scripts/soak_stream_admission.py --trace`)
        # measured the runner calling latestOffset BEFORE initialOffset
        # even on a fresh start, so the first seal happens while the
        # marker is still None. The seeding stays as forward-compatible
        # defense: a Spark version that consults initialOffset first
        # gets a bounded fresh-start backfill for free, and meanwhile
        # it is a no-op (partitions() overwrites the marker with the
        # sealed end one call later). The first batch OF ANY RUN being
        # unbounded is structural in this API (latestOffset carries no
        # start, and bounding blind would rewind a restarted query —
        # see the class docstring).
        if self._earliest:
            self._progress = ""
            return {"rev": ""}
        off = self.latestOffset()
        self._progress = off["rev"]
        return off

    def latestOffset(self) -> dict:  # noqa: N802
        _trace(f"latestOffset id={id(self)%100000} prog={self._progress!r}")
        self._series.collection.repo.refresh()
        log = self._series.collection.changelog.log()
        if not log:
            return {"rev": ""}
        head = log[-1].child
        if not self._max_revs:
            return {"rev": head}
        # maxRevisionsPerBatch: advance at most N revisions past the
        # last SEALED batch end. The first batch this instance plans
        # is unthrottled (see class docstring — bounding before the
        # checkpointed position is visible would rewind the offset
        # log). A squashed/rewritten chain drops the marker from the
        # log: fall back to head and let `_snapshot_at`'s documented
        # restart error surface.
        if self._progress is None or self._progress == head:
            return {"rev": head}
        ids = [r.child for r in log]
        if self._progress == "":
            # fresh `earliest` start (initialOffset seeded the marker):
            # the position before the first revision
            i = -1
        else:
            try:
                i = ids.index(self._progress)
            except ValueError:
                return {"rev": head}
        return {"rev": ids[min(i + self._max_revs, len(ids) - 1)]}

    def _delta_segments(self, s_rev: str, e_rev: str):
        """Segments WRITTEN by the revisions in ``(s_rev, e_rev]`` —
        the ancestry difference over the immutable parent DAG, read
        straight off each commit's ``delta`` payload key (round 13).

        This replaces the snapshot-diff emission (new-paths-at-end),
        which confused REWRITES with writes: a defrag mid-stream minted
        a merged segment whose path was new at the end snapshot, so
        every compacted row re-emitted (measured 50 -> 100 rows on an
        append sink; worse, a batch straddling writes-then-defrag
        could lose the writes — their segments were already merged
        away at the end snapshot). Per-commit deltas are exact by
        construction: normal commits record exactly what they wrote
        (`Collection._commit`), maintenance/merge commits record ``[]``
        (`commit_snapshot`/`merge`), and a re-rooting trim records the
        full state (a fresh stream's batch 0 is the whole table).
        Walking ANCESTRY rather than a changelog-order window keeps
        replay deterministic — a side branch landing between two
        sealed offsets can reorder the log listing, but never an
        ancestor set; each parallel file of a merge revision carries
        one parent edge, so the walk sees every branch. GC keeps every
        payload-referenced segment file alive (`payload_paths`), so a
        merged-away segment's rows stay readable until a trim/squash —
        which already surfaces as the documented restart error below.

        Returns None when any walked payload predates the ``delta``
        key (pre-fmt-3 repo) — caller falls back to snapshot-diff."""
        from lakota_spark.changelog import PHI
        from lakota_spark.commit import Segment

        coll = self._series.collection
        parent_edges: dict[str, set] = {}
        by_child: dict = {}
        for r in coll.changelog.log():
            parent_edges.setdefault(r.child, set()).add(r.parent)
            by_child[r.child] = r  # any edge: payloads are identical
        for rev_id in (s_rev, e_rev):
            if rev_id and rev_id not in by_child:
                raise ValueError(
                    f"lakota stream offset {rev_id!r} no longer exists "
                    "— the changelog was squashed/rewritten; restart "
                    "the stream from a fresh checkpoint"
                )
        if not e_rev:
            return []

        def ancestors(child: str) -> set:
            seen: set = set()
            frontier = [child]
            while frontier:
                cur = frontier.pop()
                if (
                    not cur
                    or cur == PHI
                    or cur in seen
                    or cur not in parent_edges
                ):
                    continue
                seen.add(cur)
                frontier.extend(parent_edges[cur])
            return seen

        new_ids = ancestors(e_rev) - (
            ancestors(s_rev) if s_rev else set()
        )
        schema = self._series.schema
        label = self._series.label
        out = []
        for child in sorted(new_ids):  # hextime prefix = append order
            payload = by_child[child].read()
            if "delta" not in payload:
                return None
            for d in payload["delta"]:
                seg = Segment.from_dict(d, schema)
                if seg.label == label and seg.path:
                    out.append(seg)
        return out

    def partitions(self, start: dict, end: dict):
        _trace(f"partitions id={id(self)%100000} {start} {end}")
        if end.get("rev"):
            # advance the admission-control marker to this batch's
            # SEALED end (already in Spark's offset WAL — monotonic, so
            # never a rewind). It must be the sealed end, not the
            # committed one: Spark only commits batch k while PLANNING
            # batch k+1, and it only plans k+1 when latestOffset moves
            # past the sealed end — bounding from committed progress
            # deadlocks the stream one batch in (verified against the
            # runner protocol).
            self._progress = end["rev"]
        segs = self._delta_segments(
            start.get("rev") or "", end.get("rev") or ""
        )
        if segs is None:
            # legacy payloads without the per-commit `delta` key: the
            # original snapshot-diff emission (may re-emit maintenance
            # rewrites — the r13 defrag-mid-stream hazard — but stays
            # read-compatible with pre-fmt-3 repos)
            old = {
                s.path
                for s in self._snapshot_at(start["rev"]).for_label(
                    self._series.label
                )
                if s.path
            }
            segs = [
                s
                for s in self._snapshot_at(end["rev"]).for_label(
                    self._series.label
                )
                if s.path and s.path not in old
            ]
        # append semantics: emit the new segments' rows AS WRITTEN (no
        # effective-bound clipping — this is a tail of writes)
        return [
            InputPartition(meta)
            for meta in segscan.partitions(
                self._series, segs, None, self._max_parts
            )
        ]

    def read(self, partition):
        yield from segscan.scan(partition.value, self._struct)

    def commit(self, end: dict) -> None:
        # the marker advances on SEALED ends in partitions() — nothing
        # to do here (committed ends always trail sealed ones)
        pass


def register(spark) -> None:
    """Register the ``lakota`` format on this session (idempotent) and
    enable Python-data-source filter pushdown (off by default in Spark
    4.1; without it Spark refuses readers that implement pushFilters)."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # noqa: BLE001 — non-configurable session: the
        pass  # reader still works, Spark just re-applies every filter
    spark.dataSource.register(LakotaDataSource)


class _SegmentMsg(WriterCommitMessage):
    """One write task's staged segments (`segwriter.Pages`, staged):
    one per task, or one per boundary bucket with range_boundaries."""

    def __init__(self, segs):
        self.segs = segs


def _parse_boundary(text: str, alias: str):
    """Parse one range_boundaries literal for an index column alias.
    Timestamps/dates accept ISO strings; the comparison happens on the
    numpy values of the sorted arrow column, so the parsed form only
    has to be numpy-comparable with it."""
    import numpy as np

    if alias == "int":
        return int(text)
    if alias == "float":
        return float(text)
    if alias == "timestamp":
        return np.datetime64(text, "us")
    if alias == "date":
        return np.datetime64(text, "D")
    return text  # str index: lexicographic


def _leaf_msgs(messages):
    """Flatten commit messages to their staged segments."""
    for m in messages or []:
        if m is not None:
            yield from m.segs


class LakotaArrowWriter(DataSourceArrowWriter):
    """``df.write.format("lakota").mode("append")`` — the distributed
    ingest path as a native Spark writer.

    Executor side (`write`): each partition's record batches cast to
    the engine's arrow schema (`segwriter.conform`: timestamps truncated
    to seconds — the reference's M8[s] write cast), sort locally by the
    index, encode through the one segment writer (`segwriter.encode`:
    the same pages and content addresses as a driver-local write of
    the same rows) and STAGE under a ``_tmp-<hexts>-<uuid>`` dir (aged
    out by GC only after the grace period). Driver
    side (`commit`): every staged dir publishes to its Merkle content
    address (identical-content dedup like the engine), partition index
    ranges must be pairwise DISJOINT (repartitionByRange on the index
    first — overlapping partitions abort before anything commits), and
    all segments land in ONE changelog revision via
    `Collection.apply_segments`.

    Write modes (round 11 — VERDICT r10 #3):

    * ``mode("append")`` — overlay onto the current leaf. A segment
      whose index range overlaps EXISTING data splices over it (range
      replacement — `Series.write` semantics via `commit.py`'s windowed
      overlay), so append doubles as the distributed UPDATE path.
    * ``mode("overwrite")`` — same staged segments committed as a NEW
      ROOT (`Series.write(root=True)`, reference `lakota/series.py`
      root writes): the table's content is replaced in ONE atomic
      revision, prior history stays reachable via time travel.
      Overwriting with an EMPTY dataframe is refused (a full truncate
      is an explicit engine op: `Collection.delete` / range delete).
    * ``option("overlay", "true")`` (either mode) — lifts the
      pairwise-disjointness requirement on the new partitions: segments
      are committed in deterministic (start, stop, content-digest)
      order, later segments splicing over earlier where they overlap —
      the batched form of sequential `Series.write` calls, still one
      atomic revision. Without the option, overlapping partitions abort
      before anything commits (the safe default: an accidental plain
      `repartition` should not silently shadow rows).
    * ``option("range_boundaries", "b1,b2,...")`` (either mode) —
      pinned split points on the FIRST index column (ISO strings for
      timestamp/date indexes): each write task stages one segment per
      boundary bucket instead of one per partition. Repartitioning by
      a bucket expression upstream (hash shuffle — works where
      repartitionByRange cannot, e.g. inside a streaming query) then
      yields range-disjoint segments by construction; buckets split
      across tasks still trip the overlap abort.
    """

    def __init__(self, options, schema, overwrite: bool = False):
        series = _open_series(options)
        if series.schema.kv:
            raise ValueError(
                "lakota writer cannot serve KV collections; use "
                "Series.write()"
            )
        eng = series.schema
        names = set(schema.fieldNames())
        want = set(eng.columns)
        if names != want:
            raise ValueError(
                f"dataframe columns {sorted(names)} != collection "
                f"schema {sorted(want)}"
            )
        fs = series.collection.fs
        if not getattr(fs, "arrow_readable", False):
            raise ValueError(
                "lakota writer needs a pyarrow-writable backend; use "
                "Series.write() on this store"
            )
        # everything the executors need, picklable:
        self._uri = fs.uri
        self._seg_prefix = series.collection.seg_prefix
        self._schema = eng
        self._options = dict(options)
        self._root = bool(overwrite)
        self._overlay = str(
            options.get("overlay", "false")
        ).lower() in ("true", "1", "yes")
        # range_boundaries (round 12, VERDICT r11 #3): pinned split
        # points on the FIRST index column; each write task stages one
        # segment per bucket, so co-locating buckets upstream
        # (repartition(n, <bucket expr>) — plain hash shuffle, legal in
        # streaming) yields range-disjoint segments by construction.
        raw = options.get("range_boundaries")
        self._boundaries = None
        if raw:
            vals = [v.strip() for v in str(raw).split(",") if v.strip()]
            alias = eng.columns[eng.idx[0]]
            self._boundaries = sorted(
                _parse_boundary(v, alias) for v in vals
            )

    def write(self, iterator):
        import pyarrow as pa

        from lakota_spark import segwriter

        batches = list(iterator)
        if not batches:
            return _SegmentMsg([])
        idx = self._schema.idx
        tbl = segwriter.conform(pa.Table.from_batches(batches), self._schema)
        tbl = tbl.sort_by([(c, "ascending") for c in idx])
        subs = [tbl]
        if self._boundaries:
            # range_boundaries: split the sorted table at the pinned
            # boundary values (first index column) and stage one segment
            # per non-empty bucket — disjoint by construction when each
            # bucket is co-located in one task (upstream repartition on
            # the bucket id; the commit's overlap check guards the rest)
            import numpy as np

            col = tbl.column(idx[0]).to_numpy(zero_copy_only=False)
            offsets = [
                0,
                *(int(np.searchsorted(col, b, side="left"))
                  for b in self._boundaries),
                len(tbl),
            ]
            subs = [tbl.slice(a, z - a) for a, z in zip(offsets, offsets[1:])]
        return _SegmentMsg([
            segwriter.stage(
                pages,
                self._uri,
                segwriter.new_staging_rel(self._seg_prefix),
            )
            for pages in (segwriter.encode(t, self._schema) for t in subs)
            if pages.n
        ])

    # -- driver side ---------------------------------------------------------

    def commit(self, messages):
        from concurrent.futures import ThreadPoolExecutor

        from lakota_spark import segwriter
        from lakota_spark.commit import Segment, cmp_prefix

        series = _open_series(self._options)
        fs = series.collection.fs
        parts = list(_leaf_msgs(messages))
        if self._root and not parts:
            raise ValueError(
                "lakota overwrite with an empty dataframe is refused — "
                "truncation is an explicit engine op (Collection.delete "
                "or Series range delete)"
            )
        # deterministic commit order: (start, stop, content digest).
        # In overlay mode LATER segments splice over earlier ones, so
        # this order IS the shadowing rule — content-addressed, stable
        # across reruns and partitionings.
        ordered = sorted(
            parts, key=lambda p: (p.lo, p.hi, fs.combine_sha1(p.digests))
        )
        if not self._overlay:
            for prev, cur in zip(ordered, ordered[1:]):
                if cmp_prefix(cur.lo, prev.hi) <= 0:
                    self.abort(messages)
                    raise ValueError(
                        "lakota writer partitions overlap on the index "
                        f"({prev.hi!r} vs {cur.lo!r}): "
                        "repartitionByRange on the index columns before "
                        'writing, or .option("overlay", "true") to '
                        "splice them in (start, stop, digest) order"
                    )

        def publish(pages):
            return segwriter.publish(fs, self._seg_prefix, pages)

        # publishes are independent per segment — run them concurrently
        # (an object-store "move" is copy+delete per blob, and a
        # 1000-partition ingest would otherwise pay 1000 sequential
        # round-trips on the driver); ex.map preserves input order so
        # the segs list keeps the deterministic sort
        with ThreadPoolExecutor(max_workers=min(len(ordered), 16) or 1) as ex:
            published = list(ex.map(publish, ordered))
        segs = []
        for pages, (name, digest) in zip(ordered, published):
            meta = {"digest": digest}
            if pages.zmap:
                meta["zmap"] = pages.zmap
            segs.append(
                Segment(
                    label=series.label,
                    start=pages.lo,
                    stop=pages.hi,
                    path=name,
                    length=pages.n,
                    meta=meta,
                )
            )
        if segs:
            series.collection.apply_segments(segs, root=self._root)

    def abort(self, messages):
        from lakota_spark import segwriter

        fs = _open_series(self._options).collection.fs
        for pages in _leaf_msgs(messages):
            segwriter.discard(fs, pages.tmp_rel)


class LakotaStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("lakota")`` — the native Structured
    Streaming SINK (round 11): each microbatch commits as ONE atomic
    changelog revision through the same staged-segment machinery as the
    batch writer (executor-side arrow encode + content addressing,
    driver-side publish + `apply_segments`).

    Exactly-once WITHOUT sink-side state: a replayed microbatch (task
    retry or checkpoint recovery) re-stages the SAME bytes, publishes
    to the SAME Merkle addresses (publish dedups on fs.exists) and the
    commit hits the engine's double-write no-op — the changelog gains
    no second revision. This holds whenever the replayed batch produces
    the same rows per partition (deterministic queries; Spark replays
    the same offset range).

    Partition contract (same as the batch writer): staged segments must
    be range-disjoint on the index or the commit aborts before anything
    publishes. For MULTI-partition high-volume streams set
    ``option("range_boundaries", "b1,b2,...")`` (round 12, VERDICT r11
    #3): each write task splits its sorted batch at the pinned
    boundaries and stages one segment per bucket, so an upstream
    ``.repartition(n, <bucket expr>)`` — a plain hash shuffle, legal in
    streaming, with the bucket expr binning the index by the same
    boundaries — makes the staged segments disjoint BY CONSTRUCTION
    (every bucket lives wholly in one task). Replay idempotence is
    unchanged: the same rows split at the same pinned boundaries into
    the same segments and addresses. Alternatives remain: natural
    disjoint partitioning (tailing another lakota series),
    ``.repartition(1)`` for bounded batches, or
    ``option("overlay", "true")`` for range-REPLACEMENT semantics
    (deterministic (start, stop, digest) splice order — rows sharing an
    index value across two overlapping partitions would be spliced
    away, which is why overlay is opt-in).

    ``outputMode("complete")`` (overwrite=True) re-roots the table each
    batch (`Series.write(root=True)`); empty complete batches are
    no-ops rather than truncates.

    ``option("maintain_every", N)`` runs `Collection.maintain()` after
    every Nth committed batch (same knob as the foreachBatch ingest's
    ``maintain_every``) so a forever-running sink keeps a bounded
    changelog — threshold-triggered squash/defrag instead of one
    revision accreting per trigger.
    """

    def __init__(self, options, schema, overwrite: bool = False):
        # identical validation + executor logic as the batch writer;
        # root-per-batch when Spark asks for truncate (complete mode)
        self._inner = LakotaArrowWriter(
            options, schema, overwrite=overwrite
        )
        self._maintain_every = int(options.get("maintain_every", 0) or 0)

    def write(self, iterator):
        return self._inner.write(iterator)

    def commit(self, messages, batchId):  # noqa: N803 (API naming)
        if not list(_leaf_msgs(messages)):
            return  # empty microbatch: no revision (never a truncate)
        self._inner.commit(messages)
        # keyed on batchId (not a local counter) so the cadence survives
        # checkpoint restarts
        if (
            self._maintain_every
            and (batchId + 1) % self._maintain_every == 0
        ):
            series = _open_series(self._inner._options)
            series.collection.maintain()

    def abort(self, messages, batchId):  # noqa: N803 (API naming)
        self._inner.abort(messages)
