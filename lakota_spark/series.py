"""Series: one labeled, sorted time-series inside a collection.

Write path (`lakota/series.py:82-157` semantics, Spark-native execution):
cast to schema → range-partition + sort → write a content-addressed
Parquet segment → overlay onto the leaf snapshot → append a revision.

Read path (`lakota/series.py:314-338`): resolve snapshot → prune segments
by label + interval (pure metadata, before any segment file is opened)
→ scan the surviving segments' files in interval order with `segscan`
(the query bounds and the mask pushed into each pyarrow dataset scan,
overlay-clipped segments clipped to their effective bounds, only the
needed columns decoded) → optional select/limit/offset. `frame()` runs
the scan as one `mapInArrow` relation over ``spark.range``, one id per
planned chunk; partition order is sort order, so a sorted read plans
no Exchange. `df()` runs the same scan in the calling process and
starts no Spark job, so its rows do flow through the driver; only a
mask outside the pushable subset sends it through `frame()`.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakota_spark import segscan, segwriter
from lakota_spark.commit import Segment
from lakota_spark.segwriter import PAGE_LEN

CLOSED = {
    "b": (True, True),
    "l": (True, False),
    "r": (False, True),
    "n": (False, False),
    # reference spelling (`lakota/utils.py` Closed enum / CLI --closed)
    "BOTH": (True, True),
    "LEFT": (True, False),
    "RIGHT": (False, True),
    "NONE": (False, False),
}


def scan_chunks(files: list, rows: int, ceiling: int) -> list[list]:
    """The one task-count rule of the segment scan (`segscan.partitions`,
    behind `Series.frame`/`tail` and the ``lakota`` data source's batch
    and stream readers; `Series.df` and defrag ask for one chunk): split
    the ordered ``files`` into ``ceil(rows / PAGE_LEN)`` contiguous
    chunks, clamped to ``[1, len(files)]`` and to ``ceiling``.

    Every Python task pays a worker round trip whatever it reads, so a
    pruned read of a few small segments runs as ONE task, and a large
    scan gets about one writer page of rows per task. ``rows`` is the
    pruned segments' ``Segment.length`` total — snapshot metadata, so
    packing opens no file. Chunks keep input order (partition order ==
    sort order for `Series.frame`); an empty input still yields one
    empty chunk, since Spark needs at least one partition."""
    n = max(1, min(len(files), ceiling, -(-rows // PAGE_LEN)))
    return [
        files[i * len(files) // n:(i + 1) * len(files) // n]
        for i in range(n)
    ]


def _task_ceiling(spark) -> int:
    """The most tasks one `_read` scan plans, and the most non-empty
    partitions a `Series.write(DataFrame)` input may bring and still be
    written in its own layout: 2 × defaultParallelism, or
    ``spark.sql.shuffle.partitions`` under Spark Connect (no
    `sparkContext`)."""
    try:
        return 2 * max(spark.sparkContext.defaultParallelism, 1)
    except Exception:  # noqa: BLE001 — Connect: no sparkContext
        return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _arrow_mask_expr(plan):
    """Rebuild a `sexpr.to_filter_plan` plan as a pyarrow.compute
    Expression — executor-side inside `segscan.scan` (so a user mask
    participates in row-group pruning AND exact filtering), and
    driver-side by `_compile_mask` to VALIDATE the plan against an
    empty cast table before pushing it into the scan."""
    import pyarrow.compute as pc

    kind = plan[0]
    if kind == "lit":
        return plan[1]
    if kind == "field":
        return pc.field(plan[1])
    if kind == "cmp":
        _, op, a, b = plan
        a, b = _arrow_mask_expr(a), _arrow_mask_expr(b)
        if op == "<":
            return a < b
        if op == "<=":
            return a <= b
        if op == "=":
            return a == b
        if op == "!=":
            return a != b
        if op == ">=":
            return a >= b
        return a > b
    if kind in ("and", "or"):
        out = None
        for item in plan[1]:
            e = _arrow_mask_expr(item)
            out = e if out is None else (out & e if kind == "and" else out | e)
        return out
    if kind == "not":
        return ~_arrow_mask_expr(plan[1])
    if kind == "in":
        return _arrow_mask_expr(plan[1]).isin(plan[2])
    if kind == "isnull":
        return _arrow_mask_expr(plan[1]).is_null()
    raise ValueError(f"unknown mask plan node {plan!r}")


def _physical_plan_str(df) -> str:
    """Physical plan text for heuristics (e.g. "does this input carry
    an Exchange?"). Classic sessions read it off the py4j
    queryExecution handle (no extra round trip); Spark Connect has no
    `_jdf`, so fall back to capturing `df.explain()` — one extra
    AnalyzePlan RPC, same physical-plan text (NOTES.md "Spark Connect
    compatibility matrix")."""
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # noqa: BLE001 — Connect session
        import contextlib
        import io as _io

        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return buf.getvalue()


def arrow_input(data):
    """An in-memory write input as an arrow table, uncast: a pandas
    frame (its index dropped), a dict of columns (NumPy arrays, lists
    or pandas series) or a list of row dicts. `segwriter.conform` casts
    it; nothing here decides a type."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    if isinstance(data, pd.DataFrame):
        # nthreads=1 below 100k rows: from_pandas otherwise spins up a
        # fresh thread pool per call (~1.5 ms), which dominates the
        # conversion itself on small append chunks
        return pa.Table.from_pandas(
            data,
            preserve_index=False,
            nthreads=1 if len(data) < 100_000 else None,
        )
    if isinstance(data, dict):
        cols = {}
        for name, v in data.items():
            if (
                isinstance(v, np.ndarray)
                and v.dtype.kind == "M"
                and np.datetime_data(v.dtype)[0] not in ("s", "ms", "us", "ns")
            ):
                v = v.astype("M8[s]")  # arrow has no minute/hour/... unit
            cols[name] = v
        return pa.table(cols)
    if isinstance(data, list):
        return pa.Table.from_pylist(data)
    raise TypeError(
        "write() takes a Spark or pandas DataFrame, a dict of columns or "
        f"a list of row dicts, not {type(data).__name__}"
    )


class Series:
    def __init__(self, collection, label: str):
        self.collection = collection
        self.label = label
        self.schema = collection.schema

    @property
    def spark(self):
        return self.collection.spark

    # ------------------------------------------------------------------ io

    def _idx_struct(self):
        return F.struct(*[F.col(c) for c in self.schema.idx])

    def _local_table(self, data, validate_sorted: bool = False):
        """A dict, pandas or row-list input as a sorted arrow table in
        the schema's arrow types: `arrow_input`, then the one cast
        (`segwriter.conform`), then a stable sort unless
        `segwriter.descents` finds none."""
        tbl = arrow_input(data)
        if not len(tbl):
            return self.schema.pyarrow_schema().empty_table()
        tbl = segwriter.conform(tbl, self.schema)
        if segwriter.descents(tbl, self.schema.idx):
            if validate_sorted:
                raise ValueError("frame is not sorted by index columns")
            # skip-sort: appends are usually presorted. sort_by is
            # stable, so equal keys keep their input order.
            tbl = tbl.sort_by([(c, "ascending") for c in self.schema.idx])
        return tbl

    # --------------------------------------------------------------- write

    def write(
        self,
        data,
        start=None,
        stop=None,
        closed: str = "b",
        validate_sorted: bool = False,
        checkpoint: bool | None = None,
        root: bool = False,
    ):
        """Write a frame as one content-addressed segment + one revision.
        ``root=True`` commits as a NEW ROOT, discarding the current state
        (reference `Series.write(root=True)` reset semantics; old history
        stays reachable as a branch until trimmed).

        ``start``/``stop`` may widen the interval beyond the data's own
        min/max — the widened range *deletes* pre-existing rows it shadows
        (`tests/series_test.py:251-371` semantics). Empty data + explicit
        bounds = range delete.

        A dict, pandas or row-list input is cast (`segwriter.conform`),
        sorted and encoded in this process, with no Spark job; a null
        index value or a value that cannot take its column's type raises
        before anything is staged. A Spark DataFrame is cast with
        ``Schema.cast`` and written in one Spark job when it is
        already sorted by the index: the encode tasks check the row
        order as they encode (see `_stage_df`). An input that is not
        sorted is read again by ``df.sort`` and a second encode job;
        ``validate_sorted=True`` raises a ValueError instead ("not
        sorted" inside a partition, "partition boundary" across two).
        ``checkpoint`` controls whether the input is materialized by the
        first job that reads it, via ``localCheckpoint(eager=False)``;
        default (None) auto-enables it when the input is a DataFrame
        whose plan contains a shuffle, so a fall-back to the sort does
        not repeat that shuffle (measured faster on sorted and unsorted
        shuffle-bearing inputs alike, NOTES.md "Sortedness checked
        inside the encode task"). Pass False to force recompute (cheap
        scans), True to force (expensive narrow transforms the heuristic
        can't see).
        """
        if isinstance(data, DataFrame):
            df = self.schema.cast(data)
            if checkpoint is None:
                checkpoint = "Exchange" in _physical_plan_str(df)
            if checkpoint:
                df = df.localCheckpoint(eager=False)
            pages = self._stage_df(df, validate_sorted)
        else:
            # in-memory input: cast, sorted and encoded right here, with
            # no Spark job (the bytes are already in this process)
            pages = segwriter.encode(
                self._local_table(data, validate_sorted), self.schema
            )
        start_closed, stop_closed = CLOSED[closed]
        start = self.schema.coerce_bound(start)
        stop = self.schema.coerce_bound(stop)
        if pages.n == 0:
            if start is None or stop is None:
                return None  # nothing to do
            return self._commit_segment(
                Segment(
                    label=self.label,
                    start=start,
                    stop=stop,
                    start_closed=start_closed,
                    stop_closed=stop_closed,
                    path=None,
                    length=0,
                ),
                root=root,
            )
        lo, hi = pages.lo, pages.hi
        fs = self.collection.fs
        try:
            # explicit bounds may only widen (reference asserts
            # containment, `lakota/series.py:117-121`): narrower bounds
            # would silently hide rows of the new segment at read time
            # while length=n still counts them
            if (start is not None and len(start) != len(lo)) or (
                stop is not None and len(stop) != len(hi)
            ):
                raise ValueError("write bounds must cover every index column")
            if start is not None and (
                tuple(start) > lo or (tuple(start) == lo and not start_closed)
            ):
                raise ValueError(
                    f"start bound {start!r} excludes data rows "
                    f"(min index {lo!r})"
                )
            if stop is not None and (
                tuple(stop) < hi or (tuple(stop) == hi and not stop_closed)
            ):
                raise ValueError(
                    f"stop bound {stop!r} excludes data rows "
                    f"(max index {hi!r})"
                )
        except ValueError:
            segwriter.discard(fs, pages.tmp_rel)
            raise
        path, digest = segwriter.publish(
            fs, self.collection.seg_prefix, pages
        )
        meta = {"digest": digest}
        if pages.zmap:
            # value-column zone map: consulted by frame()/df() masked
            # reads to skip whole segments (zonemap.prune)
            meta["zmap"] = pages.zmap
        return self._commit_segment(
            Segment(
                label=self.label,
                start=start if start is not None else lo,
                stop=stop if stop is not None else hi,
                start_closed=start_closed if start is not None else True,
                stop_closed=stop_closed if stop is not None else True,
                path=path,
                length=pages.n,
                meta=meta,
            ),
            root=root,
        )

    def _stage_df(self, df: DataFrame, validate_sorted: bool = False):
        """Encode a cast DataFrame into one staged segment on the
        executors: one `segwriter.encode` per partition inside a single
        `mapInArrow` job; only digests, bounds and zone maps come back
        to the driver (which then `segwriter.publish`es). Partition ``p``
        writes ``part-<p:05d>-<page:05d>.parquet`` into one shared
        ``_tmp-`` dir, so the sorted file order (`segscan`) is the
        row order and the Merkle order. Where executors cannot open the
        store (``arrow_readable`` False: HTTP, memory, cache-wrapped),
        the tasks return their pages and the driver publishes the same
        bytes through the FS verbs.

        ALREADY-SORTED input — the common append-ingest shape — is
        written in its own partition layout, with no sort and no
        separate check: each task checks its partition's row order
        before encoding (`segwriter.partition_task`), and the driver
        checks the partition edges in partition order
        (`segwriter.sort_violation`). So the rows checked are the rows
        written, in one job. If either check fails, the staged dir is
        discarded and the input goes through ``df.sort`` and a second
        encode job; ``validate_sorted=True`` raises the check's
        ValueError instead. Confetti inputs (a 526-slice createDataFrame
        measured 526 tiny files) go through ``df.sort`` too, whose range
        exchange is the compaction: the encode job itself applies the
        gate, since counting partitions up front ran Spark jobs on an
        uncheckpointed range-exchanged input. A non-empty partition at
        index `_task_ceiling` or later is checked but not encoded, and
        the driver then discards the staged pages and sorts.

        The layout — hence the address — is deterministic for a given
        input partitioning on both paths (the sort's range boundaries
        come from Spark's seeded reservoir sampler). A one-partition
        sorted input addresses exactly like a driver-local write."""
        parts, tmp_rel = self._encode_partitions(
            df, _task_ceiling(df.sparkSession)
        )
        why = segwriter.sort_violation(parts)
        if why is None and all(p.names for p in parts):
            return segwriter.combine(parts, tmp_rel)
        segwriter.discard(self.collection.fs, tmp_rel)
        if why is not None and validate_sorted:
            raise ValueError(why)
        parts, tmp_rel = self._encode_partitions(df.sort(*self.schema.idx))
        return segwriter.combine(parts, tmp_rel)

    def _encode_partitions(self, df: DataFrame, max_parts: int | None = None):
        """Run `segwriter.partition_task` over ``df`` in one job: the
        per-partition results in partition order (None: not sorted) and
        the ``_tmp-`` dir they were staged into (None: not staged).
        Partitions from index ``max_parts`` on are checked, not
        encoded."""
        import pickle

        fs = self.collection.fs
        uri = tmp_rel = None
        if getattr(fs, "arrow_readable", False):
            uri = fs.uri
            tmp_rel = segwriter.new_staging_rel(self.collection.seg_prefix)
        try:
            rows = df.mapInArrow(
                segwriter.partition_task(self.schema, uri, tmp_rel, max_parts),
                "pid int, pages binary",
            ).collect()
        except Exception:
            # a failed task (a null index value, say) leaves the pages of
            # the tasks that ran before it staged: drop them
            segwriter.discard(fs, tmp_rel)
            raise
        rows.sort(key=lambda r: r["pid"])
        parts = [
            None if r["pages"] is None else pickle.loads(r["pages"])
            for r in rows
        ]
        return parts, tmp_rel

    def _commit_segment(self, seg: Segment, root: bool = False):
        return self.collection.apply_segments([seg], root=root)

    # ---------------------------------------------------------------- read

    def segments(self, start=None, stop=None, before=None, closed: str = "b"):
        """Pruned segment list (reference `Series.segments`,
        `lakota/series.py:36-54`)."""
        start = self.schema.coerce_bound(start)
        stop = self.schema.coerce_bound(stop)
        start_closed, stop_closed = CLOSED[closed]
        snap = self.collection.snapshot(before=before)
        return snap.for_label(
            self.label, start, stop, start_closed, stop_closed
        )

    def frame(
        self,
        start=None,
        stop=None,
        before=None,
        closed: str = "b",
        select: list[str] | None = None,
        limit: int | None = None,
        offset: int | None = None,
        sort: bool = True,
        mask: str | None = None,
    ) -> DataFrame:
        """``mask=`` takes an s-expr predicate (``"(< self.value 28)"``,
        reference `lakota/frame.py:157-169`) applied INSIDE the read: its
        pushable subset compiles to a pyarrow filter inside the segment
        scan (row-group pruning + exact arrow-side filter — VERDICT r9
        #3: a filter written ON TOP of the mapInArrow relation can never
        be pushed, so hand it to ``mask=`` instead). Masks outside the
        pushable subset filter the scan's output; KV series with
        overlapping segments apply the mask AFTER last-writer-wins dedup
        (filtering first could resurrect shadowed rows).

        Rows come from ONE `mapInArrow` relation over the pruned
        segments (`_read`): ``spark.range`` with one id per planned
        chunk, each task scanning its chunk from the closure. Segments
        are in interval order and partition order == sort order, so
        ``sort=True`` costs no Exchange or Sort. Overlapping KV is the
        one layout that shuffles (the dedup window), then sorts."""
        mask_plan, _ = self._compile_mask(mask)
        segs, kv_dedup, rng = self._pruned(
            start, stop, before, closed, mask_plan
        )
        cols = select or list(self.schema.columns)
        # Only these two branches filter with a Spark Column; building
        # it costs py4j round trips, so a pushed-down mask never does.
        from lakota_spark import sexpr

        if kv_dedup:
            df = self._read(segs, rng, kv_dedup=True)
            if mask is not None:
                df = sexpr.mask(df, mask)
            if sort:
                df = df.orderBy(*[F.col(c) for c in self.schema.idx])
        elif mask is not None and mask_plan is None:
            df = sexpr.mask(self._read(segs, rng), mask)
        else:
            df = self._read(segs, segscan.conj(rng, mask_plan), cols=cols)
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df.select(*cols)

    def _pruned(self, start, stop, before, closed: str, mask_plan):
        """Resolve and prune for a read: ``(segs, kv_dedup, rng)`` with
        ``segs`` the label's segments inside the bounds that the mask
        plan's zone maps keep, in interval order unless ``kv_dedup``;
        ``kv_dedup`` whether last-writer-wins must resolve them; ``rng``
        the query bounds as a plan."""
        from lakota_spark import zonemap

        segs = self.segments(start, stop, before, closed)
        # KV dedup is only NEEDED when two queried segments could hold
        # the same key — i.e. their intervals overlap. A pairwise-
        # disjoint queried set (the append-heavy registry shape) makes
        # last-writer-wins a per-row no-op, so the read skips the dedup
        # and reads like a non-KV series, with the commit-ordered KV
        # snapshot list re-sorted to interval order (= sort order).
        kv_dedup = self.schema.kv and not zonemap.pairwise_disjoint(
            [s for s in segs if s.path]
        )
        if self.schema.kv and not kv_dedup:
            segs = sorted(segs, key=lambda s: tuple(s.start))
        if mask_plan is not None:
            # value-column zone maps: skip whole segments the mask
            # provably cannot match. Overlapping KV goes through the
            # shadowing-aware variant: only segments that shadow NOTHING
            # may drop — dropping a masked-out newer segment would
            # otherwise resurrect the older rows it shadows (the mask
            # applies after last-writer-wins). Disjoint KV shadows
            # nothing, so the plain pruner is safe and maximal.
            segs = (
                zonemap.prune_kv(segs, mask_plan)
                if kv_dedup
                else zonemap.prune(segs, mask_plan)
            )
        rng = segscan.range_plan(
            self.schema,
            self.schema.coerce_bound(start),
            self.schema.coerce_bound(stop),
            *CLOSED[closed],
        )
        return segs, kv_dedup, rng

    def _compile_mask(self, mask: str | None):
        """Compile ``mask`` to a pyarrow filter plan for the segment
        scan: `sexpr.to_filter_plan` handles the pushable subset,
        literals compared to timestamp index/value columns coerce to
        UTC datetimes (matching the post-cast arrow schema), and the
        plan is VALIDATED driver-side against an empty cast table so a
        type the executors would choke on is applied as a Spark filter
        on the scan's output instead of failing mid-job. Returns
        (plan, fields) or (None, None) when the mask is absent or not
        pushable."""
        if mask is None:
            return None, None
        from lakota_spark import sexpr as _sexpr

        compiled = _sexpr.to_filter_plan(mask)
        if compiled is None:
            return None, None
        plan, fields = compiled
        if any(c not in self.schema.columns for c in fields):
            return None, None
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import TimestampType

        ts_cols = {
            f.name
            for f in self.schema.struct_type().fields
            if isinstance(f.dataType, TimestampType)
        }

        def coerce(node):
            kind = node[0]
            if kind == "cmp":
                _, op, a, b = node
                if a[0] == "field" and a[1] in ts_cols and b[0] == "lit":
                    b = ("lit", self._ts_lit(b[1]))
                elif b[0] == "field" and b[1] in ts_cols and a[0] == "lit":
                    a = ("lit", self._ts_lit(a[1]))
                return ("cmp", op, a, b)
            if kind in ("and", "or"):
                return (kind, [coerce(x) for x in node[1]])
            if kind == "not":
                return ("not", coerce(node[1]))
            if kind == "in" and node[1][0] == "field" and node[1][1] in ts_cols:
                return (
                    "in",
                    node[1],
                    [self._ts_lit(v) for v in node[2]],
                )
            return node

        try:
            plan = coerce(plan)
            # Spark totals-orders doubles with NaN greatest; Arrow
            # follows IEEE (NaN fails every comparison). Rewrite float
            # comparisons so the arrow evaluation — and the zone-map
            # pruning that consumes the same plan — matches Spark's own
            # filter on NaN rows.
            plan = _sexpr.spark_nan_semantics(
                plan,
                {
                    c
                    for c, k in self.schema.columns.items()
                    if k == "float"
                },
            )
            to_arrow_schema(self.schema.struct_type()).empty_table().filter(
                _arrow_mask_expr(plan)
            )
        except Exception:  # noqa: BLE001 — any rejection: filter on top
            return None, None
        return plan, fields

    @staticmethod
    def _ts_lit(v):
        """Timestamp literal for an arrow-side mask: strings and naive
        datetimes parse to UTC-aware datetimes, matching the scan's cast
        schema (timestamps read as tz=UTC; the session timezone is
        UTC)."""
        import pandas as pd

        out = pd.Timestamp(v).to_pydatetime()
        if out.tzinfo is None:
            out = out.replace(tzinfo=dt.timezone.utc)
        return out

    def df(
        self,
        start=None,
        stop=None,
        before=None,
        closed: str = "b",
        select: list[str] | None = None,
        limit: int | None = None,
        offset: int | None = None,
        sort: bool = True,
        mask: str | None = None,
    ):
        """pandas sink (`lakota/series.py:340-358`), read in this process
        with no Spark job: resolve, prune, then one `segscan.table` over
        the pruned segments in interval order, which is the sorted frame
        (``sort`` is accepted for `frame()` parity). Overlapping KV
        resolves last-writer-wins first and applies the mask after it.
        Timestamps come back as naive ``datetime64[ns]`` UTC wall times,
        the dtype ``frame(...).toPandas()`` yields.

        A mask outside the pushable subset is applied by Spark:
        ``frame(...).toPandas()``."""
        import pyarrow as pa

        mask_plan, _ = self._compile_mask(mask)
        if mask is not None and mask_plan is None:
            return self.frame(
                start, stop, before, closed, select, limit, offset, sort,
                mask,
            ).toPandas()
        segs, kv_dedup, rng = self._pruned(
            start, stop, before, closed, mask_plan
        )
        cols = select or list(self.schema.columns)
        if kv_dedup:
            tbl = segscan.table(self, segs, rng, seq=True)
            if mask_plan is not None:
                tbl = tbl.filter(_arrow_mask_expr(mask_plan))
        else:
            tbl = segscan.table(
                self, segs, segscan.conj(rng, mask_plan), cols=cols
            )
        tbl = tbl.slice(offset or 0, limit).select(cols)
        return tbl.cast(pa.schema([
            (f.name, pa.timestamp("ns"))
            if pa.types.is_timestamp(f.type) else f
            for f in tbl.schema
        ])).to_pandas()

    def _read(
        self, segs: list[Segment], plan=None, kv_dedup=False, cols=None
    ) -> DataFrame:
        """Rows of ``segs`` passing ``plan`` as a `mapInArrow` relation
        over the `segscan` chunks, one partition per chunk in segment
        order: partition order == sort order, no Exchange. ``cols``
        narrows the read (default: every column). ``kv_dedup``: every
        row carries `segscan.SEQ` and last-writer-wins resolves
        overlapping segments (one shuffle; row order lost).

        The relation is ``spark.range(0, n, 1, n)``: partition ``i``
        holds only ``id = i``, and its task scans ``chunks[i]``. The
        planned chunks travel inside the `mapInArrow` closure, so the
        plan is Range + MapInArrow on classic and Spark Connect
        sessions alike: JVM rows in, no Python RDD to convert, and no
        Exchange (about one writer page of rows per task, at most
        `_task_ceiling` tasks)."""
        schema = self.schema.struct_type()
        struct = segscan.read_struct(schema, kv_dedup, cols)
        spark = self.spark
        chunks = segscan.partitions(
            self, segs, plan, _task_ceiling(spark), kv_dedup
        )

        def read(batches):
            for batch in batches:
                for i in batch.column("id").to_pylist():
                    yield from segscan.scan(chunks[i], struct, schema)

        n = len(chunks)
        df = spark.range(0, n, 1, n).mapInArrow(read, struct)
        return self._kv_dedup(df) if kv_dedup else df

    def _kv_dedup(self, df: DataFrame) -> DataFrame:
        """Last-writer-wins by key: later commits (higher seq) shadow
        earlier rows of the same key (`lakota/series.py:449-475`)."""
        w = Window.partitionBy(
            *[F.col(c) for c in self.schema.idx]
        ).orderBy(F.col(segscan.SEQ).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    # ------------------------------------------------------------- extras

    def tail(
        self,
        length: int,
        start=None,
        stop=None,
        before=None,
        closed: str = "b",
        limit: int | None = None,
        offset: int | None = None,
        select: list[str] | None = None,
    ) -> DataFrame:
        """Last N rows (`lakota/series.py:261-312`): prune to the trailing
        segments whose lengths cover N (metadata), then TakeOrdered.
        ``start``/``stop`` pre-filter the range the tail draws from;
        ``limit``/``offset`` slice the resulting tail frame from its
        start (reference `tests/series_test.py:715-717`); ``select``
        projects columns.

        ``seg.length`` is the PHYSICAL row count — an upper bound on the
        effective rows once overlays/deletes narrowed a segment's bounds
        (the reference counts materialized frames per segment). The
        optimistic prune is therefore verified with a cheap count on the
        pruned set; if it came up short, the kept suffix is widened
        (doubling) until ``length`` rows are covered or every segment is
        in — at most O(log S) extra metadata passes, data read stays
        bounded by the suffix actually needed."""
        if start is not None or stop is not None:
            # pre-filtered tail: draw from the range-filtered read (the
            # reference walks the same filtered segment list)
            df = self.frame(
                start=start, stop=stop, before=before, closed=closed,
                sort=False,
            )
        else:
            snap = self.collection.snapshot(before=before)
            segs = snap.for_label(self.label)
            kv_dedup = self.schema.kv
            if kv_dedup:
                from lakota_spark import zonemap

                if zonemap.pairwise_disjoint(
                    [s for s in segs if s.path]
                ):
                    # disjoint KV (round 13): dedup is a no-op, so the
                    # non-KV trailing-segment metadata prune applies —
                    # after re-sorting the commit-ordered snapshot list
                    # to interval order (the tail = the last intervals)
                    segs = sorted(segs, key=lambda s: tuple(s.start))
                    kv_dedup = False
            k = 0
            total = 0
            for seg in reversed(segs):
                k += 1
                total += seg.length
                if total >= length and not kv_dedup:
                    break
            if kv_dedup:
                k = len(segs)  # overlapping KV needs every segment for
                # last-writer-wins
            while True:
                df = self._read(segs[len(segs) - k :], kv_dedup=kv_dedup)
                if k >= len(segs):
                    break
                if df.limit(length).count() >= length:
                    break
                k = min(len(segs), max(k * 2, k + 1))
        idx_desc = [F.col(c).desc() for c in self.schema.idx]
        tail = df.orderBy(*idx_desc).limit(length)
        out = tail.orderBy(*[F.col(c) for c in self.schema.idx])
        if (limit, offset) != (None, None):
            # reference slice semantics: rows [offset, offset+limit) of
            # the tail frame; offset without limit yields nothing
            off = offset or 0
            if off:
                out = out.offset(off)
            out = out.limit(limit or 0)
        return out.select(*(select or list(self.schema.columns)))

    def paginate(self, step: int, **frame_kwargs):
        """Pull-based chunk stream (`lakota/series.py:237-259`): yields
        DataFrames of ``step`` rows in index order.

        One sort + one global-index pass (see operators/index.py), then
        each page is a cheap range filter over the persisted indexed data
        — not a re-sort per page (the limit/offset formulation is
        O(pages × sort))."""
        from lakota_spark.operators.index import (
            release_index,
            with_global_index,
        )

        if step <= 0:
            raise ValueError("step must be positive")
        frame_kwargs.setdefault("sort", False)
        # ordering needs the index columns — apply any projection per page
        select = frame_kwargs.pop("select", None) or list(self.schema.columns)
        base = self.frame(**frame_kwargs)
        indexed = with_global_index(base, list(self.schema.idx))
        try:
            total = indexed.count()
            for offset in range(0, total, step):
                yield (
                    indexed.where(
                        (F.col("_rn") >= offset)
                        & (F.col("_rn") < offset + step)
                    )
                    .orderBy("_rn")
                    .select(*select)
                )
        finally:
            release_index(indexed)

    def update(self, data, start=None, stop=None):
        """Partial column update aligned on index, zero-filling untouched
        columns on extensions (`lakota/series.py:159-190`, F8)."""
        from lakota_spark.operators.kv import update_zerofill

        # lenient coercion: an update frame carries the index plus a SUBSET
        # of value columns — cast only what is present
        if not isinstance(data, DataFrame):
            import pandas as pd

            data = self.spark.createDataFrame(pd.DataFrame(dict(data)))
        types = self.schema.struct_type()
        upd = data.select(
            *[
                F.col(c).cast(types[c].dataType).alias(c)
                for c in data.columns
                if c in self.schema.columns
            ]
        )
        missing_idx = [c for c in self.schema.idx if c not in upd.columns]
        if missing_idx:
            raise ValueError(f"update frame missing index columns {missing_idx}")
        update_cols = [c for c in self.schema.values if c in upd.columns]
        stats = upd.agg(
            F.min(self._idx_struct()).alias("lo"),
            F.max(self._idx_struct()).alias("hi"),
        ).collect()[0]
        lo, hi = tuple(stats["lo"]), tuple(stats["hi"])
        # sort=False: update_zerofill joins on the index and write()
        # range-partitions + sorts anyway — row order here is irrelevant
        base = self.frame(start=lo, stop=hi, sort=False)
        upd_proj = upd.select(*self.schema.idx, *update_cols)
        merged = update_zerofill(
            base, upd_proj, keys=list(self.schema.idx), update_cols=update_cols
        )
        return self.write(merged.select(*self.schema.columns))

    def delete(self, start, stop, closed: str = "b", root: bool = False):
        """Range delete = empty overlay (`lakota/series.py:227-229`);
        ``root=True`` commits the tombstone as a new root (total reset)."""
        start = self.schema.coerce_bound(start)
        stop = self.schema.coerce_bound(stop)
        sc, ec = CLOSED[closed]
        return self._commit_segment(
            Segment(
                label=self.label,
                start=start,
                stop=stop,
                start_closed=sc,
                stop_closed=ec,
                path=None,
                length=0,
            ),
            root=root,
        )

    def records(self, map_dtype: str | None = "default", **frame_kwargs):
        """Row-dict iterator (`Frame.records`, `lakota/frame.py:261-269`).
        Streams via toLocalIterator — never materializes the series on the
        driver.

        ``map_dtype`` mirrors the reference's styles
        (`lakota/schema.py:25-38`): ``"default"`` yields native
        datetime/date objects (Spark's natural row types), ``"epoch"``
        converts timestamp→epoch seconds and date→epoch-day seconds,
        ``None`` leaves values untouched.
        """
        import datetime as dtm

        def to_epoch(v):
            if isinstance(v, dtm.datetime):
                return int(v.replace(tzinfo=dtm.timezone.utc).timestamp())
            if isinstance(v, dtm.date):
                return (v - dtm.date(1970, 1, 1)).days * 86400
            return v

        for row in self.frame(**frame_kwargs).toLocalIterator():
            rec = row.asDict()
            if map_dtype == "epoch":
                rec = {k: to_epoch(v) for k, v in rec.items()}
            yield rec

    def period(self) -> float | None:
        """Average tick period in seconds, metadata + two-row read
        (`Series.period`, `lakota/series.py:56-65`) — used to pick
        partition granularity, not a query op."""
        segs = self.collection.snapshot().for_label(self.label)
        total = sum(s.length for s in segs)
        if total < 2 or not segs:
            return None
        lo, hi = segs[0].start[0], segs[-1].stop[0]
        import datetime as dt

        if isinstance(lo, dt.datetime):
            span = (hi - lo).total_seconds()
        elif isinstance(lo, dt.date):
            span = (hi - lo).days * 86400.0
        elif isinstance(lo, (int, float)):
            span = float(hi - lo)
        else:
            return None
        return span / max(total - 1, 1)

    def interval(self, target_rows: int = PAGE_LEN) -> float | None:
        """Suggested bucket width (seconds) holding ~target_rows rows
        (`Series.interval`, `lakota/series.py:67-80`)."""
        p = self.period()
        return None if p is None else p * target_rows

    def interval_unit(self, target_rows: int = PAGE_LEN) -> str | None:
        """Smallest natural time partition ('m'/'h'/'D'/'W'/'M'/'Y', None
        when even a year is too small) fitting ~target_rows rows — the
        reference's `Interval.bisect` (`lakota/utils.py:289-304`), usable
        directly as a `floor`/`paginate` unit."""
        secs = self.interval(target_rows)
        if secs is None:
            return None
        units = [("m", 60), ("h", 3600), ("D", 86_400), ("W", 604_800),
                 ("M", 2_592_000), ("Y", 31_536_000)]
        for label, dur in units:
            if secs < dur:
                return label
        return None

    def __len__(self) -> int:
        """Spark count over effective bounds (exact under overlays); the
        scan decodes only the leading index column."""
        return self.frame(sort=False, select=self.schema.idx[:1]).count()

    def __getitem__(self, key) -> "SeriesSlice":
        """Quickstart slice syntax (`lakota/__init__.py` front page):
        ``series[:'2020-01-03'].df()`` — bounds are closed on both ends
        like the reference's default."""
        if not isinstance(key, slice):
            raise TypeError("Series supports slice indexing only")
        if key.step is not None:
            raise ValueError("Series slices take no step")
        return SeriesSlice(self, key.start, key.stop)

    def __bool__(self) -> bool:
        """True when the series has any committed segment — metadata only,
        no Spark job (`tests/series_test.py:721-724`: `bool(clc / label)`
        is False for an unknown label)."""
        return self.meta_len() > 0

    def meta_len(self) -> int:
        """O(1) metadata count — exact when no overlay truncation occurred
        (`lakota/series.py:231-232`)."""
        return self.collection.snapshot().length(self.label)


class SeriesSlice:
    """A range-bound view of a series: every read method forwards with
    the slice's start/stop pre-applied (reference quickstart
    ``series[:'2020-01-03'].df()``)."""

    def __init__(self, series: Series, start, stop):
        self.series = series
        self.start = start
        self.stop = stop

    def frame(self, **kwargs) -> DataFrame:
        return self.series.frame(start=self.start, stop=self.stop, **kwargs)

    def df(self, **kwargs):
        return self.series.df(start=self.start, stop=self.stop, **kwargs)

    def __len__(self) -> int:
        idx = self.series.schema.idx[:1]
        return self.frame(sort=False, select=idx).count()


class KVSeries(Series):
    """Upsert-on-index series (`lakota/series.py:449-503`). The collection
    schema's ``kv`` flag drives behavior; this subclass only adds the
    key-delete helper."""

    def delete_keys(self, keys_df) -> None:
        """Delete specific keys by overlaying tombstones: rewrite the
        complement of the keys within their span
        (`lakota/series.py:477-503`)."""
        keys = self._coerce_keys(keys_df)
        current = self.frame()
        remaining = current.join(
            keys, on=list(self.schema.idx), how="left_anti"
        )
        self._rewrite_full_span(remaining)

    def compact(self) -> None:
        """Rewrite the RESOLVED rows as one full-span segment that
        shadows all history (round 13) — the one-call path from an
        overlapping KV layout to the pairwise-disjoint shape every fast
        read needs: after compact(), frame()/df()/tail() skip the dedup
        window, and `spark.read.format("lakota")` serves the table
        (its scan-time refusal names this as the remedy). History stays
        time-travellable (`before=` the compaction sees the old
        layout); defrag cannot do this — it must SKIP order-entangled
        runs (see `Collection.defrag`), while a full-span resolved
        rewrite is the one layout change for which a single fresh seq
        is always sound."""
        self._rewrite_full_span(self.frame())

    def _rewrite_full_span(self, df: DataFrame) -> None:
        """Commit ``df`` as ONE segment spanning the label's whole
        interval, shadowing every older segment (the shared tail of
        `delete_keys` / `compact`).

        Span bounds come from segment METADATA (no full-frame Spark
        job): the union of segment intervals covers every live row by
        definition, and the overlay may only be wider than the data.
        The leaf is captured for optimistic commit — a racing write
        forks rather than vanishing from the rewritten head."""
        leaf, snap = self.collection.leaf_and_snapshot()
        segs = snap.for_label(self.label)
        if not segs:
            return
        lo = min(tuple(s.start) for s in segs)
        hi = max(tuple(s.stop) for s in segs)
        seq = snap.max_seq + 1
        pages = self._stage_df(df)
        if pages.n == 0:
            self._commit_segment(
                Segment(self.label, lo, hi, True, True, None, 0)
            )
            return
        path, digest = segwriter.publish(
            self.collection.fs, self.collection.seg_prefix, pages
        )
        seg = Segment(
            self.label, lo, hi, True, True, path, pages.n, seq,
            {"digest": digest},
        )
        # force non-KV overlay so older key versions are shadowed; the
        # KV table holds OVERLAPPING segments, so the windowed fast path
        # must widen to the whole label block
        new_snap = snap.overlay(seg, kv=False, overlapping=True)
        self.collection.commit_snapshot(
            new_snap, parents=[leaf.child] if leaf else None
        )

    def _coerce_keys(self, keys) -> DataFrame:
        if isinstance(keys, DataFrame):
            return keys.select(*self.schema.idx)
        import pandas as pd

        pdf = pd.DataFrame(keys)
        return self.spark.createDataFrame(
            pdf, schema=self.schema.index_struct_type()
        ).select(*self.schema.idx)

