"""The one reader of committed segment files.

Every read of segments plans and scans here, on the executors and on
the driver alike: `Series.frame()` and `Series.tail()` (through
`Series._read`, a `mapInArrow` relation), `Series.df()` and
`Collection.defrag` (through `table`, in the calling process), and the
``lakota`` data source's batch and stream readers (`datasource.py`). The
reference reads the same way (`lakota/series.py:314-338`,
`lakota/commit.py:425-475`): prune segments by interval, decode only the
needed columns, clip rows to each segment's bounds.

* `partitions` (driver): lists each live segment's part files in the
  given order, tags each file with its run key — the clip plan of an
  overlay-narrowed segment and, for last-writer-wins reads, the
  segment's seq — and packs the list into `series.scan_chunks` chunks.
  A referenced segment dir that a concurrent gc buried in trash is
  moved back and the listing retried once.
* `scan` (executor, or the driver through `table`): reads a chunk's
  files in order, one pyarrow dataset scan per run of consecutive files
  sharing a run key, with the chunk's plan (query bounds and/or mask)
  and the run's clip pushed down for row-group pruning, then casts to
  Spark's arrow types and applies the same plan exactly. A file whose
  physical type refuses the pushed comparison retries unfiltered; the
  exact filter still clips it.
* `table` (driver): one chunk, scanned in this process, as one arrow
  table; last-writer-wins resolved when asked.

Plans are `sexpr.to_filter_plan` trees; bound plans built here carry
UTC-aware timestamp literals, matching the cast schema.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import posixpath
from typing import Iterator

#: output column carrying each row's segment seq (last-writer-wins)
SEQ = "_seg_seq"


def conj(*plans):
    """AND of the given plans, skipping None; None when all are."""
    items = [p for p in plans if p is not None]
    if len(items) > 1:
        return ("and", items)
    return items[0] if items else None


def bound_plan(schema, bound, closed: bool, is_start: bool):
    """Lexicographic prefix bound over the leading ``len(bound)`` index
    columns as a plan: ``a > v0 or (a = v0 and b >= v1)`` for a closed
    two-column start. Naive timestamp literals are UTC-localised to
    match the tz=UTC cast schema."""
    if bound is None:
        return None
    terms, eqs = [], []
    for i, (c, v) in enumerate(zip(schema.idx, bound)):
        if (
            schema.columns[c] == "timestamp"
            and isinstance(v, _dt.datetime)
            and v.tzinfo is None
        ):
            v = v.replace(tzinfo=_dt.timezone.utc)
        op = (">" if is_start else "<") + (
            "=" if closed and i == len(bound) - 1 else ""
        )
        f, lit = ("field", c), ("lit", v)
        terms.append(conj(*eqs, ("cmp", op, f, lit)))
        eqs.append(("cmp", "=", f, lit))
    return terms[0] if len(terms) == 1 else ("or", terms)


def range_plan(schema, start, stop, start_closed: bool, stop_closed: bool):
    """The query interval ``[start, stop]`` (prefix bounds, closedness
    per side) as a plan, or None when unbounded."""
    return conj(
        bound_plan(schema, start, start_closed, True),
        bound_plan(schema, stop, stop_closed, False),
    )


def _fields(plan) -> set:
    kind = plan[0]
    if kind == "field":
        return {plan[1]}
    if kind == "lit":
        return set()
    kids = [
        k
        for arg in plan[1:]
        for k in (arg if isinstance(arg, list) else [arg])
        if isinstance(k, tuple)
    ]
    return set().union(*map(_fields, kids))


def _resurrect(coll, paths: list[str]) -> None:
    """Move referenced segment dirs back out of gc trash. GC bury race
    (inherited from the reference, `lakota/repo.py:368-375`): gc lists
    segments before it scans revisions, so a segment committed in
    between is soft-deleted; the reference only re-enables it on the
    next gc pass. Dirs with no trash copy stay missing."""
    from lakota_spark.repo import TRASH_MARK

    fs, prefix = coll.fs, coll.seg_prefix
    listing = fs.ls(prefix)
    for p in paths:
        if fs.exists(f"{prefix}/{p}"):
            continue
        for name in listing:
            if name.startswith(p + TRASH_MARK):
                fs.move(f"{prefix}/{name}", f"{prefix}/{p}")
                break


def _list_files(fs, dirs: list[str]) -> list[list[str]] | None:
    """Part files per segment dir, in the listing's name order (== row
    order); None when any dir lists no parquet file (missing)."""
    out = []
    for d in dirs:
        names = [f"{d}/{n}" for n in fs.ls(d) if n.endswith(".parquet")]
        if not names:
            return None
        out.append(names)
    return out


def _backend_uri(fs, dirs: list[str]) -> str:
    """The pyarrow root executors reopen: the store itself, or the local
    read-through cache after materializing the needed dirs."""
    if getattr(fs, "arrow_readable", False):
        return fs.uri
    if hasattr(fs, "cache"):
        fs.spark_read_uris(dirs)
        return fs.cache.uri
    raise ValueError(
        "segment reads need a pyarrow-readable (or cache-backed) backend"
    )


def partitions(series, segs, plan, max_parts: int, seq: bool = False):
    """Plan a read of ``segs`` (in the given order) as a list of chunk
    dicts ``{"files": [(rel, key), ...], "uri", "plan"}`` with ``key``
    ``(clip plan or None, seq or None)``; ``seq=True`` tags every file
    with its segment's seq for `SEQ`."""
    from lakota_spark.series import scan_chunks

    coll = series.collection
    live = [s for s in segs if s.path]
    dirs = [f"{coll.seg_prefix}/{s.path}" for s in live]
    files = _list_files(coll.fs, dirs)
    if files is None:
        _resurrect(coll, [s.path for s in live])
        files = _list_files(coll.fs, dirs)
        if files is None:
            raise FileNotFoundError(
                f"segment files missing under {coll.seg_prefix} "
                "(not in gc trash either)"
            )
    uri = _backend_uri(coll.fs, dirs)
    entries = []
    for s, names in zip(live, files):
        clip = None
        if s.meta.get("clip"):
            clip = range_plan(
                series.schema, s.start, s.stop, s.start_closed, s.stop_closed
            )
        key = (clip, s.seq if seq else None)
        entries.extend((f, key) for f in names)
    rows = sum(s.length for s in live)
    return [
        {"files": chunk, "uri": uri, "plan": plan}
        for chunk in scan_chunks(entries, rows, max_parts)
    ]


def scan(meta: dict, struct, schema=None) -> Iterator:
    """Record batches of one planned chunk, shaped as ``struct`` (a
    Spark StructType; a `SEQ` field is filled from the run keys).
    ``schema`` types the extra columns a plan reads (default:
    ``struct``)."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from pyarrow import fs as pafs
    from pyspark.sql.pandas.types import to_arrow_schema

    from lakota_spark.series import _arrow_mask_expr

    if not meta["files"]:
        return
    fsys, root = pafs.FileSystem.from_uri(meta["uri"])
    types = to_arrow_schema(schema or struct)
    out = list(struct.names)
    data = [c for c in out if c != SEQ]
    for key, run in itertools.groupby(meta["files"], key=lambda e: e[1]):
        clip, seq = key
        plan = conj(meta["plan"], clip)
        expr = _arrow_mask_expr(plan) if plan is not None else None
        cols = list(dict.fromkeys([*data, *(_fields(plan) if plan else ())]))
        ds = pads.dataset(
            [posixpath.join(root, rel) for rel, _ in run],
            format="parquet",
            filesystem=fsys,
        )
        try:
            tbl = ds.to_table(columns=cols, filter=expr)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            if expr is None:
                raise
            tbl = ds.to_table(columns=cols)
        tbl = tbl.cast(pa.schema([types.field(c) for c in cols]))
        if expr is not None:
            tbl = tbl.filter(expr)
        tbl = tbl.select(data)
        if SEQ in out:
            tbl = tbl.append_column(
                SEQ, pa.array([seq] * tbl.num_rows, pa.int64())
            ).select(out)
        if tbl.num_rows:
            yield from tbl.to_batches()


def read_struct(schema, seq: bool = False, cols=None):
    """The Spark struct a read yields: ``schema``'s fields, narrowed to
    ``cols`` when given, plus `SEQ` when ``seq``."""
    from pyspark.sql.types import LongType, StructField, StructType

    fields = list(schema.fields)
    if seq:
        fields.append(StructField(SEQ, LongType()))
    if cols is not None:
        fields = [f for c in cols for f in fields if f.name == c]
    return StructType(fields)


def table(series, segs, plan=None, seq: bool = False, cols=None):
    """Rows of ``segs`` (in the given order) passing ``plan``, read in
    this process as ONE arrow table in Spark's arrow types: `partitions`
    into a single chunk, then `scan`. ``seq=True`` resolves
    last-writer-wins (`lakota/series.py:449-475`): per index key only
    the row of the highest-seq segment survives, in key order. Without
    it, ``cols`` narrows the decoded columns (default: every column)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = series.schema.struct_type()
    struct = read_struct(schema, seq, None if seq else cols)
    (chunk,) = partitions(series, segs, plan, 1, seq)
    tbl = pa.Table.from_batches(
        list(scan(chunk, struct, schema)), schema=to_arrow_schema(struct)
    )
    if seq:
        tbl = _last_writer_wins(tbl, series.schema.idx).drop_columns([SEQ])
    return tbl


def _last_writer_wins(tbl, idx):
    """The highest-`SEQ` row per index key of ``tbl``, sorted in Spark's
    order (nulls first, NaN after every number)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from lakota_spark.segwriter import adjacent

    keys, sort = {}, []
    for i, c in enumerate(idx):
        col = tbl.column(c)
        if pa.types.is_floating(col.type):
            # arrow puts NaN before numbers when nulls go first
            keys[f"n{i}"] = pc.is_nan(col)
            sort.append((f"n{i}", "ascending"))
        keys[f"k{i}"] = col
        sort.append((f"k{i}", "ascending"))
    keys[SEQ] = tbl.column(SEQ)
    sort.append((SEQ, "descending"))
    tbl = tbl.take(
        pc.sort_indices(
            pa.table(keys), sort_keys=sort, null_placement="at_start"
        )
    )
    _, tie = adjacent(tbl, idx)
    if tie is None:
        return tbl
    keep = np.ones(len(tbl), dtype=bool)
    keep[1:] = ~tie.to_numpy()
    return tbl.filter(keep)
