"""The one segment writer: every write path (driver-local dict/pandas
appends, `Series.write(DataFrame)` tasks, the ``lakota`` data source,
defrag and KV rewrites) turns a sorted arrow table into content-addressed
parquet pages here.

`encode` slices the table with ONE page rule, encodes each page with ONE
per-column encoding table, names each page by the sha1 of the bytes it
produced, and reports ``n``, ``lo``/``hi`` (ONE bound normaliser) and the
value-column zone map. Callers only differ in WHERE the bytes go:

* driver-local writes keep the pages in memory and `publish` stages them
  through the FS verbs (every backend: file, memory, HTTP);
* executor tasks `stage` them straight into a ``_tmp-`` dir on a
  pyarrow-readable store, and only digests/bounds/zone maps travel back
  to the driver, which `publish`es by moving the staged dir — or, where
  executors cannot open the store, the tasks return the pages and the
  driver publishes them like a local write.

The bytes are identical on every path, so the same rows get the same
content address (`segments/<sha1[:20]>`, reference `lakota/series.py:
140-157` + `lakota/utils.py:122-133`) wherever they were encoded.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import io
import posixpath
import uuid
from dataclasses import dataclass

PAGE_LEN = 500_000  # target rows per page (`lakota/utils.py:38`)


@dataclass
class Pages:
    """One segment's encoded pages, in Merkle (= sorted row) order.
    ``blobs`` holds the bytes until they are staged; ``tmp_rel`` names
    the ``_tmp-`` dir they were staged into (None: not staged yet)."""

    names: list
    digests: list
    blobs: list | None
    n: int
    lo: tuple | None
    hi: tuple | None
    zmap: dict | None
    tmp_rel: str | None = None


def conform(table, schema):
    """Cast an arrow table to the schema's arrow types, in schema column
    order, as ONE chunk per column: the parquet writer cuts pages at
    batch boundaries too, so the same rows must arrive in the same
    layout on every path. This is the one cast of arrow data: in-memory
    writes, executor tasks, the data source and defrag all run it, and
    it gives what ``Schema.cast`` gives (ANSI, session time zone UTC)
    for the input forms `_cast` accepts. Idempotent on its own output.

    Timestamps are floored to the second (the reference's M8[s] write
    cast). A NaN in a non-index float column becomes null, as the
    reference's numpy masks treat it (no comparison matches), so every
    write path stores one value and one address. Index columns keep
    NaN: it has a place in the sort order (`descents`, ``df.sort``),
    null another. A null index value raises a ValueError naming the
    column: the changelog cannot order a segment bound holding one."""
    import pyarrow as pa
    import pyarrow.compute as pc

    target = schema.pyarrow_schema()
    idx = set(schema.idx)
    cols = []
    for field in target:
        if field.name not in table.column_names:
            raise ValueError(f"missing column {field.name!r}")
        col = _cast(table.column(field.name).combine_chunks(), field)
        if field.name in idx:
            if col.null_count:
                raise ValueError(
                    f"index column {field.name!r} holds "
                    f"{col.null_count} null value(s)"
                )
        elif pa.types.is_floating(field.type) and pc.any(
            pc.is_nan(col)
        ).as_py():
            col = pc.if_else(pc.is_nan(col), None, col)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=target)


#: per-second factor of each arrow timestamp unit
_PER_S = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def _cast(col, field):
    """One column (a `pyarrow.Array`) cast to ``field``'s type as
    ``Schema.cast`` casts it. Text is trimmed and parsed (`_parse_iso`
    for dates and times; malformed text raises). A float NaN bound for
    a non-float column is a missing value, as pandas stores one. Ints
    and floats in a timestamp column are epoch seconds; every timestamp
    is floored to the second in its own unit, then narrowed to µs.
    Floats truncate toward zero in an int column; ints, booleans and
    dates become text in a str column. Any other pair raises a
    TypeError naming the column (NOTES.md "One cast for in-memory
    writes")."""
    import pyarrow as pa
    import pyarrow.compute as pc

    is_ = pa.types
    t, want = col.type, field.type
    if is_.is_dictionary(t):
        col = col.dictionary_decode()
        t = col.type
    if is_.is_null(t) or (t == want and not is_.is_timestamp(want)):
        return col.cast(want)
    if is_.is_string(t) or is_.is_large_string(t):
        if is_.is_string(want):
            return col.cast(want)
        col = pc.utf8_trim_whitespace(col)
        if is_.is_timestamp(want) or is_.is_date(want):
            return _parse_iso(col, want)
        return col.cast(want)
    if is_.is_floating(t) and not is_.is_floating(want):
        col = pc.if_else(pc.is_nan(col), None, col)
    if is_.is_timestamp(want):
        if is_.is_date(t):
            col, t = col.cast(pa.timestamp("s")), pa.timestamp("s")
        if is_.is_timestamp(t):
            return _floor_to(
                col.cast(pa.int64()), _PER_S[t.unit], 10**6, want
            )
        if is_.is_integer(t):
            return _floor_to(col.cast(pa.int64()), 1, 10**6, want)
        if is_.is_floating(t):  # as Spark: (long)(seconds * 1e6), floored
            micros = _to_int64(pc.multiply(col.cast(pa.float64()), 1e6), field)
            return _floor_to(micros, 10**6, 10**6, want)
    elif is_.is_date(want) and is_.is_timestamp(t):
        per_day = _PER_S[t.unit] * 86_400
        days = _floor_to(col.cast(pa.int64()), per_day, 1, pa.int64())
        return days.cast(pa.int32()).cast(want)
    elif is_.is_date(want) and is_.is_date(t):
        return col.cast(want)
    elif is_.is_integer(want):
        if is_.is_floating(t):
            return _to_int64(col, field)
        if is_.is_integer(t) or is_.is_boolean(t):
            return col.cast(want)
    elif is_.is_floating(want):
        if is_.is_integer(t) or is_.is_floating(t) or is_.is_boolean(t):
            return col.cast(want, safe=False)  # past 2**53: nearest, as Spark
    elif is_.is_string(want):
        if is_.is_integer(t) or is_.is_boolean(t) or is_.is_date(t):
            return col.cast(want)
    raise TypeError(f"column {field.name!r}: cannot write {t} as {want}")


def _to_int64(col, field):
    """Floats truncated toward zero as int64; out of range raises."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = pc.trunc(col)
    if pc.any(pc.invert(pc.less(pc.abs(col), 2.0**63))).as_py():
        raise ValueError(f"column {field.name!r}: value out of int64 range")
    return col.cast(pa.int64(), safe=False)


def _floor_to(iv, per: int, scale: int, type_):
    """``iv // per * scale`` (an int64 array, floor division) as
    ``type_``, nulls kept."""
    import pyarrow as pa

    mask = None
    if iv.null_count:
        mask = iv.is_null().to_numpy(zero_copy_only=False)
        iv = iv.fill_null(0)
    v = iv.to_numpy()
    return pa.array(v // per * scale, pa.int64(), mask=mask).cast(type_)


def _parse_iso(col, want):
    """ISO-8601 text as ``want`` (timestamp(us, UTC) or date32), as
    Spark's string cast reads it: a year, or a year and month, alone
    mean their first day; text without an offset is UTC and an offset
    (``Z``, ``+02``, ``+0200``, ``+02:00``) is applied; dropping the
    fraction floors to the second (it only ever adds to the wall time);
    a date keeps the part before ``T`` or a space."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sub = pc.replace_substring_regex
    s = sub(sub(col, r"^(\d{4})$", r"\1-01"), r"^(\d{4}-\d\d)$", r"\1-01")
    if pa.types.is_date(want):
        return sub(s, r"[T ].*$", "").cast(want)
    s = sub(s, r"^(\d{4}-\d\d-\d\d)$", r"\1T00:00")
    s = sub(s, r"(:\d\d)\.\d*", r"\1")
    zoned = pc.match_substring_regex(s, r"\d(Z|[+-]\d\d(:?\d\d)?)$")
    s = pc.if_else(zoned, s, pc.binary_join_element_wise(s, "Z", ""))
    secs = s.cast(pa.timestamp("s", tz="UTC")).cast(pa.int64())
    return _floor_to(secs, 1, 10**6, want)


def _nan_safe_stat_columns(table) -> list[str] | bool:
    """Columns safe to carry parquet min/max statistics: pyarrow SKIPS
    NaN when computing float stats, and Spark's row-group pruning
    trusts those stats — so a pushed ``f > 10`` filter would silently
    drop the NaN rows Spark's own NaN-greatest semantics keep.  Returns
    True (all) when no float column holds NaN, else the keep-list."""
    import pyarrow as pa
    import pyarrow.compute as pc

    drop = {
        name
        for name, col in zip(table.column_names, table.columns)
        if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py()
    }
    if not drop:
        return True
    return [c for c in table.column_names if c not in drop]


def _bound(table, i: int, idx) -> tuple:
    """Index tuple of row ``i`` as plain Python values; timestamps are
    UTC-naive datetimes (the changelog's bound encoding)."""
    out = []
    for c in idx:
        v = table.column(c)[i].as_py()
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        out.append(v)
    return tuple(out)


def encode(table, schema, prefix: str = "part") -> Pages:
    """Encode a SORTED table in the schema's arrow types (`conform`)
    into parquet pages named ``<prefix>-<page:05d>.parquet``."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    from lakota_spark import zonemap

    # content addresses must be a function of the data alone: drop the
    # schema metadata (from_pandas attaches a JSON blob that embeds the
    # pandas VERSION)
    if table.schema.metadata:
        table = table.replace_schema_metadata(None)
    n = len(table)
    if n == 0:
        return Pages([], [], [], 0, None, None, None)
    # Encodings: DELTA_BINARY_PACKED for the integer-backed columns
    # (int/timestamp/date — near-free on sorted index grids), dictionary
    # for strings, PLAIN for doubles (Spark's vectorized reader rejects
    # BYTE_STREAM_SPLIT). Codecs: the schema's per-column hints.
    enc = {}
    for name, alias in schema.columns.items():
        if alias in ("int", "timestamp", "date"):
            enc[name] = "DELTA_BINARY_PACKED"
        elif alias == "float":
            enc[name] = "PLAIN"
    dict_cols = [c for c, a in schema.columns.items() if a == "str"]
    compression = schema.parquet_compression()
    n_pages = -(-n // PAGE_LEN)
    page_len = PAGE_LEN
    if n_pages == 1 and n >= PAGE_LEN // 2:
        # A near-full single page is encode-latency-bound (parquet
        # encodes one file on one thread): split it into two halves the
        # pool below encodes concurrently. Deterministic, so the content
        # address stays a function of the data (NOTES.md "r12 half-page
        # split" records the one-time address change this made).
        n_pages, page_len = 2, -(-n // 2)

    def encode_page(i: int) -> bytes:
        page = table.slice(i * page_len, page_len)
        buf = io.BytesIO()
        pq.write_table(
            page,
            buf,
            compression=compression,
            use_dictionary=dict_cols,
            column_encoding=enc,
            # per PAGE: NaN-bearing float columns publish no min/max
            write_statistics=_nan_safe_stat_columns(page),
        )
        return buf.getvalue()

    if n_pages == 1:
        blobs = [encode_page(0)]
    else:  # pyarrow releases the GIL during encode/compress
        with ThreadPoolExecutor(max_workers=min(n_pages, 16)) as ex:
            blobs = list(ex.map(encode_page, range(n_pages)))
    idx = list(schema.idx)
    return Pages(
        names=[f"{prefix}-{i:05d}.parquet" for i in range(n_pages)],
        digests=[hashlib.sha1(b).hexdigest() for b in blobs],  # noqa: S324
        blobs=blobs,
        n=n,
        lo=_bound(table, 0, idx),
        hi=_bound(table, n - 1, idx),
        zmap=zonemap.compute_from_arrow(table, idx, dict(schema.columns)),
    )


def stage(pages: Pages, uri: str, tmp_rel: str) -> Pages:
    """Write the pages into ``tmp_rel`` of the pyarrow-readable store at
    ``uri`` (executor side) and drop the in-memory bytes."""
    from pyarrow import fs as pafs

    fsys, root = pafs.FileSystem.from_uri(uri)
    full = posixpath.join(root, tmp_rel)
    fsys.create_dir(full, recursive=True)
    for name, blob in zip(pages.names, pages.blobs):
        with fsys.open_output_stream(posixpath.join(full, name)) as out:
            out.write(blob)
    pages.blobs, pages.tmp_rel = None, tmp_rel
    return pages


def adjacent(table, idx):
    """``(desc, tie)``: boolean arrays over the adjacent row pairs of
    ``table`` (``len - 1`` of them, no nulls), true where row ``i+1``'s
    index tuple is below / equal to row ``i``'s in the order ``df.sort``
    on the index columns produces: lexicographic, nulls first, NaN after
    every number and equal to NaN. ``(None, None)`` below two rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(table)
    if n < 2:
        return None, None
    desc = tie = None  # row i+1 < row i; row i+1 == row i so far
    for c in idx:
        col = table.column(c)
        a, b = col.slice(0, n - 1), col.slice(1)
        lt, eq = pc.less(b, a), pc.equal(b, a)
        if pa.types.is_floating(col.type):
            an, bn = pc.is_nan(a), pc.is_nan(b)
            lt = pc.or_kleene(lt, pc.and_not_kleene(an, bn))
            eq = pc.or_kleene(eq, pc.and_kleene(an, bn))
        if col.null_count:  # comparisons with a null are null
            an, bn = pc.is_null(a), pc.is_null(b)
            lt = pc.or_(lt.fill_null(False), pc.and_not(bn, an))
            eq = pc.or_(eq.fill_null(False), pc.and_(an, bn))
        desc = lt if desc is None else pc.or_(desc, pc.and_(tie, lt))
        tie = eq if tie is None else pc.and_(tie, eq)
    return desc, tie


def descents(table, idx) -> int:
    """Adjacent row pairs of ``table`` whose index tuples DESCEND in
    `adjacent`'s order. Equal tuples are no descent. Zero iff the rows
    are already in that order."""
    import pyarrow.compute as pc

    desc, _ = adjacent(table, idx)
    return 0 if desc is None else pc.sum(desc).as_py() or 0


def partition_task(
    schema, uri: str | None, tmp_rel: str | None, max_parts: int | None = None
):
    """`mapInArrow` body for `Series._stage_df`: conform partition ``p``
    and check its row order (`descents`). An unsorted partition emits
    ``(p, null)`` and encodes nothing. A sorted one is encoded as
    ``part-<p:05d>-<page:05d>.parquet`` pages, staged into the shared
    ``tmp_rel`` (or, ``uri`` None, kept as bytes for the driver) and
    emitted as ``(p, pickled Pages)``; its ``lo``/``hi`` are its first
    and last index tuples, which is all `sort_violation` needs to check
    the partition edges. A partition at ``p >= max_parts`` is past the
    writer's layout gate, so the input will be sorted anyway: it is
    checked but not encoded, and its Pages carry no page names. Empty
    partitions emit nothing."""

    def run(batches):
        import pickle

        import pyarrow as pa
        from pyspark import TaskContext

        batches = list(batches)
        if not batches:
            return
        pid = TaskContext.get().partitionId()
        table = conform(pa.Table.from_batches(batches), schema)
        if not len(table):
            return
        payload = None
        if not descents(table, schema.idx):
            if max_parts is not None and pid >= max_parts:
                idx, n = schema.idx, len(table)
                pages = Pages([], [], None, n, _bound(table, 0, idx),
                              _bound(table, n - 1, idx), None)
            else:
                pages = encode(table, schema, prefix=f"part-{pid:05d}")
                if uri is not None:
                    stage(pages, uri, tmp_rel)
            payload = pickle.dumps(pages)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], pa.int32()), pa.array([payload], pa.binary())],
            names=["pid", "pages"],
        )

    return run


def _sort_key(bound: tuple) -> tuple:
    """``bound`` as a key in `descents`' order (nulls first, NaN last)."""
    return tuple(
        (0,) if v is None else (2,) if v != v else (1, v) for v in bound
    )


def sort_violation(parts: list) -> str | None:
    """Why `partition_task` results, in partition order (None: a
    partition with a descent), do not form one sorted segment, or None
    when they do. Equal index tuples across a partition edge pass. The
    write-path invariant of the reference (`lakota/series.py:94`)."""
    if any(p is None for p in parts):
        return "frame is not sorted by index columns"
    for prev, cur in zip(parts, parts[1:]):
        if _sort_key(cur.lo) < _sort_key(prev.hi):
            return (
                "frame is not sorted by index columns "
                f"(partition boundary {prev.hi!r} > {cur.lo!r})"
            )
    return None


def combine(parts: list, tmp_rel: str | None = None) -> Pages:
    """One segment from per-partition pages, given in partition (= sort)
    order (empty partitions emit none), staged into ``tmp_rel`` (None:
    the parts carry their bytes)."""
    from lakota_spark import zonemap

    if not parts:
        return Pages([], [], [], 0, None, None, None)
    return Pages(
        names=[nm for p in parts for nm in p.names],
        digests=[d for p in parts for d in p.digests],
        blobs=None if tmp_rel else [b for p in parts for b in p.blobs],
        n=sum(p.n for p in parts),
        lo=parts[0].lo,
        hi=parts[-1].hi,
        zmap=zonemap.merge([p.zmap for p in parts]),
        tmp_rel=tmp_rel,
    )


def new_staging_rel(seg_prefix: str) -> str:
    """A fresh ``_tmp-<hexts>-<uuid>`` dir under the segment prefix."""
    from lakota_spark.changelog import staging_name

    return f"{seg_prefix}/{staging_name(uuid.uuid4().hex)}"


def discard(fs, tmp_rel: str | None) -> None:
    """Drop a staged-but-unpublished ``_tmp-`` dir (best effort: GC ages
    out ``_tmp-`` leftovers anyway)."""
    if tmp_rel:
        try:
            fs.remove_tree(tmp_rel)
        except Exception:  # noqa: BLE001 — best effort: never mask
            pass  # the caller's own error


def publish(fs, seg_prefix: str, pages: Pages) -> tuple[str, str]:
    """Publish a segment under its Merkle content address and return
    ``(name, digest)``. An existing address short-circuits (reference
    SKIP-WRITE, `lakota/pod.py:201-204`). In-memory pages are staged
    under a hextime-stamped ``_tmp-`` dir first, then moved: GC leaves
    young ``_tmp-`` dirs alone, whereas publishing file by file into
    the final dir races a concurrent gc()'s soft-delete rename."""
    digest = fs.combine_sha1(pages.digests)
    name = digest[:20]
    final_rel = f"{seg_prefix}/{name}"
    if fs.exists(final_rel):
        discard(fs, pages.tmp_rel)
        return name, digest
    if pages.tmp_rel is None:
        pages.tmp_rel = new_staging_rel(seg_prefix)
        for nm, blob in zip(pages.names, pages.blobs):
            fs.write_bytes_atomic(f"{pages.tmp_rel}/{nm}", blob)
    try:
        fs.move(pages.tmp_rel, final_rel)
    except Exception:
        if not fs.exists(final_rel):
            raise
        discard(fs, pages.tmp_rel)  # an identical-content racer won
    return name, digest
