"""Storage-engine queries inside the correctness gate.

These ingest the `events` testdata INTO a lakota_spark repo (write path:
cast, sort, segment, commit) and answer queries through `Series.frame`
(read path: snapshot resolution, pruning, bound clipping, pushdown) — so the
DuckDB oracle checks the whole engine round-trip, not just a DataFrame
expression. The repo is built once per (sf_dir) and cached on disk.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakota_spark.repo import Repo
from lakota_spark.schema import Schema
from lakota_spark.sources import read_parquet

_CACHE: dict[str, Repo] = {}


#: bump when the demo ingest schema/layout changes — stale /tmp repos from
#: an older code version are discarded instead of breaking the gate
_LAYOUT_VERSION = "v1"


def _event_repo(spark: SparkSession, sf_dir: str) -> Repo:
    key = os.path.abspath(sf_dir)
    if key in _CACHE:
        return _CACHE[key]
    # key on source mtime+size: the driver regenerates testdata between
    # rounds; a stale repo would pass the sanity probe (same schema) but
    # serve the OLD rows and fail the oracle
    try:
        st = os.stat(os.path.join(sf_dir, "events.parquet"))
        stamp = f"{int(st.st_mtime)}-{st.st_size}"
    except OSError:
        stamp = "nosrc"
    root = os.path.join(
        tempfile.gettempdir(),
        f"lakota-spark-demo-{_LAYOUT_VERSION}-{stamp}-"
        f"{key.strip(os.sep).replace(os.sep, '_')}",
    )
    try:
        repo = Repo(root, spark)
        if "events" in repo.ls():
            # sanity-probe the cached build; rebuild on any breakage
            repo.collection("events").series("all").meta_len()
    except Exception:  # noqa: BLE001 - stale cache from an older build
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        repo = Repo(root, spark)
    schema = Schema(
        ts="timestamp*",
        event_id="int",
        user_id="int",
        event_type="str",
        value="float",
    )
    if "events" not in repo.ls():
        coll = repo.create_collection(schema, "events")
        src = read_parquet(spark, f"{sf_dir}/events.parquet").select(
            "ts", "event_id", "user_id", "event_type", "value"
        )
        # reference semantics: frames must be sorted by index; one segment
        # per write — range-partitioned + sorted by the engine
        coll.series("all").write(src.orderBy("ts"))
    else:
        coll = repo.collection("events")
    _CACHE[key] = repo
    return repo


def engine_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: ingest events into the engine, read a closed='l'
    index range back through Series.frame. NB: the engine truncates
    timestamps to SECONDS (reference M8[s] semantics) — the oracle
    truncates identically."""
    repo = _event_repo(spark, sf_dir)
    series = repo.collection("events").series("all")
    return series.frame(
        start="2024-01-10",
        stop="2024-01-20",
        closed="l",
        select=["ts", "event_id", "value"],
        sort=False,
    )


def engine_sorted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the sorted read: same range as
    `engine_range_scan` but ``sort=True``, so the interval-ordered
    mapInArrow scan (pyarrow reads on the executors, the prefix bounds
    pushed into the dataset scan and applied exactly after the cast to
    Spark's arrow schema — `Series._read` over `segscan`) carries the
    whole result. The driver's value hash is order-insensitive, so this
    entry externally validates the scan's CONTENT (pushdown, mask,
    cast); the zero-Exchange/Sort ORDER contract is pinned by
    tests/test_plans.py::test_engine_sorted_read_no_exchange."""
    repo = _event_repo(spark, sf_dir)
    series = repo.collection("events").series("all")
    return series.frame(
        start="2024-01-10",
        stop="2024-01-20",
        closed="l",
        select=["ts", "event_id", "value"],
        sort=True,
    )


def engine_sorted_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE slice through the round-9 ordered read path: the
    driver's value hash is order-insensitive, so `engine_sorted_scan`
    can only validate the mapInArrow scan's CONTENT — this entry makes
    the ORDER itself externally checkable by slicing. Events ingest
    into a collection indexed on the UNIQUE event_id, and the query
    returns rows [1000, 1500) of the sorted frame: which rows appear in
    the slice is a pure function of the global sort, so a partition-
    ordering bug in the exchange-free scan changes the result SET and
    the oracle (ORDER BY event_id LIMIT 500 OFFSET 1000) catches it."""
    repo = _event_repo(spark, sf_dir)
    label = "by_id"
    if label not in repo.ls():
        coll = repo.create_collection(
            Schema(event_id="int*", user_id="int", value="float"), label
        )
        src = read_parquet(spark, f"{sf_dir}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        coll.series("all").write(src.orderBy("event_id"))
    series = repo.collection(label).series("all")
    return series.frame(offset=1000, limit=500, sort=True)


def engine_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine tail-N (metadata-pruned backward read)."""
    repo = _event_repo(spark, sf_dir)
    series = repo.collection("events").series("all")
    return series.tail(50).select("ts", "event_id", "value")


def engine_overlay_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlay semantics under the oracle: write a patch over a sub-range
    (values doubled) into a CLONE of the ingested collection, read the
    full range back — rows inside the patch window reflect the patch,
    rows outside are untouched."""
    repo = _event_repo(spark, sf_dir)
    base = repo.collection("events")
    label = "patched"
    if label not in repo.ls():
        patched = base.clone(label)
        series = patched.series("all")
        lo, hi = "2024-01-05", "2024-01-08"
        window = series.frame(start=lo, stop=hi, closed="l", sort=False)
        patch = window.withColumn("value", F.round(F.col("value") * 2, 2))
        series.write(
            patch.orderBy("ts"), start=lo, stop=hi, closed="l"
        )
    series = repo.collection(label).series("all")
    return series.frame(
        start="2024-01-01",
        stop="2024-01-12",
        closed="l",
        select=["ts", "event_id", "value"],
        sort=False,
    )


def engine_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (P8) under the oracle: read the PATCHED collection
    from `engine_overlay_update` at ``before = <patch revision's
    epoch>`` — the pre-patch snapshot, which must equal the RAW events
    range (values un-doubled) even though the current head serves the
    patched values. The cutoff comes from the changelog itself (the
    last revision is the patch commit), so the entry is deterministic
    for any repo build time; this puts snapshot resolution's ``before=``
    chain under a driver-recorded oracle instead of tests only."""
    # ensure the patched collection exists (same lazy build)
    engine_overlay_update(spark, sf_dir)
    repo = _event_repo(spark, sf_dir)
    coll = repo.collection("patched")
    patch_epoch = coll.changelog.log()[-1].epoch
    series = coll.series("all")
    return series.frame(
        start="2024-01-01",
        stop="2024-01-12",
        closed="l",
        select=["ts", "event_id", "value"],
        before=patch_epoch,
        sort=False,
    )


def engine_defrag_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction under the oracle: ingest events as out-of-order
    WEEKLY fragments (4 segments + 4 revisions), defrag into page-sized
    segments and squash history — the compacted collection must read
    back byte-equal to the raw table. Exercises write bounds, fragment
    assembly, defrag rewrite and post-squash snapshot resolution in one
    CORRECTNESS row."""
    repo = _event_repo(spark, sf_dir)
    label = "fragmented"
    if label not in repo.ls():
        base = repo.collection("events")
        coll = repo.create_collection(base.schema, label)
        src = read_parquet(spark, f"{sf_dir}/events.parquet").select(
            "ts", "event_id", "user_id", "event_type", "value"
        )
        chunks = [
            ("2024-01-15", "2024-01-22"),
            ("2024-01-01", "2024-01-08"),   # out of order on purpose
            ("2024-01-22", "2025-01-01"),
            ("2024-01-08", "2024-01-15"),
        ]
        s = coll.series("all")
        for lo, hi in chunks:
            chunk = src.where(
                (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") < F.lit(hi).cast("timestamp"))
            )
            s.write(chunk.orderBy("ts"), start=lo, stop=hi, closed="l")
        coll.defrag()
        coll.squash()
    series = repo.collection(label).series("all")
    return series.frame(
        start="2024-01-05",
        stop="2024-01-25",
        closed="l",
        select=["ts", "event_id", "value"],
        sort=False,
    )


def engine_sql_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`Repo.register_views` / `Repo.sql` under the driver oracle
    (VERDICT r9 #2 — the round-9 feature had tests but no CORRECTNESS
    row): the whole demo repo registers as LAZY temp views and ONE plain
    Spark SQL statement joins two collections' series — the raw ingest
    (`events_all`) against its patched clone (`patched_all`) — to report
    the per-day row count, patched-row count and total uplift the
    overlay introduced. Uplift sums in integer cents (exact across
    engines); each view is an unsorted `Series.frame` plan, so pruning
    and pushdown engage inside the SQL like any native scan. The oracle
    derives both sides from the raw parquet."""
    engine_overlay_update(spark, sf_dir)  # ensure the patched clone exists
    repo = _event_repo(spark, sf_dir)
    return repo.sql(
        """
        SELECT date_trunc('DAY', e.ts) AS day,
               count(*) AS n,
               sum(CASE WHEN p.value <> e.value THEN 1 ELSE 0 END)
                 AS n_patched,
               sum(cast(round((p.value - e.value) * 100) AS BIGINT))
                 AS uplift_cents
        FROM events_all e
        JOIN patched_all p ON p.event_id = e.event_id
        WHERE e.ts >= timestamp'2024-01-01'
          AND e.ts < timestamp'2024-01-12'
        GROUP BY date_trunc('DAY', e.ts)
        """
    )


def engine_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`spark.read.format("lakota")` under the driver oracle (round 10):
    the Python Data Source surface (lakota_spark/datasource.py) serves
    the ingested events collection with FILTER PUSHDOWN — the ts range
    and event_type equality compile to the arrow-side plan
    (row-group pruning + exact filter) and the leading-index bounds
    prune whole segments before Spark schedules a single task. The
    oracle is the same predicate over the raw parquet (engine truncates
    ts to seconds)."""
    from lakota_spark.datasource import register

    repo = _event_repo(spark, sf_dir)
    register(spark)
    df = (
        spark.read.format("lakota")
        .option("path", repo.root)
        .option("table", "events/all")
        .load()
    )
    return df.where(
        (F.col("ts") >= "2024-01-10")
        & (F.col("ts") < "2024-01-20")
        & (F.col("event_type") == "click")
    ).select("ts", "event_id", "value")


def engine_mask_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`frame(mask=...)` under the driver oracle (round 10): the s-expr
    mask compiles to the arrow-side filter INSIDE the exchange-free
    segment scan (row-group pruning + exact post-cast filter — the
    VERDICT r9 #3 composition), stacked on a ts range handed to
    `frame(start/stop)`. The oracle runs the same predicate over the
    raw parquet (engine truncates ts to seconds)."""
    repo = _event_repo(spark, sf_dir)
    series = repo.collection("events").series("all")
    return series.frame(
        start="2024-01-05",
        stop="2024-01-25",
        closed="l",
        select=["ts", "event_id", "event_type", "value"],
        mask="(and (>= self.value 50) (in self.event_type"
             " (list 'click' 'view')))",
    )


def engine_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data source WRITER under the driver oracle (round 10): the
    raw events ingest AGAIN through
    ``df.write.format("lakota").mode("append")`` — per-partition
    content-addressed staged segments, one-revision commit — into a
    fresh collection (built once per repo, like every demo build), then
    read back through `Series.frame`. The oracle is the raw table, so
    the row proves the distributed write path end-to-end: partition
    disjointness, the engine write-cast (seconds truncation), bounds,
    and the commit."""
    from pyspark.sql import functions as F2

    from lakota_spark.datasource import register

    repo = _event_repo(spark, sf_dir)
    register(spark)
    label = "ds_written"
    if label not in repo.ls():
        repo.create_collection(
            Schema(
                ts="timestamp*",
                event_id="int",
                user_id="int",
                event_type="str",
                value="float",
            ),
            label,
        )
        src = read_parquet(spark, f"{sf_dir}/events.parquet").select(
            "ts", "event_id", "user_id", "event_type", "value"
        )
        (
            src.repartitionByRange(8, "ts", "event_id")
            .sortWithinPartitions("ts", "event_id")
            .write.format("lakota")
            .option("path", repo.root)
            .option("table", f"{label}/all")
            .mode("append")
            .save()
        )
    series = repo.collection(label).series("all")
    return series.frame(
        select=["ts", "event_id", "event_type", "value"], sort=False
    )


def _ds_write_by_second(df, repo, table: str, mode: str = "append"):
    """Range-partition on the TRUNCATED second alone before a data
    source write: the engine's index is second-truncated ts, and a
    multi-column range key ((ts, event_id)) can split one second
    across two partitions — a boundary tie the disjointness check
    rightly aborts (observed at sf0.1: two events in second
    2024-01-27T00:12:59 landed either side of a boundary). Range
    partitioning places EQUAL keys in one partition, so single-key
    ranges on the truncated second can never tie."""
    out = df.withColumn("_sec", F.date_trunc("second", F.col("ts")))
    (
        out.repartitionByRange(8, "_sec")
        .drop("_sec")
        .sortWithinPartitions("ts", "event_id")
        .write.format("lakota")
        .option("path", repo.root)
        .option("table", table)
        .mode(mode)
        .save()
    )


def _ds_demo_stale(repo, label: str, want_revisions: int) -> bool:
    """Build gate for the two-write datasource demos: a label is served
    only when its changelog holds BOTH revisions (base ingest + patch /
    re-root). A process hard-killed between the two writes (the Python
    except-cleanup never ran) leaves one revision — drop and rebuild
    instead of silently serving the unpatched base table."""
    if label not in repo.ls():
        return True
    if len(repo.collection(label).changelog.revisions()) >= want_revisions:
        return False
    repo.delete_collection(label)
    return True


def _ds_base_ingest(spark, repo, sf_dir: str, label: str):
    """Create + distributed-append the full events table into a fresh
    collection via the data source writer (shared by the overlay /
    overwrite demos). On ANY build failure the half-built collection is
    dropped (and `_ds_demo_stale` catches the hard-kill case the except
    clause cannot)."""
    repo.create_collection(
        Schema(
            ts="timestamp*",
            event_id="int",
            user_id="int",
            event_type="str",
            value="float",
        ),
        label,
    )
    src = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "ts", "event_id", "user_id", "event_type", "value"
    )
    _ds_write_by_second(src, repo, f"{label}/all")
    return src


def engine_datasource_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data source writer's OVERLAY path under the driver oracle
    (round 11, VERDICT r10 #3): after the distributed base ingest, a
    second ``mode("append")`` write whose index range overlaps EXISTING
    data — all events in [2024-01-10, 2024-01-20) with value + 1024.0 —
    splices over it (range replacement, `commit.py` windowed overlay),
    in ONE atomic revision. The read-back proves: the replaced range
    serves the NEW rows, everything outside is untouched, and row count
    is conserved. The oracle rebuilds the same table from the raw
    parquet as (outside-window UNION ALL transformed-window)."""
    from lakota_spark.datasource import register

    repo = _event_repo(spark, sf_dir)
    register(spark)
    label = "ds_overlay"
    if _ds_demo_stale(repo, label, want_revisions=2):
        try:
            src = _ds_base_ingest(spark, repo, sf_dir, label)
            # +1024.0 is one IEEE addition — correctly rounded
            # identically in Spark and DuckDB, and never produces -0.0
            # (a negation of a 0.00 amount would render-diverge
            # between engines)
            patched = src.where(
                (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20")
            ).withColumn("value", F.col("value") + F.lit(1024.0))
            _ds_write_by_second(patched, repo, f"{label}/all")
        except Exception:
            repo.delete_collection(label)
            raise
    series = repo.collection(label).series("all")
    return series.frame(
        select=["ts", "event_id", "event_type", "value"], sort=False
    )


def engine_datasource_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mode("overwrite")`` = the distributed `Series.write(root=True)`
    (round 11, VERDICT r10 #3): after the base ingest, the table is
    REPLACED in one atomic new-root revision by just the click events
    with doubled value; prior history stays reachable (time travel —
    pinned by tests/test_datasource.py). The oracle is the transformed
    click subset of the raw parquet: the read-back proves the old rows
    are gone and the new root serves exactly the replacement."""
    from lakota_spark.datasource import register

    repo = _event_repo(spark, sf_dir)
    register(spark)
    label = "ds_rewrite"
    if _ds_demo_stale(repo, label, want_revisions=2):
        try:
            src = _ds_base_ingest(spark, repo, sf_dir, label)
            # doubling is EXACT in IEEE-754 (exponent bump), so both
            # engines produce bit-identical doubles — no rounding-tie
            # hazard
            clicks = src.where(F.col("event_type") == "click").withColumn(
                "value", F.col("value") * 2
            )
            _ds_write_by_second(
                clicks, repo, f"{label}/all", mode="overwrite"
            )
        except Exception:
            repo.delete_collection(label)
            raise
    series = repo.collection(label).series("all")
    return series.frame(
        select=["ts", "event_id", "event_type", "value"], sort=False
    )


def engine_kv_registry_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective masked scan of an append-heavy KV registry — the
    round-13 shadowing-aware fast path under the oracle.

    Events ingest into a KV collection keyed on the UNIQUE event_id as
    16 RANGE-DISJOINT bucket commits (new id ranges arrive, old ranges
    are never rewritten — the registry shape). Disjointness makes
    last-writer-wins a per-row no-op, so the masked read must (a) run
    `zonemap.prune_kv` with nothing blocked — every bucket whose value
    zone map refutes the mask drops before any parquet bytes move —
    and (b) skip the dedup window entirely (plain segment scan: no
    Window, no Exchange, mask pushed into the scan — plan pinned by
    tests/test_plans.py::test_kv_registry_scan_plan; refutation
    effectiveness under a correlated distribution is priced in NOTES.md
    "KV zone-map pruning with shadowing awareness", 123 -> 5
    segments). The oracle is the
    plain value filter over the raw parquet: identical rows prove the
    dedup-free plan reads exactly what the full plan would."""
    repo = _event_repo(spark, sf_dir)
    label = "kvreg"
    if label not in repo.ls():
        coll = repo.create_collection(
            Schema.kv_schema(
                event_id="int*", user_id="int", value="float"
            ),
            label,
        )
        src = read_parquet(spark, f"{sf_dir}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        lo, hi = src.agg(
            F.min("event_id"), F.max("event_id")
        ).first()
        series = coll.series("all")
        span = hi - lo + 1
        for b in range(16):
            b_lo = lo + b * span // 16
            b_hi = lo + (b + 1) * span // 16
            series.write(
                src.where(
                    (F.col("event_id") >= b_lo)
                    & (F.col("event_id") < b_hi)
                ).orderBy("event_id")
            )
    series = repo.collection(label).series("all")
    return series.frame(mask="(< self.value 2.0)", sort=False)
