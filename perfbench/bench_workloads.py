"""The benchmark's workloads.

Each workload builds its inputs from the seed, builds its fixture, warms
up, and then hands the driver in ``run.py`` one operation at a time
(a closed loop with one client thread). An operation is an
``Op``: ``run`` is the timed call and returns what ``check`` needs;
``check`` runs after the clock stops and returns whether the result was
right. ``verify`` runs once after the loop (untimed) and
returns the ids of operations whose effects did not read back correctly.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np

#: float sums of the same rows in another order differ in the last bits
RTOL = 1e-9


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def ticks(rng, n: int, start: int) -> np.ndarray:
    """``n`` strictly increasing int64 timestamps after ``start``."""
    return start + np.cumsum(rng.integers(1, 4, n, dtype=np.int64))


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=RTOL, abs_tol=1e-6)


def _equal(df, ts, vals) -> bool:
    """A frame read back holds exactly these timestamps and values."""
    return (np.array_equal(df["timestamp"].to_numpy(), ts)
            and np.array_equal(df["value"].to_numpy(), vals))


class Op:
    """One closed-loop operation: ``run`` is timed; ``check(result)`` runs
    after the clock stops. ``parts`` takes sub-timings that ``run`` records."""

    __slots__ = ("kind", "run", "check", "rows", "parts")

    def __init__(self, kind, run=None, check=None, rows=0):
        self.kind, self.run, self.check, self.rows = kind, run, check, rows
        self.parts: dict = {}


class Workload:
    name = ""
    #: the operation kind behind op_p50_ms
    primary = ""
    #: kinds that must never start a Spark job
    local_kinds: frozenset = frozenset()
    #: how many times set-up builds the fixture (the median is reported)
    builds = 3

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def build(self, root: str) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        pass

    def next_op(self, i: int):
        raise NotImplementedError

    def verify(self, ops) -> set:
        return set()

    def op_ms(self, ops) -> tuple[float, int]:
        """op_p50_ms: (median latency in ms, samples) of the primary kind."""
        return _p50(ops, self.primary)

    def named(self, ops) -> dict:
        """The workload's metrics under the issue's names:
        ``{name: (value, unit, samples)}``; reported, not bounded."""
        return {}


def kind_ms(ops, kind) -> list[float]:
    """Latencies (ms) of the successful operations of one kind."""
    return [1e3 * o["s"] for o in ops if o["kind"] == kind and o["ok"]]


def _p50(ops, kind) -> tuple[float, int]:
    xs = kind_ms(ops, kind)
    return (float(np.median(xs)) if xs else 0.0), len(xs)


def _tail(ops, kind, q) -> tuple[float, int]:
    from bench_stats import percentile

    xs = kind_ms(ops, kind)
    return (percentile(xs, q) if xs else 0.0), len(xs)


def _in_ms(pair) -> tuple:
    return pair[0], "ms", pair[1]


def _rate(ops, kinds) -> float:
    sel = [o for o in ops if o["kind"] in kinds]
    busy = sum(o["s"] for o in sel)
    return sum(o["rows"] for o in sel if o["ok"]) / busy if busy else 0.0


# ----------------------------------------------------------------------
class AppendTicks(Workload):
    """Small appends round-robin over 8 series of one collection, with a
    read of the last 5,000 rows after every 20th append.

    The run is a sequence of rounds of ``ROUND`` appends, each round into a
    fresh collection. Append cost grows with the changelog, so fixed rounds
    give every run the same sequence of states whatever its speed."""

    name = "append_ticks"
    primary = "append"
    local_kinds = frozenset({"append", "fresh_read"})
    N_SERIES, ROWS, READ_EVERY, READ_ROWS = 8, 500, 20, 5_000
    ROUND = 2_000

    def build(self, root):
        from lakota_spark.repo import Repo
        from lakota_spark.schema import Schema

        self.root = root
        self.repo = Repo(root, self.spark)
        self.schema = Schema(timestamp="int*", value="float")
        self.warm = self.repo.create_collection(self.schema, "warmup").series("w")
        self.rng = np.random.default_rng(self.seed)
        #: one entry per round: (series, timestamps, values, owning op ids)
        self.rounds: list[tuple] = []
        self.appends = 0
        self.pending_read = None

    def _new_round(self):
        coll = self.repo.create_collection(self.schema, f"ticks{len(self.rounds)}")
        n = self.N_SERIES
        self.rounds.append((
            [coll.series(f"s{j}") for j in range(n)],
            [[] for _ in range(n)], [[] for _ in range(n)], [[] for _ in range(n)],
        ))

    def warmup(self):
        rng = np.random.default_rng(self.seed + 1)
        last = 0
        for _ in range(60):
            ts = ticks(rng, self.ROWS, last)
            last = int(ts[-1])
            self.warm.write({"timestamp": ts, "value": rng.standard_normal(self.ROWS)})
        self.warm.df(start=last - 5_000)

    def next_op(self, i):
        if self.pending_read is not None:
            series, tss, valss, _ = self.rounds[-1]
            j, self.pending_read = self.pending_read, None
            ts = np.concatenate(tss[j])[-self.READ_ROWS:]
            vals = np.concatenate(valss[j])[-self.READ_ROWS:]
            s = series[j]
            return Op("fresh_read", lambda: s.df(start=int(ts[0])),
                      lambda df: _equal(df, ts, vals), len(ts))
        if self.appends % self.ROUND == 0:
            self._new_round()
        series, tss, valss, owner = self.rounds[-1]
        j = self.appends % self.N_SERIES
        last = int(tss[j][-1][-1]) if tss[j] else 0
        ts = ticks(self.rng, self.ROWS, last)
        vals = self.rng.standard_normal(self.ROWS)
        tss[j].append(ts)
        valss[j].append(vals)
        owner[j].append(i)
        self.appends += 1
        if self.appends % self.READ_EVERY == 0:
            self.pending_read = j
        s = series[j]
        return Op("append", lambda: s.write({"timestamp": ts, "value": vals}), rows=self.ROWS)

    def verify(self, ops):
        bad = set()
        for series, tss, valss, owner in self.rounds:
            for j, s in enumerate(series):
                if tss[j] and not _equal(s.df(), np.concatenate(tss[j]), np.concatenate(valss[j])):
                    bad.update(owner[j])
        return bad

    def named(self, ops):
        user = sum(len(a) for r in self.rounds for t in r[1] for a in t) * 16
        stored = sum(dir_bytes(os.path.join(self.root, f"ticks{k}"))
                     for k in range(len(self.rounds)))
        p50, n = _p50(ops, "append")
        return {
            "append_p50_ms": (p50, "ms", n),
            "append_p90_ms": _in_ms(_tail(ops, "append", 90)),
            "append_p99_ms": _in_ms(_tail(ops, "append", 99)),
            "append_rows_per_s": (_rate(ops, {"append"}), "1/s", n),
            "fresh_read_p50_ms": _in_ms(_p50(ops, "fresh_read")),
            "rounds": (len(self.rounds), "count", 1),
            "stored_bytes_per_user_byte": (stored / user if user else 0.0, "count", 1),
        }


# ----------------------------------------------------------------------
class RangeReads(Workload):
    """Reads over a fragmented layout: driver-local range reads (a quarter
    from a fresh repo handle), masked Spark frames with an aggregate, and
    data-source queries with pushed-down filters."""

    name = "range_reads"
    primary = "spark_query"
    local_kinds = frozenset({"local_read"})
    N_SERIES, ROWS_PER_SERIES, CHUNK = 8, 50_000, 500
    READ_ROWS, SCAN_ROWS = 5_000, 10_000
    CYCLE = 100
    builds = 2
    KV_KEYS = 30_000

    def build(self, root):
        from lakota_spark import datasource
        from lakota_spark.repo import Repo
        from lakota_spark.schema import Schema

        datasource.register(self.spark)
        self.root = root
        repo = Repo(root, self.spark)
        coll = repo.create_collection(Schema(timestamp="int*", value="float"), "frag")
        rng = np.random.default_rng(self.seed)
        n = self.ROWS_PER_SERIES
        self.ts = [ticks(rng, n, 0) for _ in range(self.N_SERIES)]
        self.vals = [rng.standard_normal(n) for _ in range(self.N_SERIES)]
        self.series = [coll.series(f"s{j}") for j in range(self.N_SERIES)]
        for lo in range(0, n, self.CHUNK):
            for j, s in enumerate(self.series):
                s.write({
                    "timestamp": self.ts[j][lo:lo + self.CHUNK],
                    "value": self.vals[j][lo:lo + self.CHUNK],
                })
        # one overlay patch: new values over 5,000 rows of the last series
        p = self.N_SERIES - 1
        lo = int(rng.integers(0, n - 5_000))
        patch = rng.standard_normal(5_000)
        self.series[p].write({"timestamp": self.ts[p][lo:lo + 5_000], "value": patch})
        self.vals[p] = self.vals[p].copy()
        self.vals[p][lo:lo + 5_000] = patch
        # one KV series with three overlapping upserts (last writer wins)
        kv = repo.create_collection(Schema.kv(key="int*", value="float"), "kv").series("reg")
        state = np.full(self.KV_KEYS, np.nan)
        for a, b in ((0, 20_000), (10_000, 30_000), (5_000, 15_000)):
            keys = np.arange(a, b, dtype=np.int64)
            v = rng.standard_normal(b - a)
            kv.write({"key": keys, "value": v})
            state[a:b] = v
        self.kv = kv
        self.kv_vals = state
        self.rng = np.random.default_rng(self.seed + 2)

    def _truth(self, j, lo_ts, hi_ts, thr=None, below=True):
        ts, vals = (
            (np.arange(self.KV_KEYS), self.kv_vals) if j == self.N_SERIES
            else (self.ts[j], self.vals[j])
        )
        a, b = np.searchsorted(ts, lo_ts, "left"), np.searchsorted(ts, hi_ts, "right")
        v = vals[a:b]
        if thr is not None:
            v = v[v < thr] if below else v[v > thr]
        return len(v), float(v.sum())

    def warmup(self):
        for k in range(self.CYCLE // 2 + 1):  # one of each kind, then local reads
            op = self.next_op(k)
            if not op.check(op.run()):
                raise RuntimeError(f"range_reads warm-up {op.kind} read wrong rows")
        self.rng = np.random.default_rng(self.seed + 2)

    def next_op(self, i):
        """A fixed cycle of ``CYCLE`` operations: one data-source query, two
        masked frames, the rest driver-local reads. Spark queries take
        about a hundred times a local read, so this mix gives both kinds
        enough samples in a run."""
        pos = i % self.CYCLE
        if pos == 0:
            return self._spark_op("ds_query")
        if pos in (1, self.CYCLE // 2):
            return self._spark_op("frame_query")
        return self._local_op()

    def _local_op(self):
        from lakota_spark.repo import Repo

        rng = self.rng
        j = int(rng.integers(0, self.N_SERIES - 1))  # clean series only
        r = int(rng.integers(0, self.ROWS_PER_SERIES - self.READ_ROWS))
        ts, vals = self.ts[j], self.vals[j]
        lo, hi = int(ts[r]), int(ts[r + self.READ_ROWS - 1])
        cold = rng.random() < 0.25

        def run():
            s = (
                Repo(self.root, self.spark).collection("frag").series(f"s{j}")
                if cold else self.series[j]
            )
            return s.df(start=lo, stop=hi)

        def check(df):
            return np.array_equal(df["value"].to_numpy(), vals[r:r + self.READ_ROWS])

        return Op("local_read", run, check, self.READ_ROWS)

    def _spark_op(self, kind):
        from pyspark.sql import functions as F

        rng = self.rng
        thr = float(rng.uniform(-0.5, 0.5))
        # frames also read the KV series (index N_SERIES); the data source
        # serves only range-disjoint layouts, so it reads the plain series
        j = int(rng.integers(0, self.N_SERIES + (kind == "frame_query")))
        if j == self.N_SERIES:
            idx = "key"
            lo = int(rng.integers(0, self.KV_KEYS - self.SCAN_ROWS))
            hi = lo + self.SCAN_ROWS - 1
        else:
            idx = "timestamp"
            r = int(rng.integers(0, self.ROWS_PER_SERIES - self.SCAN_ROWS))
            lo, hi = int(self.ts[j][r]), int(self.ts[j][r + self.SCAN_ROWS - 1])
        if kind == "frame_query":
            s = self.kv if j == self.N_SERIES else self.series[j]
            want = self._truth(j, lo, hi, thr, below=True)

            def run():
                rows = (
                    s.frame(start=lo, stop=hi, mask=f"(< self.value {thr!r})")
                    .groupBy((F.col(idx) % 4).alias("g"))
                    .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
                    .collect()
                )
                return sum(x["n"] for x in rows), sum(x["v"] or 0.0 for x in rows)
        else:
            want = self._truth(j, lo, hi, thr, below=False)

            def run():
                row = (
                    self.spark.read.format("lakota")
                    .option("path", self.root).option("table", f"frag/s{j}").load()
                    .where((F.col("timestamp") >= lo) & (F.col("timestamp") <= hi)
                           & (F.col("value") > thr))
                    .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
                    .collect()[0]
                )
                return row["n"], row["v"] or 0.0

        def check(got):
            return got[0] == want[0] and close(got[1], want[1])

        return Op(kind, run, check, self.SCAN_ROWS)

    SPARK_KINDS = ("frame_query", "ds_query")

    def op_ms(self, ops):
        """spark_query_p50_ms: the mean of the frame and data-source medians,
        so the figure does not depend on how many of each a run fits."""
        meds = [_p50(ops, kind) for kind in self.SPARK_KINDS]
        if not all(n for _, n in meds):
            return 0.0, 0
        return sum(m for m, _ in meds) / len(meds), sum(n for _, n in meds)

    def named(self, ops):
        user = (self.N_SERIES * self.ROWS_PER_SERIES + 5_000 + 40_000) * 16
        return {
            "local_read_p50_ms": _in_ms(_p50(ops, "local_read")),
            "local_read_p90_ms": _in_ms(_tail(ops, "local_read", 90)),
            "local_rows_per_s": (_rate(ops, {"local_read"}), "1/s", len(kind_ms(ops, "local_read"))),
            "spark_query_p50_ms": _in_ms(self.op_ms(ops)),
            "frame_query_p50_ms": _in_ms(_p50(ops, "frame_query")),
            "ds_query_p50_ms": _in_ms(_p50(ops, "ds_query")),
            "stored_bytes_per_user_byte": (dir_bytes(self.root) / user, "count", 1),
        }


# ----------------------------------------------------------------------
class BulkIngest(Workload):
    """Spark write paths, and maintenance of a forked, fragmented collection.

    Ingests and maintenance operations alternate. The first ingests of a
    session run several times slower while the JVM compiles the write path,
    so the warm-up runs ``WARM_INGESTS`` of them. The input frame has two
    partitions: in four-run trials on a shared 4-vCPU host, the ingest
    median spread 0.14 of its median with two and 0.33 with four.
    """

    name = "bulk_ingest"
    primary = "ingest"
    ROWS, SMALL, CHUNK = 100_000, 50_000, 2_000
    CYCLE = ("ingest", "maintenance")
    WARM_INGESTS = 5
    builds = 2

    def build(self, root):
        import pandas as pd

        from lakota_spark import datasource
        from lakota_spark.repo import Repo
        from lakota_spark.schema import Schema

        datasource.register(self.spark)
        self.schema = Schema(timestamp="int*", value="float")
        self.repo = Repo(os.path.join(root, "main"), self.spark)
        self.replica = Repo(os.path.join(root, "replica"), self.spark)
        rng = np.random.default_rng(self.seed)
        self.ts = ticks(rng, self.ROWS, 0)
        self.vals = rng.standard_normal(self.ROWS)
        pdf = pd.DataFrame({"timestamp": self.ts, "value": self.vals})
        self.sdf = (
            self.spark.createDataFrame(pdf)
            .repartitionByRange(2, "timestamp")
            .localCheckpoint(eager=True)
        )
        self.rng = np.random.default_rng(self.seed + 3)

    def warmup(self):
        ops = [self._ingest(f"warm-i{k}") for k in range(self.WARM_INGESTS)]
        for op in ops + [self._maintenance("warm-m")]:
            if not op.check(op.run()):
                raise RuntimeError(f"bulk_ingest warm-up {op.kind} read back wrong data")

    def next_op(self, i):
        if self.CYCLE[i % len(self.CYCLE)] == "ingest":
            return self._ingest(f"bulk{i}")
        return self._maintenance(f"maint{i}")

    def _ingest(self, label):
        """Series.write of a checkpointed Spark DataFrame (the executor path),
        then a data-source append of the same frame, into a fresh collection."""

        def run():
            coll = self.repo.create_collection(self.schema, label)
            coll.series("a").write(self.sdf)
            (self.sdf.write.format("lakota")
             .option("path", self.repo.root).option("table", f"{label}/b")
             .mode("append").save())
            return coll

        def check(coll):
            return all(_equal(coll.series(n).df(), self.ts, self.vals) for n in "ab")

        return Op("ingest", run, check, 2 * self.ROWS)

    def _maintenance(self, label):
        """Untimed: 200-row appends to disjoint ranges of one series, half from
        this repo and half from a replica that created the same collection.
        Timed: pull the replica (a fork), merge, defrag, squash, gc."""
        rng = self.rng
        k = int(rng.integers(1, 1_000))
        ts = np.arange(k, k + 2 * self.SMALL, dtype=np.int64)
        vals = rng.standard_normal(2 * self.SMALL)
        mine = self.repo.create_collection(self.schema, label).series("c")
        theirs = self.replica.create_collection(self.schema, label).series("c")
        for n, lo in enumerate(range(0, len(ts), self.CHUNK)):
            s = mine if lo < self.SMALL else theirs
            s.write({"timestamp": ts[lo:lo + self.CHUNK], "value": vals[lo:lo + self.CHUNK]})

        def run():
            self.repo.pull(self.replica, labels=[label])
            coll = self.repo.collection(label)
            coll.merge()
            coll.defrag()
            coll.squash()
            self.repo.gc()
            return coll

        def check(coll):
            return len(coll.changelog.leaves()) == 1 and _equal(coll.series("c").df(), ts, vals)

        return Op("maintenance", run, check, 2 * self.SMALL)

    def named(self, ops):
        first = os.path.join(self.repo.root, "bulk0")
        m50, n = _p50(ops, "maintenance")
        return {
            "ingest_p50_ms": _in_ms(_p50(ops, "ingest")),
            "ingest_p90_ms": _in_ms(_tail(ops, "ingest", 90)),
            "ingest_mrows_per_s": (_rate(ops, {"ingest"}) / 1e6, "Mrows/s", len(kind_ms(ops, "ingest"))),
            "maintenance_p50_s": (m50 / 1e3, "s", n),
            "stored_bytes_per_user_byte": (
                dir_bytes(first) / (2 * self.ROWS * 16) if os.path.isdir(first) else 0.0,
                "count", 1),
        }


# ----------------------------------------------------------------------
class TrainingRungs(Workload):
    """Passes over declared training-data queries on a generated corpus,
    each written to the noop sink."""

    name = "training_rungs"
    primary = "pass"
    RUNGS = ("repeated_span_flags", "winnow_dup_pairs", "minhash_dedup_pairs")
    DOCS = 1_000
    WORDS = (
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row the "
        "agg key query a scan batch"
    ).split()

    def build(self, root):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        texts: list[str] = []
        for k in range(self.DOCS):
            if k > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
                words = texts[int(rng.integers(0, k))].split()
                words[int(rng.integers(0, len(words)))] = "dup"
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(rng.choice(self.WORDS, int(rng.integers(8, 90)))))
        langs = rng.choice(["en", "zh", "es", "fr", "de"], self.DOCS,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15])
        table = pa.table({
            "doc_id": np.arange(self.DOCS, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{k}" for k in rng.integers(0, 20, self.DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
        os.makedirs(root, exist_ok=True)
        pq.write_table(table, os.path.join(root, "documents.parquet"))
        self.sf = root

    def _queries(self):
        import __spark_entry__ as entry

        return entry.queries()

    def warmup(self):
        q = self._queries()
        for r in self.RUNGS:
            q[r](self.spark, self.sf).write.format("noop").mode("overwrite").save()

    def next_op(self, i):
        q = self._queries()
        op = Op("pass", rows=self.DOCS * len(self.RUNGS))

        def run():
            for r in self.RUNGS:
                t0 = time.perf_counter()
                df = q[r](self.spark, self.sf)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                op.parts[f"build_ms.{r}"] = 1e3 * (t1 - t0)
                op.parts[f"exec_ms.{r}"] = 1e3 * (t2 - t1)
            op.parts["build_s"] = sum(op.parts[f"build_ms.{r}"] for r in self.RUNGS) / 1e3

        op.run = run
        return op

    def verify(self, ops):
        """Each rung once against its DuckDB twin, as scripts/check_oracle.py
        does; a mismatching rung fails every pass."""
        import __spark_entry__ as entry
        import duckdb

        oracle = entry.oracle_sql()
        q = self._queries()
        con = duckdb.connect()
        path = os.path.join(self.sf, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        self.mismatched = []
        for r in self.RUNGS:
            got = _normalize(q[r](self.spark, self.sf).toPandas())
            want = _normalize(con.execute(oracle[r]).df())
            if not _frames_equal(got, want):
                self.mismatched.append(r)
        con.close()
        return {o["id"] for o in ops} if self.mismatched else set()

    def named(self, ops):
        p50, n = _p50(ops, "pass")
        builds = [o["parts"]["build_s"] for o in ops if o["ok"]]
        return {
            "rung_pass_s": (p50 / 1e3, "s", n),
            "rung_build_p50_s": (float(np.median(builds)) if builds else 0.0, "s", len(builds)),
            "oracle_mismatches": (getattr(self, "mismatched", []), "", 1),
        }


def _normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _frames_equal(a, b) -> bool:
    import pandas as pd

    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]):
            if not np.array_equal(x, y, equal_nan=True):
                return False
        elif not ((x == y) | (a[c].isna().to_numpy() & b[c].isna().to_numpy())).all():
            return False
    return True


WORKLOADS = {w.name: w for w in (AppendTicks, RangeReads, BulkIngest, TrainingRungs)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
