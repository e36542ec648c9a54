"""Spans and counters around the public entry points of each
``lakota_spark`` module, recorded from the benchmark's side.

The tracer patches methods and module functions in the driver process
while a traced run is active and restores them afterwards. The data
source's planning and commit run in Python processes that Spark starts
(not in the driver), so ``hook/sitecustomize.py`` patches those entry
points inside each such process and appends its records to a file per
process; ``worker_records`` reads them back and they are matched to
operations by wall-clock time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from bench_stats import max_over_median, self_times

#: (module, ``Class.method`` or module function, span name). Each span name
#: is ``<layer>.<entry point>``; layers are the repo's modules.
SPAN_POINTS = [
    ("lakota_spark.series", "Series.write", "series.write"),
    ("lakota_spark.series", "Series.df", "series.df"),
    ("lakota_spark.series", "Series.frame", "series.frame"),
    ("lakota_spark.changelog", "Changelog.commit", "changelog.commit"),
    ("lakota_spark.changelog", "Changelog.maybe_archive", "changelog.maybe_archive"),
    ("lakota_spark.changelog", "Changelog.log", "changelog.log"),
    ("lakota_spark.changelog", "Changelog.leaf", "changelog.leaf"),
    ("lakota_spark.changelog", "Revision.read", "changelog.revision_read"),
    ("lakota_spark.collection", "Collection.snapshot", "collection.snapshot"),
    ("lakota_spark.collection", "Collection._snapshot_at", "collection.resolve"),
    ("lakota_spark.collection", "Collection.apply_segments", "collection.apply_segments"),
    ("lakota_spark.collection", "Collection.merge", "collection.merge"),
    ("lakota_spark.collection", "Collection.defrag", "collection.defrag"),
    ("lakota_spark.collection", "Collection.squash", "collection.squash"),
    ("lakota_spark.commit", "Snapshot.for_label", "commit.for_label"),
    ("lakota_spark.zonemap", "prune", "zonemap.prune"),
    ("lakota_spark.sexpr", "to_filter_plan", "sexpr.to_filter_plan"),
    ("lakota_spark.fsio", "FS.write_bytes_atomic", "fsio.write"),
    ("lakota_spark.fsio", "FS.read_bytes", "fsio.read"),
    ("lakota_spark.fsio", "FS.ls", "fsio.ls"),
    ("lakota_spark.fsio", "FS.exists", "fsio.exists"),
    ("lakota_spark.repo", "Repo.__init__", "repo.open"),
    ("lakota_spark.repo", "Repo.gc", "repo.gc"),
]


def _post_counts(tracer, name, args, result):
    """Counters taken from a call's arguments or result."""
    if name == "collection.apply_segments" and tracer.inside("series.write"):
        tracer.count("series.write.segments", len(args[1]))
    elif name == "commit.for_label":
        tracer.count("commit.for_label.considered", len(args[0].segments))
        tracer.count("commit.for_label.kept", len(result))
    elif name == "zonemap.prune":
        tracer.count("zonemap.prune.considered", len(args[0]))
        tracer.count("zonemap.prune.kept", len(result))
    elif name == "changelog.revision_read" and tracer.inside("collection.snapshot"):
        tracer.count("collection.snapshot.revisions_read", 1)
    elif name == "collection.resolve" and tracer.inside("collection.snapshot"):
        tracer.count("collection.snapshot.misses", 1)


class Tracer:
    """Records spans and counters for the operation set in ``op``.

    Off (``enabled`` False) the patched entry points only test one flag.
    """

    def __init__(self):
        self.enabled = False
        self.op = None
        self.spans: list[dict] = []
        self.counts: dict = {}
        self.missing: list[str] = []
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._patched: list = []

    # -- recording -----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def inside(self, name: str) -> bool:
        return any(n == name for _, n in self._stack())

    def count(self, key: str, n: float = 1) -> None:
        k = (self.op, key)
        self.counts[k] = self.counts.get(k, 0) + n

    def _wrap(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1][0] if stack else None
            stack.append((sid, name))
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans.append(
                    {"id": sid, "parent": parent, "name": name,
                     "start": t0, "end": t1, "op": tracer.op}
                )
            _post_counts(tracer, name, args, result)
            return result

        traced.__wrapped__ = fn
        return traced

    # -- installation --------------------------------------------------

    def install(self) -> None:
        import importlib

        for modname, path, name in SPAN_POINTS:
            mod = importlib.import_module(modname)
            owner, attr = mod, path
            if "." in path:
                cls, attr = path.split(".", 1)
                owner = getattr(mod, cls, None)
            fn = owner.__dict__.get(attr) if owner is not None else None
            if not callable(fn):
                # an entry point renamed or removed later: its metrics read 0
                self.missing.append(f"{modname}.{path}")
                continue
            setattr(owner, attr, self._wrap(fn, name))
            self._patched.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def worker_records(hook_dir: str) -> list[dict]:
    out = []
    for path in glob.glob(os.path.join(hook_dir, "*.jsonl")):
        with open(path) as fh:
            out.extend(json.loads(line) for line in fh if line.strip())
    return out


def read_event_log(event_dir: str) -> list[dict]:
    """Decode every event file under ``event_dir``: a plain log file, or
    the rolling ``eventlog_v2_*/events_<n>_*`` parts in order."""
    import re

    paths = []
    for root, _, files in os.walk(event_dir):
        for f in files:
            if f.startswith((".", "appstatus_")):
                continue
            m = re.match(r"events_(\d+)_", f)
            paths.append((root, int(m.group(1)) if m else 0, f))
    events = []
    for root, _, f in sorted(paths):
        with open(os.path.join(root, f)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def layer_metrics(
    tracer: Tracer,
    traced_ops: list[dict],
    worker: list[dict],
    spark_groups: dict,
    local_kinds: set[str],
) -> dict[str, float]:
    """Per-layer metrics over the traced operations.

    ``traced_ops`` holds ``{"id", "kind", "wall0", "wall1", "fs0", "fs1"}``
    per traced operation (wall-clock bounds and ``BaseFS.metrics()``
    snapshots). Timings are per call (``.ms``, ``.self_ms``), counts per
    operation, ratios are ratios of totals.
    """
    n_ops = max(1, len(traced_ops))
    op_ids = {o["id"] for o in traced_ops}
    spans = [s for s in tracer.spans if s["op"] in op_ids]
    selfs = self_times(spans)
    calls: dict = {}
    total: dict = {}
    own: dict = {}
    peak: dict = {}
    for s in spans:
        n, d = s["name"], s["end"] - s["start"]
        calls[n] = calls.get(n, 0) + 1
        total[n] = total.get(n, 0.0) + d
        own[n] = own.get(n, 0.0) + selfs[s["id"]]
        peak[n] = max(peak.get(n, 0.0), d)
    counts: dict = {}
    for (op, key), v in tracer.counts.items():
        if op in op_ids:
            counts[key] = counts.get(key, 0) + v

    def ms(name):
        return 1e3 * total.get(name, 0.0) / calls[name] if calls.get(name) else 0.0

    def self_ms(name):
        return 1e3 * own.get(name, 0.0) / calls[name] if calls.get(name) else 0.0

    def ratio(num, den):
        return num / den if den else 0.0

    def fs_delta(suffix):
        d = 0
        for o in traced_ops:
            for k, v in o["fs1"].items():
                if k.endswith(suffix):
                    d += v - o["fs0"].get(k, 0)
        return d

    # worker-side records (data source planning and commit)
    windows = sorted((o["wall0"], o["wall1"]) for o in traced_ops)
    wk: dict = {}
    for r in worker:
        if not any(a <= r["t0"] <= b for a, b in windows):
            continue
        slot = wk.setdefault(r["name"], {"calls": 0, "s": 0.0, "counts": {}})
        slot["calls"] += 1
        slot["s"] += r["dur"]
        for k, v in r.get("counts", {}).items():
            slot["counts"][k] = slot["counts"].get(k, 0) + v

    def wk_ms(name):
        w = wk.get(name)
        return 1e3 * w["s"] / w["calls"] if w else 0.0

    pushed = wk.get("datasource.push_filters", {"counts": {}})["counts"]

    # Spark totals over the traced operations' job groups
    sp = {k: 0.0 for k in ("jobs", "stages", "tasks", "executor_run_ms",
                           "executor_cpu_ms", "input_bytes",
                           "shuffle_read_bytes", "shuffle_write_bytes")}
    stage_ms: list = []
    local_jobs = 0
    for o in traced_ops:
        g = spark_groups.get(op_group(o["id"]))
        if not g:
            continue
        for k in sp:
            sp[k] += g[k]
        stage_ms.extend(g["stage_task_ms"])
        if o["kind"] in local_kinds:
            local_jobs += g["jobs"]

    out = {
        "series.write.self_ms": self_ms("series.write"),
        "series.write.segments": ratio(counts.get("series.write.segments", 0), calls.get("series.write", 0)),
        "series.df.self_ms": self_ms("series.df"),
        "series.frame.self_ms": self_ms("series.frame"),
        "changelog.commit.ms": ms("changelog.commit"),
        "changelog.commit.max_ms": 1e3 * peak.get("changelog.commit", 0.0),
        "changelog.maybe_archive.calls": calls.get("changelog.maybe_archive", 0) / n_ops,
        "changelog.log.ms": ms("changelog.log"),
        "changelog.leaf.ms": ms("changelog.leaf"),
        "collection.snapshot.ms": ms("collection.snapshot"),
        "collection.snapshot.revisions_read": ratio(
            counts.get("collection.snapshot.revisions_read", 0), calls.get("collection.snapshot", 0)
        ),
        "collection.snapshot.cache_hit_ratio": ratio(
            calls.get("collection.snapshot", 0) - counts.get("collection.snapshot.misses", 0),
            calls.get("collection.snapshot", 0),
        ),
        "collection.apply_segments.ms": ms("collection.apply_segments"),
        "collection.merge.ms": ms("collection.merge"),
        "collection.defrag.ms": ms("collection.defrag"),
        "collection.squash.ms": ms("collection.squash"),
        "commit.for_label.ms": ms("commit.for_label"),
        "commit.for_label.kept_ratio": ratio(
            counts.get("commit.for_label.kept", 0), counts.get("commit.for_label.considered", 0)
        ),
        "zonemap.prune.ms": ms("zonemap.prune"),
        "zonemap.prune.kept_ratio": ratio(
            counts.get("zonemap.prune.kept", 0), counts.get("zonemap.prune.considered", 0)
        ),
        "sexpr.to_filter_plan.ms": ms("sexpr.to_filter_plan"),
        "fsio.files_written": calls.get("fsio.write", 0) / n_ops,
        "fsio.bytes_written": fs_delta(".write") / n_ops,
        "fsio.bytes_read": fs_delta(".read") / n_ops,
        "fsio.ls_calls": calls.get("fsio.ls", 0) / n_ops,
        "fsio.exists_calls": calls.get("fsio.exists", 0) / n_ops,
        "datasource.partitions.ms": wk_ms("datasource.partitions"),
        "datasource.pushed_filters_ratio": ratio(pushed.get("pushed", 0), pushed.get("offered", 0)),
        "datasource.commit.ms": wk_ms("datasource.commit"),
        "repo.open_ms": ms("repo.open"),
        "repo.gc.ms": ms("repo.gc"),
        "spark.jobs": sp["jobs"] / n_ops,
        "spark.jobs_in_local_ops": float(local_jobs),
        "spark.stages": sp["stages"] / n_ops,
        "spark.tasks": sp["tasks"] / n_ops,
        "spark.executor_run_ms": sp["executor_run_ms"] / n_ops,
        "spark.executor_cpu_ms": sp["executor_cpu_ms"] / n_ops,
        "spark.input_bytes": sp["input_bytes"] / n_ops,
        "spark.shuffle_read_bytes": sp["shuffle_read_bytes"] / n_ops,
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"] / n_ops,
        "spark.task_ms_max_over_median": max_over_median(stage_ms),
    }
    return out


def self_time_table(tracer: Tracer, traced_ops: list[dict]) -> list[dict]:
    """Per span name over the traced operations: calls, total and self
    milliseconds, and self time as a share of the operations' wall time."""
    op_ids = {o["id"] for o in traced_ops}
    spans = [s for s in tracer.spans if s["op"] in op_ids]
    selfs = self_times(spans)
    wall = sum(o["wall1"] - o["wall0"] for o in traced_ops) or 1.0
    rows: dict = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"name": s["name"], "calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        r["calls"] += 1
        r["total_ms"] += 1e3 * (s["end"] - s["start"])
        r["self_ms"] += 1e3 * selfs[s["id"]]
    for r in rows.values():
        r["self_share"] = r["self_ms"] / 1e3 / wall
    return sorted(rows.values(), key=lambda r: -r["self_ms"])


def op_group(op_id: int) -> str:
    """The Spark job group a traced operation runs under."""
    return f"perfbench-op-{op_id}"
