#!/usr/bin/env python3
"""lakota_spark benchmark: one workload, one Spark session, one client.

    python3 perfbench/run.py --workload range_reads --seed 1 --seconds 25 --trace 0

Runs from the root of a checkout of the repository. It starts one Spark
session at ``local[<cpus>]`` (cpus = this process's CPU affinity, i.e.
``env -u OMP_NUM_THREADS nproc``), builds the workload's fixture from the
seed, warms up, then drives operations from one thread in a closed loop
for ``--seconds``. Every result is checked after its clock stops, and the
fixture is read back in full after the loop.

Output: the second-to-last stdout line is a JSON object with the run's
stamp (cpus, versions, seed) and every metric under the name the workload
documents; the last line is the result object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics, measured on every other operation of each kind,
and the untraced operations of the same run give the tracing overhead.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import resource
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: engine knobs read from the environment; the benchmark measures defaults
KNOBS = ("LAKOTA_SPARK_CKPT_EVERY", "LAKOTA_SPARK_CKPT_MAX", "LAKOTA_SPARK_KEEP_HOT")
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms"}


def refuse(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> dict:
    """Pin the run to this host's regime and keep its files in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = [REPO] + ([os.path.join(HERE, "hook")] if trace else [])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (launcher and driver) skips its /tmp/hsperfdata file
        "JAVA_TOOL_OPTIONS": " ".join(
            [o for o in [os.environ.get("JAVA_TOOL_OPTIONS")] if o] + ["-XX:-UsePerfData"]),
        # Python workers import lakota_spark (and, traced, the hook)
        "PYTHONPATH": os.pathsep.join(path + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    if trace:
        os.environ["PERFBENCH_HOOK_OUT"] = os.path.join(work, "hook")
        os.makedirs(os.environ["PERFBENCH_HOOK_OUT"])
    tempfile.tempdir = tmp
    sys.path.insert(0, REPO)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    return {"cpus": cpus, "conf": conf}


def jvm_peak_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed, not leaked
            proc.kill()
            proc.wait()


def run_loop(wl, seconds: float, tracer, spark) -> list[dict]:
    from bench_trace import op_group

    from lakota_spark.fsio import BaseFS

    sc = spark.sparkContext
    ops: list[dict] = []
    seen: dict = {}
    end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < end:
        op = wl.next_op(i)
        # traced runs trace every other operation of each kind
        seen[op.kind] = seen.get(op.kind, 0) + 1
        traced = tracer is not None and seen[op.kind] % 2 == 1
        fs0 = fs1 = None
        if tracer is not None:
            if traced:
                sc.setJobGroup(op_group(i), op.kind)
                fs0 = BaseFS.metrics()
            else:
                sc.setJobGroup("perfbench-untraced", "untraced")
            tracer.op, tracer.enabled = i, traced
        error = None
        w0, t0 = time.time(), time.perf_counter()
        try:
            result = op.run()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
            result, error = None, repr(exc)
        t1, w1 = time.perf_counter(), time.time()
        if tracer is not None:
            tracer.enabled = False
            if traced:
                fs1 = BaseFS.metrics()
        ok = error is None
        if ok and op.check is not None:
            try:
                ok = bool(op.check(result))
            except Exception as exc:  # noqa: BLE001
                ok, error = False, repr(exc)
        if error:
            print(f"perfbench: op {i} ({op.kind}) failed: {error}", file=sys.stderr)
        ops.append({
            "id": i, "kind": op.kind, "s": t1 - t0, "ok": ok, "rows": op.rows,
            "parts": op.parts, "traced": traced, "wall0": w0, "wall1": w1,
            "fs0": fs0, "fs1": fs1,
        })
        i += 1
    return ops


def end_to_end(wl, ops, setup_s: float) -> tuple[dict, dict]:
    op_p50, n = wl.op_ms(ops)
    vals = {"setup_s": setup_s, "op_p50_ms": op_p50}
    return vals, {wl.primary: n}


def named_metrics(wl, ops, e2e: dict, peak_mb: float) -> dict:
    """Every metric under the name the workload's documentation uses."""
    from bench_stats import percentile, tail_percentile
    from bench_workloads import kind_ms

    out = {
        "setup_s": (e2e["setup_s"], "s", 1),
        "peak_rss_mb": (peak_mb, "MB", 1),
        "ops_failed_frac": (sum(not o["ok"] for o in ops) / max(1, len(ops)), "count", len(ops)),
    }
    # per kind, the highest percentile with at least ten samples beyond it
    for kind in sorted({o["kind"] for o in ops}):
        xs = kind_ms(ops, kind)
        if xs:
            q = tail_percentile(len(xs))
            out[f"{kind}_tail_p{q:g}_ms"] = (percentile(xs, q), "ms", len(xs))
    out.update(wl.named(ops))
    return {k: {"value": v, "unit": u, "samples": c} for k, (v, u, c) in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "lakota_spark", "__init__.py")):
        refuse(f"no lakota_spark package in {REPO}; run from a checkout of the repository")
    knobs = [k for k in KNOBS if k in os.environ]
    if knobs:
        refuse(f"engine knobs set ({', '.join(knobs)}): the benchmark measures defaults only")
    sys.path.insert(0, HERE)
    from bench_workloads import WORKLOADS, fresh_dir

    if args.workload not in WORKLOADS:
        refuse(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if args.seconds <= 0:
        refuse("--seconds must be positive")
    # on SIGTERM, unwind through the finally blocks: stop Spark, remove files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = fresh_dir(os.path.join(REPO, ".perfbench_work", f"run-{os.getpid()}"))
    try:
        return measure(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def measure(args, work, workload_cls) -> int:
    import statistics

    from bench_workloads import fresh_dir

    trace = bool(args.trace)
    env = prepare_env(work, trace)
    import pandas
    import pyarrow
    import pyspark

    from lakota_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=env["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t0
    try:
        wl = workload_cls(spark, args.seed)
        builds = []
        prev = None
        for b in range(wl.builds):
            d = fresh_dir(os.path.join(work, f"fixture{b}"))
            t0 = time.perf_counter()
            wl.build(d)
            builds.append(time.perf_counter() - t0)
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = d
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = spark_start_s + statistics.median(builds) + warmup_s

        tracer = None
        if trace:
            from bench_trace import Tracer

            tracer = Tracer()
            tracer.install()
            wl.tracer = tracer
        try:
            ops = run_loop(wl, args.seconds, tracer, spark)
        finally:
            if tracer is not None:
                tracer.uninstall()
        try:
            bad = wl.verify(ops)
        except Exception as exc:  # noqa: BLE001 - a read-back that raises fails every op
            print(f"perfbench: read-back check raised {exc!r}", file=sys.stderr)
            bad = {o["id"] for o in ops}
        for o in ops:
            if o["id"] in bad:
                o["ok"] = False
        peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + jvm_peak_mb(spark)
    finally:
        stop_spark(spark)

    plain = [o for o in ops if not o["traced"]]
    e2e, n = end_to_end(wl, plain, setup_s)
    info = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": int(trace),
        "cpus": env["cpus"], "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "python": sys.version.split()[0],
        "engine_knobs": "defaults",
        "spark_start_s": spark_start_s, "fixture_builds_s": builds, "warmup_s": warmup_s,
        "ops": len(ops), "samples": n,
        "metrics": named_metrics(wl, plain, e2e, peak_mb),
    }
    failed = sum(not o["ok"] for o in ops)
    if trace:
        metrics = traced_metrics(wl, ops, work, info)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = failed == 0 and all(v["value"] > 0 for k, v in metrics.items() if k in END_TO_END)
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def traced_metrics(wl, ops, work, info) -> dict:
    from bench_stats import median, spark_by_group
    from bench_trace import layer_metrics, read_event_log, self_time_table, worker_records
    from bench_workloads import kind_ms

    traced = [o for o in ops if o["traced"]]
    groups = spark_by_group(read_event_log(os.path.join(work, "events")))
    vals = layer_metrics(
        wl.tracer, traced, worker_records(os.environ["PERFBENCH_HOOK_OUT"]),
        groups, set(wl.local_kinds),
    )
    for r in getattr(wl, "RUNGS", ()):
        for part in ("build_ms", "exec_ms"):
            xs = [o["parts"][f"{part}.{r}"] for o in traced
                  if o["ok"] and f"{part}.{r}" in o["parts"]]
            vals[f"queries.{part}.{r}"] = median(xs) if xs else 0.0
    # tracing overhead: traced minus untraced operations of the most
    # frequent kind in this run
    kind = collections.Counter(o["kind"] for o in ops).most_common(1)[0][0]
    p_on = kind_ms(traced, kind)
    p_off = kind_ms([o for o in ops if not o["traced"]], kind)
    on = median(p_on) if p_on else 0.0
    off = median(p_off) if p_off else 0.0
    vals["trace.overhead_ms"] = on - off
    vals["trace.overhead_ratio"] = (on - off) / off if off else 0.0
    info["unpatched_entry_points"] = wl.tracer.missing
    table = self_time_table(wl.tracer, traced)
    info["self_time"] = table
    print(f"{'span':32s} {'calls':>7s} {'total ms':>10s} {'self ms':>10s} {'self %':>7s}",
          file=sys.stderr)
    for r in table:
        print(f"{r['name']:32s} {r['calls']:7d} {r['total_ms']:10.1f} {r['self_ms']:10.1f} "
              f"{100 * r['self_share']:6.1f}%", file=sys.stderr)
    info["tracing_overhead"] = {"kind": kind, "traced_p50_ms": on, "untraced_p50_ms": off,
                                "traced_ops": len(p_on), "untraced_ops": len(p_off)}
    return {k: {"value": v, "unit": unit_of(k)} for k, v in vals.items()}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("ms") or name.startswith("queries."):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio") or name.endswith("max_over_median"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
