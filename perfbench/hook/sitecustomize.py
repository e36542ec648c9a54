"""Trace the lakota data source inside the Python processes Spark starts.

Spark runs a Python data source's planning (``pushFilters``,
``partitions``) and its write commit in Python processes of its own, not
in the driver. A traced benchmark run puts this directory on those
processes' ``PYTHONPATH`` and sets ``PERFBENCH_HOOK_OUT``; Python then
imports this module at start-up, and it patches
``lakota_spark.datasource`` when that module is first imported. Each
patched call appends one JSON line (name, wall-clock start, duration,
counters) to ``$PERFBENCH_HOOK_OUT/<pid>.jsonl``.

Without ``PERFBENCH_HOOK_OUT`` this module does nothing.
"""

import os
import sys

_OUT = os.environ.get("PERFBENCH_HOOK_OUT")


def _record(name, t0, dur, counts=None):
    import json

    with open(os.path.join(_OUT, f"{os.getpid()}.jsonl"), "a") as fh:
        fh.write(json.dumps({"name": name, "t0": t0, "dur": dur, "counts": counts or {}}) + "\n")


def _patch(mod):
    import time

    reader = mod.LakotaBatchReader
    writer = mod.LakotaArrowWriter
    push, parts, commit = reader.pushFilters, reader.partitions, writer.commit

    def push_filters(self, filters):
        filters = list(filters)
        w0, t0 = time.time(), time.perf_counter()
        kept = list(push(self, filters))
        _record(
            "datasource.push_filters", w0, time.perf_counter() - t0,
            {"offered": len(filters), "pushed": len(filters) - len(kept)},
        )
        return iter(kept)

    def partitions(self):
        w0, t0 = time.time(), time.perf_counter()
        out = parts(self)
        _record("datasource.partitions", w0, time.perf_counter() - t0, {"partitions": len(out)})
        return out

    def write_commit(self, messages):
        w0, t0 = time.time(), time.perf_counter()
        try:
            return commit(self, messages)
        finally:
            _record("datasource.commit", w0, time.perf_counter() - t0)

    reader.pushFilters = push_filters
    reader.partitions = partitions
    writer.commit = write_commit


if _OUT:
    import importlib.abc
    import importlib.machinery

    class _PatchOnImport(importlib.abc.MetaPathFinder):
        def find_spec(self, name, path, target=None):
            if name != "lakota_spark.datasource":
                return None
            spec = importlib.machinery.PathFinder.find_spec(name, path)
            if spec is None or spec.loader is None:
                return spec
            run = spec.loader.exec_module

            def exec_module(module):
                run(module)
                _patch(module)

            spec.loader.exec_module = exec_module
            return spec

    sys.meta_path.insert(0, _PatchOnImport())
