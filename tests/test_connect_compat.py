"""Spark Connect compatibility matrix, enforced (VERDICT r12 #5).

This sandbox has no grpcio, so a live Connect session cannot start
(`pyspark.sql.connect.*` raises PACKAGE_NOT_INSTALLED at import); what
CAN be verified here, and is, splits into two halves:

1. **The Connect client ships every API the engine's hot paths use** —
   checked against the INSTALLED pyspark's `sql/connect/` sources as
   text (imports are gated on grpc, the files are not).
2. **Classic-only constructs appear ONLY at the allowlisted sites**,
   each of which either degrades gracefully under Connect (try/except
   with a documented portable fallback) or is driver-side tooling that
   constructs its own classic session by design. The allowlist is
   per-(file, construct) with exact counts, so a new py4j/RDD/
   sparkContext dependency cannot creep in without updating the matrix
   in NOTES.md ("Spark Connect compatibility matrix") AND this test.

Degradation map (why each allowlisted site is safe under Connect):
- session.py `_silence_benign_accumulator_noise`: try/except → no-op
  (log hygiene only).
- operators/util.py `ensure_parallelism`: try/except → no-op (the
  repartition is a local-mode ergonomic; at cluster scale it never
  fired).
- operators/index.py `with_global_index`: defaultParallelism →
  spark.sql.shuffle.partitions fallback.
- operators/text.py `_psl` memo key: applicationId → session-object
  identity fallback.
- operators/skew.py `_infer_combiners`: `_jc` string inference is a
  guarded classic-only FALLBACK; the primary path is the explicit
  `combiners=` map (r12).
- series.py `_physical_plan_str`: `_jdf.queryExecution()` → captured
  `df.explain()` fallback.
- series.py `_task_ceiling` (the `_read` task cap and the presorted
  write's partition gate): 2 × defaultParallelism →
  spark.sql.shuffle.partitions fallback. The `_read` relation itself
  (``spark.range`` + `mapInArrow`, chunks in the closure) and the
  write's gate (applied inside the encode job) are portable;
  `tests/test_scan_chunks.py` reads through a session without
  `sparkContext`.
- cli.py / bench.py / scripts: driver-side tools that build their own
  classic local session via `get_spark()` — classic by design, never
  imported by library consumers.
"""

from __future__ import annotations

import os
import re

import pyspark

PYSPARK_DIR = os.path.dirname(pyspark.__file__)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = os.path.join(REPO, "lakota_spark")


def _connect_src(rel: str) -> str:
    with open(os.path.join(PYSPARK_DIR, "sql", "connect", rel)) as fh:
        return fh.read()


def test_connect_client_ships_every_engine_api():
    """Every Spark API the engine's hot paths rely on has a Connect
    client implementation in the installed pyspark."""
    needed = {
        "dataframe.py": [
            "def mapInArrow",
            "def mapInPandas",
            "def localCheckpoint",
            "def repartition",
            "def repartitionByRange",
            "def sortWithinPartitions",
            "def explain",
        ],
        "session.py": ["def range"],
        "group.py": [
            "def applyInPandas",
            "def applyInPandasWithState",
        ],
        "datasource.py": ["def register"],
        os.path.join("streaming", "readwriter.py"): [
            "def foreachBatch",
            "def trigger",
        ],
        "readwriter.py": ["def parquet", "def format"],
    }
    for rel, defs in needed.items():
        src = _connect_src(rel)
        for d in defs:
            assert d in src, f"{d} missing from pyspark/sql/connect/{rel}"


#: (relative file, regex) -> exact number of CODE occurrences allowed.
#: Comments and docstring prose mentioning these names are excluded by
#: the scanner below; only lines that actually CALL/ACCESS the
#: construct count.
_ALLOWED = {
    ("session.py", r"sparkContext"): 1,  # _jvm log4j, try/except no-op
    ("session.py", r"_jvm"): 1,
    ("cli.py", r"sparkContext"): 1,  # own classic session (tooling)
    ("operators/util.py", r"sparkContext"): 1,  # try/except no-op
    ("operators/util.py", r"\.rdd\b"): 1,
    ("operators/index.py", r"sparkContext"): 1,  # conf fallback
    ("operators/text.py", r"sparkContext"): 1,  # identity fallback
    ("operators/skew.py", r"\._jc\b"): 1,  # guarded classic fallback
    ("series.py", r"_jdf"): 1,  # _physical_plan_str explain fallback
    ("series.py", r"sparkContext"): 1,  # _task_ceiling conf fallback
}

_CONSTRUCTS = [
    r"sparkContext",
    r"_jvm",
    r"_jdf",
    r"\.rdd\b",
    r"parallelize\(",
    r"\._jc\b",
]


def _code_lines(path: str):
    """Source lines with comments and (approximately) docstrings
    stripped — good enough to separate API usage from prose."""
    out = []
    in_doc = False
    with open(path) as fh:
        for line in fh:
            stripped = line.strip()
            n_q = stripped.count('"""')
            if in_doc:
                if n_q:
                    in_doc = False
                continue
            if n_q == 1:
                in_doc = True
                continue
            if n_q >= 2:  # one-line docstring
                continue
            line = line.split("#", 1)[0]
            if line.strip():
                out.append(line)
    return out


def test_classic_only_constructs_match_allowlist():
    found: dict[tuple[str, str], int] = {}
    for root, _dirs, files in os.walk(LIB):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, LIB).replace(os.sep, "/")
            code = "\n".join(_code_lines(path))
            for pat in _CONSTRUCTS:
                n = len(re.findall(pat, code))
                if n:
                    found[(rel, pat)] = n
    allowed = {(f, p): n for (f, p), n in _ALLOWED.items()}
    extra = {k: v for k, v in found.items() if k not in allowed}
    assert extra == {}, (
        "classic-only constructs outside the Connect compatibility "
        f"allowlist (update NOTES.md matrix + this test): {extra}"
    )
    drifted = {
        k: (found[k], allowed[k])
        for k in allowed
        if found.get(k, 0) != allowed[k]
    }
    assert drifted == {}, (
        f"allowlist counts drifted (found, allowed): {drifted}"
    )
