"""Capture .explain("formatted") for bench rungs into a directory.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [query ...]
  out_dir: where the plans go (created if missing), e.g. plans/r14
  suffix:  "before" or "after": each plan is written to
           <out_dir>/<query>_<suffix>.txt
  query:   bench rung names (default: every rung in bench.BENCH_QUERIES)

Plan-only (no execution): builds each DataFrame and dumps the formatted
physical plan, plus a one-line summary (Exchange count, join nodes,
Python-eval nodes) to stdout so plan shapes can be diffed at a glance.
The data is read from $SPARK_GRAFT_SF_DIR (required here).

Plans are captured through the public ``explain()`` API (stdout
redirected), which also works under Spark Connect, not through the
private ``PythonSQLUtils.explainString`` JVM hook.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from lakota_spark.session import get_spark  # noqa: E402


def summarize(plan: str) -> str:
    n_exch = len(re.findall(r"\bExchange\b", plan))
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    n_smj = len(re.findall(r"SortMergeJoin", plan))
    n_shj = len(re.findall(r"ShuffledHashJoin", plan))
    n_bnl = len(re.findall(r"BroadcastNestedLoopJoin", plan))
    n_cart = len(re.findall(r"CartesianProduct", plan))
    n_py = len(
        re.findall(
            r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
            r"|FlatMapGroupsInPandas",
            plan,
        )
    )
    n_win = len(re.findall(r"\bWindow\b", plan))
    n_wgl = len(re.findall(r"WindowGroupLimit", plan))
    n_sort = len(re.findall(r"\bSort\b", plan))
    n_agg = len(
        re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan)
    )
    return (
        f"exch={n_exch} bhj={n_bhj} smj={n_smj} shj={n_shj} bnl={n_bnl} "
        f"cart={n_cart} py={n_py} win={n_win} wgl={n_wgl} "
        f"sort={n_sort} agg={n_agg}"
    )


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to the data dir bench.py reads")
    import bench

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("lakota-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    names = [n for n in bench.BENCH_QUERIES if not only or n in only]
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001
            print(f"PLAN_ERROR {name}: {str(exc)[:160]}")
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {summarize(plan)}")


if __name__ == "__main__":
    main()
