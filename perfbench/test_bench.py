"""Unit tests of the benchmark's own arithmetic, on synthetic traces.

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import pytest

from bench_stats import (
    max_over_median,
    percentile,
    self_times,
    spark_by_group,
    tail_percentile,
    union_length,
)
from bench_trace import Tracer, layer_metrics, op_group


# -- percentiles ---------------------------------------------------------

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # unsorted input


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 0)


@pytest.mark.parametrize(
    "n, want",
    [
        (1000, 99.0),  # 10 samples above p99
        (999, 90.0),   # 9 above p99: fall back to p90
        (100, 90.0),   # exactly 10 above p90
        (99, 75.0),
        (40, 75.0),    # 10 above p75
        (39, 50.0),
        (5, 50.0),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    q = tail_percentile(n)
    assert q == want
    xs = list(range(n))
    beyond = sum(x > percentile(xs, q) for x in xs)
    assert beyond >= 10 or q == 50.0


# -- self time -------------------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([], 0, 10) == 0


def test_self_time_nested_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},  # grandchild
        {"id": 4, "parent": 1, "start": 6.0, "end": 7.0},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 3 - 1)  # only direct children count
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(1)


def test_self_time_overlapping_children_count_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps id 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    assert self_times(spans)[1] == pytest.approx(10 - 5 - 1)


# -- Spark job groups --------------------------------------------------------

def _task(stage, run_ms, launch, finish, read=0, sh_r=0, sh_w=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1e6 / 2,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sh_r},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sh_w},
        },
    }


def _job(job, stages, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": props}


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


EVENTS = [
    _job(0, [0, 1], op_group(3)),
    _task(0, 10, 0, 10, read=100, sh_w=40),
    _task(0, 30, 0, 30, read=200, sh_w=60),
    _stage_done(0),
    _task(1, 5, 30, 35, sh_r=100),
    _stage_done(1),
    # a second job of the same op re-lists stage 1 (skipped): no double count
    _job(1, [1, 2], op_group(3)),
    _task(2, 7, 40, 47),
    _stage_done(2),
    _job(2, [3], "perfbench-untraced"),
    _task(3, 99, 50, 149),
    _stage_done(3),
    _job(3, [4], None),
]


def test_spark_by_group_attributes_jobs_stages_and_tasks():
    g = spark_by_group(EVENTS)
    op = g[op_group(3)]
    assert (op["jobs"], op["stages"], op["tasks"]) == (2, 3, 4)
    assert op["executor_run_ms"] == 52
    assert op["executor_cpu_ms"] == pytest.approx(26)
    assert op["input_bytes"] == 300
    assert op["shuffle_read_bytes"] == 100
    assert op["shuffle_write_bytes"] == 100
    assert sorted(map(sorted, op["stage_task_ms"])) == [[5], [7], [10, 30]]
    assert g["perfbench-untraced"]["executor_run_ms"] == 99
    assert g[None]["jobs"] == 1


def test_max_over_median():
    assert max_over_median([[10, 30], [5]]) == pytest.approx((1.5 + 1.0) / 2)
    assert max_over_median([]) == 0.0


def _op(i, kind):
    return {"id": i, "kind": kind, "wall0": float(i), "wall1": i + 0.5,
            "fs0": {"FS.write": 0, "FS.read": 0}, "fs1": {"FS.write": 10, "FS.read": 4}}


def test_layer_metrics_per_op_attribution():
    tracer = Tracer()
    tracer.spans = [
        {"id": 1, "parent": None, "name": "series.write", "start": 0.0, "end": 0.004, "op": 3},
        {"id": 2, "parent": 1, "name": "changelog.commit", "start": 0.001, "end": 0.003, "op": 3},
        {"id": 3, "parent": None, "name": "series.write", "start": 9.0, "end": 9.5, "op": 9},
    ]
    tracer.counts = {(3, "series.write.segments"): 2, (9, "series.write.segments"): 50}
    ops = [_op(3, "spark_kind"), _op(4, "local_kind")]
    worker = [
        {"name": "datasource.partitions", "t0": 3.2, "dur": 0.01, "counts": {}},
        {"name": "datasource.partitions", "t0": 7.0, "dur": 9.0, "counts": {}},  # no traced op
        {"name": "datasource.push_filters", "t0": 3.1, "dur": 0.0,
         "counts": {"offered": 4, "pushed": 3}},
    ]
    m = layer_metrics(tracer, ops, worker, spark_by_group(EVENTS), {"local_kind"})
    # op 9 is not a traced op: its span and counts are left out
    assert m["series.write.self_ms"] == pytest.approx(2.0)
    assert m["series.write.segments"] == 2
    assert m["changelog.commit.ms"] == pytest.approx(2.0)
    assert m["datasource.partitions.ms"] == pytest.approx(10.0)
    assert m["datasource.pushed_filters_ratio"] == pytest.approx(0.75)
    assert m["fsio.bytes_written"] == 10 and m["fsio.bytes_read"] == 4
    # op 3 ran two jobs; per-op values divide by the two traced ops
    assert m["spark.jobs"] == 1.0
    assert m["spark.stages"] == 1.5
    assert m["spark.jobs_in_local_ops"] == 0


def test_layer_metrics_flags_jobs_in_driver_local_ops():
    m = layer_metrics(Tracer(), [_op(3, "local_kind")], [], spark_by_group(EVENTS),
                      {"local_kind"})
    assert m["spark.jobs_in_local_ops"] == 2


def test_tracer_records_only_while_enabled():
    def prune(segments, plan):
        return segments[:1]

    tracer = Tracer()
    traced = tracer._wrap(prune, "zonemap.prune")
    tracer.op = 5
    assert traced([1, 2, 3], None) == [1]
    assert tracer.spans == [] and tracer.counts == {}
    tracer.enabled = True
    assert traced([1, 2, 3], None) == [1]
    (span,) = tracer.spans
    assert span["name"] == "zonemap.prune" and span["op"] == 5 and span["parent"] is None
    assert tracer.counts == {(5, "zonemap.prune.considered"): 3, (5, "zonemap.prune.kept"): 1}
