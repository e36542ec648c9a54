"""`Series.write(DataFrame)` checks row order inside the encode task.

Each task counts descents in its partition and the driver compares the
partition edges (`segwriter.partition_task`, `segwriter.sort_violation`);
there is no separate sortedness job. Every case below writes a frame
with an exact partition layout (empty partitions included) twice:

- by default, the written rows must equal ``df.sort`` on the index,
  whether the frame took the presorted path or fell back to the sort;
- with ``validate_sorted=True``, the write must raise the "not sorted"
  or "partition boundary" ValueError exactly for the unsorted layouts,
  and commit nothing.

Neither may leave a ``_tmp-`` staging dir under ``segments/``.
"""

import math

import pytest

from lakota_spark import segwriter
from lakota_spark.schema import Schema

NAN = float("nan")
ONE = Schema(k="int*", v="float")
TWO = Schema(a="int*", b="int*", v="float")
FLT = Schema(x="float*", v="float")
DESC = r"not sorted by index columns$"
EDGE = "partition boundary"

# name: (schema, partitions of index tuples, validate_sorted error)
CASES = {
    "sorted": (
        ONE, [[(i,) for i in range(j, j + 25)] for j in (0, 25, 50, 75)], None),
    "descent": (ONE, [[(5,), (3,)], [(7,), (9,)]], DESC),
    "descent_in_one_partition": (
        ONE, [[(0,), (1,), (2,)], [(3,), (5,), (4,), (6,)], [(7,), (8,)]], DESC),
    "overlapping_edges": (ONE, [[(50,), (51,)], [(1,), (2,)]], EDGE),
    "partly_overlapping_edges": (ONE, [[(1,), (5,)], [(3,), (8,)]], EDGE),
    "equal_key_across_edge": (ONE, [[(1,), (2,)], [(2,), (3,)]], None),
    "empty_lead_middle_trail": (ONE, [[], [(1,), (2,)], [], [(3,), (4,)], []], None),
    "overlap_across_empty": (ONE, [[], [(5,), (6,)], [], [(1,), (2,)], []], EDGE),
    "descent_and_edge": (ONE, [[(9,), (8,)], [(1,)]], DESC),
    "two_col_sorted": (TWO, [[(1, 5), (2, 0)], [(2, 1), (3, 0)]], None),
    "two_col_descent": (TWO, [[(1, 5), (1, 4)], [(2, 0)]], DESC),
    "two_col_edge": (TWO, [[(1, 5), (2, 3)], [(2, 1), (3, 0)]], EDGE),
    "two_col_equal_edge": (TWO, [[(1, 5), (2, 3)], [(2, 3), (3, 0)]], None),
    "nan_last": (FLT, [[(1.0,), (2.0,)], [(3.0,), (NAN,)]], None),
    "nan_descent": (FLT, [[(NAN,), (1.0,)], [(2.0,)]], DESC),
    "nan_equal_edge": (FLT, [[(1.0,), (NAN,)], [(NAN,)]], None),
    "nan_before_edge": (FLT, [[(1.0,), (NAN,)], [(2.0,), (3.0,)]], EDGE),
}


def frame_of(spark, schema, parts):
    """A frame whose partition ``i`` holds exactly ``parts[i]``; the value
    column is a function of the index, so equal keys are equal rows."""
    rows = [[(*t, float(sum(x for x in t if x == x))) for t in p] for p in parts]
    ddl = ", ".join(
        f"{c} {'double' if a == 'float' else 'long'}"
        for c, a in schema.columns.items()
    )
    rdd = spark.sparkContext.parallelize(range(len(rows)), len(rows))
    return spark.createDataFrame(rdd.flatMap(lambda i: rows[i]), ddl)


def plain(rows):
    """Rows as tuples with NaN replaced by a comparable marker."""
    return [
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]


def staging_dirs(coll):
    return [n for n in coll.fs.ls(coll.seg_prefix) if n.startswith("_tmp-")]


@pytest.mark.parametrize("case", sorted(CASES))
def test_written_rows_equal_sort_and_validate_raises(repo, case):
    schema, parts, err = CASES[case]
    df = frame_of(repo.spark, schema, parts)
    assert df.rdd.getNumPartitions() == len(parts)
    want = plain(df.sort(*schema.idx).collect())
    coll = repo.create_collection(schema, "c")
    s = coll.series("x")
    s.write(df)
    assert plain(s.frame().collect()) == want
    (seg,) = s.segments()
    assert seg.length == len(want)
    v = coll.series("v")
    if err is None:
        v.write(df, validate_sorted=True)
        assert plain(v.frame().collect()) == want
    else:
        with pytest.raises(ValueError, match=err):
            v.write(df, validate_sorted=True)
        assert v.segments() == []
    assert staging_dirs(coll) == []


def test_presorted_write_runs_one_job(repo, count_jobs):
    # the presorted path is one encode job, with or without
    # validate_sorted; a descent costs the sort path after it
    spark = repo.spark
    schema, parts, _ = CASES["sorted"]
    df = frame_of(spark, schema, parts)
    coll = repo.create_collection(schema, "j")
    assert count_jobs(lambda: coll.series("a").write(df)) == 1
    assert (
        count_jobs(lambda: coll.series("b").write(df, validate_sorted=True))
        == 1
    )
    # one page per input partition: the input layout was written as-is
    (seg,) = coll.series("a").segments()
    assert len(coll.fs.ls(f"{coll.seg_prefix}/{seg.path}")) == len(parts)
    _, bad, _ = CASES["descent"]
    assert count_jobs(lambda: coll.series("c").write(
        frame_of(spark, schema, bad))) > 1
    assert staging_dirs(coll) == []


def test_many_partition_validate_checks_then_sorts(
    repo, monkeypatch, count_jobs
):
    # past the partition gate (more non-empty partitions came back from
    # the encode job than 2 x defaultParallelism) the write discards the
    # staged pages and sorts (the range exchange compacts confetti);
    # validate_sorted still raises on an unsorted input
    spark = repo.spark
    sc = spark.sparkContext
    schema, parts, _ = CASES["sorted"]
    monkeypatch.setattr(type(sc), "defaultParallelism", 1)
    coll = repo.create_collection(schema, "m")
    sorted_df = frame_of(spark, schema, parts)  # 4 partitions > 2
    # partitions past the gate are checked, not encoded
    got, tmp_rel = coll.series("ok")._encode_partitions(sorted_df, 2)
    assert [(p.n, bool(p.names)) for p in got] == [
        (25, True), (25, True), (25, False), (25, False)]
    segwriter.discard(coll.fs, tmp_rel)
    assert count_jobs(lambda: coll.series("ok").write(
        sorted_df, validate_sorted=True)) > 1
    assert plain(coll.series("ok").frame().collect()) == plain(
        sorted_df.sort("k").collect()
    )
    _, bad, _ = CASES["partly_overlapping_edges"]
    bad = bad + [[(9,)], [(10,)], []]  # 4 non-empty partitions > 2
    with pytest.raises(ValueError, match=EDGE):
        coll.series("bad").write(frame_of(spark, schema, bad), validate_sorted=True)
    assert staging_dirs(coll) == []


def test_range_exchanged_input_counts_no_partitions_up_front(
    repo, count_jobs
):
    # the partition gate reads the encode job's own output: a presorted
    # input with an uncheckpointed range exchange runs only the jobs of
    # that one encode (range sampling, the shuffle stage, the encode
    # stage), checkpointed by default or not (the default write ran 5
    # jobs when the gate asked `df.rdd` for its partition count first)
    from pyspark.sql import functions as F

    spark = repo.spark
    src = (
        spark.range(100_000, numPartitions=4)
        .select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
        .repartitionByRange(2, "k")
        .sortWithinPartitions("k")
    )
    coll = repo.create_collection(ONE, "r")
    assert count_jobs(lambda: coll.series("a").write(src)) == 3
    assert count_jobs(
        lambda: coll.series("b").write(src, checkpoint=False)
    ) == 3
    for label in ("a", "b"):
        (seg,) = coll.series(label).segments()
        assert seg.length == 100_000
        # presorted path: one page per input partition
        assert len(coll.fs.ls(f"{coll.seg_prefix}/{seg.path}")) == 2


def test_sort_violation_order():
    # driver-side edge check: nulls first, NaN last and equal to NaN
    def part(lo, hi):
        return segwriter.Pages([], [], None, 1, lo, hi, None)

    ok = [part((None,), (None,)), part((None,), (1.0,)), part((2.0,), (NAN,)),
          part((NAN,), (NAN,))]
    assert segwriter.sort_violation(ok) is None
    assert segwriter.sort_violation([part((1,), (5,)), None]) is not None
    msg = segwriter.sort_violation([part((1.0,), (NAN,)), part((2.0,), (3.0,))])
    assert msg.endswith("(partition boundary (nan,) > (2.0,))")
    assert segwriter.sort_violation([part((1,), (1,)), part((None,), (2,))])


def test_descents_brute_force():
    # `descents` against a pairwise count in df.sort's order: nulls
    # first, NaN after every number and equal to NaN, -0.0 == 0.0
    import random

    import pyarrow as pa

    def key(v):
        return (0,) if v is None else (2,) if v != v else (1, v)

    rnd = random.Random(5)
    for _ in range(300):
        n = rnd.randint(0, 6)
        t = pa.table({
            "a": pa.array([rnd.choice([None, NAN, -1.0, -0.0, 0.0, 2.5])
                           for _ in range(n)], pa.float64()),
            "b": pa.array([rnd.choice([None, 1, 2]) for _ in range(n)], pa.int64()),
            "s": [rnd.choice(["a", "ab", "b"]) for _ in range(n)],
        })
        for idx in (["a"], ["b"], ["b", "a"], ["s", "a", "b"]):
            rows = [tuple(key(t[c][i].as_py()) for c in idx) for i in range(n)]
            want = sum(y < x for x, y in zip(rows, rows[1:]))
            assert segwriter.descents(t, idx) == want, (idx, t.to_pydict())
