"""Browse-UI endpoints (reference lkweb parity,
`contrib/lkweb/lkweb/main.py:68-244`): index, label search, series
column list, paged table/graph views, and the JSON read feed with
last-aggregation on composite indexes."""

import datetime as dt
import json
from urllib.request import urlopen

import pytest

from lakota_spark.schema import Schema
from lakota_spark.web import PAGE_LEN, serve_ui


@pytest.fixture()
def ui(repo):
    coll = repo.create_collection(
        Schema(ts="timestamp*", value="float", n="int", tag="str"), "metrics"
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(minutes=i), float(i), i, f"t{i % 3}")
        for i in range(50)
    ]
    coll.series("cpu").write(
        {
            "ts": [r[0] for r in rows],
            "value": [r[1] for r in rows],
            "n": [r[2] for r in rows],
            "tag": [r[3] for r in rows],
        }
    )
    # composite index: two rows per timestamp — the read feed must
    # last-aggregate to one point per time
    multi = repo.create_collection(
        Schema(ts="timestamp*", k="int*", value="float"), "multi"
    )
    multi.series("m").write(
        {
            "ts": [base, base, base + dt.timedelta(minutes=1)],
            "k": [1, 2, 1],
            "value": [10.0, 20.0, 30.0],
        }
    )
    with serve_ui(repo) as url:
        yield url


def _get(url: str) -> bytes:
    with urlopen(url) as resp:
        assert resp.status == 200
        return resp.read()


def test_index_and_search(ui):
    body = _get(ui + "/").decode()
    assert "metrics" in body and "cpu" in body
    hits = _get(ui + "/search?label=CP").decode()  # case-insensitive
    assert "metrics / cpu" in hits
    assert "multi / m" not in hits


def test_series_lists_numeric_value_columns_only(ui):
    body = _get(ui + "/series/metrics/cpu").decode()
    assert "value" in body and ">n —" in body.replace("<li>n —", ">n —")
    assert "tag" not in body.split("</p>", 1)[1]  # str column not plottable
    assert "index: ts" in body


def test_table_view_pages_through_frame(ui):
    body = _get(ui + "/view/metrics/cpu/value?view=table").decode()
    assert "<table>" in body and "2024-01-01 00:00:00" in body
    assert "switch to graph" in body
    # out-of-range page: empty table, no error
    far = _get(ui + "/view/metrics/cpu/value?view=table&page=99").decode()
    assert "<table>" in far


def test_graph_view_renders_svg(ui):
    body = _get(ui + "/view/metrics/cpu/value?view=graph").decode()
    assert "<svg" in body and "polyline" in body


def test_read_feed_json(ui):
    data = json.loads(_get(ui + "/read/metrics/cpu/value.json"))
    ts, vs = data["data"]
    assert len(ts) == len(vs) == 50
    assert ts == sorted(ts)
    assert ts[0] == int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
                        .timestamp())
    assert vs[:3] == [0.0, 1.0, 2.0]
    # range filter goes through Series.frame bounds
    data = json.loads(
        _get(ui + "/read/metrics/cpu/value.json"
             "?start=2024-01-01T00:10:00&stop=2024-01-01T00:12:00")
    )
    assert data["data"][1] == [10.0, 11.0, 12.0]


def test_read_feed_composite_index_last_aggregates(ui):
    data = json.loads(_get(ui + "/read/multi/m/value.json"))
    ts, vs = data["data"]
    # two rows at t0 collapse to the LAST (highest k) value
    assert len(ts) == 2
    assert vs == [20.0, 30.0]


def test_page_len_slices(ui):
    # PAGE_LEN is the limit/offset unit fed to Series.frame
    assert PAGE_LEN > 0
    data = json.loads(_get(ui + "/read/metrics/cpu/value.json?page=1"))
    assert data["data"] == [[], []]  # 50 rows < one page


def test_malformed_requests_get_http_errors(ui):
    # review finding (round 9): a handler thread must always answer —
    # malformed params become 400, never a dropped connection
    from urllib.error import HTTPError
    from urllib.request import urlopen

    for path, code in (
        ("/view/metrics/cpu/value?view=table&page=abc", 400),
        ("/view/metrics/nope/value", 404),
        ("/series/metrics/nope", 404),
    ):
        try:
            urlopen(ui + path)
            raise AssertionError(f"{path} unexpectedly succeeded")
        except HTTPError as e:
            assert e.code == code, (path, e.code)
    # the switch-view link is well-formed even with no kept params
    body = _get(ui + "/view/metrics/cpu/value?page=1").decode()
    assert "?page=1&view=table" in body  # '&' present before view


def test_page_boundary_aggregates_whole_series(ui, monkeypatch):
    # ADVICE r9: paging must slice DISTINCT time points after the
    # composite-index last-aggregation — with PAGE_LEN=1 the two rows at
    # t0 straddle the old raw-row page boundary and the plotted 'last'
    # would have been the page-local 10.0 instead of 20.0
    import lakota_spark.web as web

    monkeypatch.setattr(web, "PAGE_LEN", 1)
    p0 = json.loads(_get(ui + "/read/multi/m/value.json"))
    assert p0["data"][1] == [20.0]
    p1 = json.loads(_get(ui + "/read/multi/m/value.json?page=1"))
    assert p1["data"][1] == [30.0]


def test_server_side_faults_are_500_with_log(ui, monkeypatch, caplog):
    # ADVICE r9: only input-shaped failures are 400s; an internal fault
    # (Spark job error, backend IO) answers 500 and logs the traceback
    from urllib.error import HTTPError
    from urllib.request import urlopen

    import lakota_spark.web as web

    def boom(*a, **k):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(web, "_read_page", boom)
    with caplog.at_level("ERROR", logger="lakota_spark.web"):
        try:
            urlopen(ui + "/read/multi/m/value.json")
            raise AssertionError("expected HTTP 500")
        except HTTPError as e:
            assert e.code == 500
    assert any("RuntimeError" in r.message for r in caplog.records)


def test_single_index_pages_render_nulls_without_a_job(repo, count_jobs):
    # the table view and the single-index plot feed page through
    # Series.df: no Spark job, and each cell holds what a Spark row of
    # frame() holds (None for a null, an int in an int column)
    import lakota_spark.web as web

    coll = repo.create_collection(
        Schema(ts="timestamp*", value="float", n="int", tag="str"), "nulls"
    )
    s = coll.series("x")
    base = dt.datetime(2024, 1, 1)
    s.write({
        "ts": [base, base + dt.timedelta(minutes=1)],
        "value": [1.5, None],
        "n": [None, 2],
        "tag": [None, "a"],
    })
    cols = ["ts", "value", "n", "tag"]
    rows, feed = [], []
    assert count_jobs(
        lambda: rows.extend(web._page_rows(s, cols, 0, None, None))
    ) == 0
    assert rows == [r.asDict() for r in s.frame().collect()]
    assert count_jobs(
        lambda: feed.append(web._read_page(s, "value", 0, None, None))
    ) == 0
    t0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    assert feed == [([t0, t0 + 60], [1.5, None])]
    with serve_ui(repo) as url:
        body = _get(url + "/view/nulls/x/n?view=table").decode()
    assert (
        "<td>2024-01-01 00:00:00</td><td>None</td></tr>"
        "<tr><td>2024-01-01 00:01:00</td><td>2</td>"
    ) in body
