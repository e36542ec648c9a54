"""Browse UI for a repo — the lkweb role re-expressed stdlib-only.

The reference ships a FastAPI + Jinja + uPlot dashboard as contrib
(`contrib/lkweb/lkweb/main.py`): an index of collections, label search,
a per-series column list, and a paged table/graph view backed by a
``/read`` endpoint that pages `Series.frame` and last-aggregates on the
time dimension when the index is composite. This module serves the same
surface with nothing beyond the standard library — HTML is rendered
server-side and the graph is an inline SVG polyline instead of a JS
plotting dependency (none is available here, and a browse UI must not
pull one in).

Endpoints (reference parity, `lkweb/main.py:68-244`):

    GET /                                 index: collections + search box
    GET /search?label=<patterns>          case-insensitive label search
                                          across collections (each
                                          whitespace-separated pattern
                                          contributes its matches)
    GET /series/<collection>/<label>      numeric value columns of one
                                          series, linking to views
    GET /view/<collection>/<label>/<col>  paged table or SVG graph view
        ?page=N&start=&stop=&view=table|graph
    GET /read/<collection>/<label>/<col>.json
        ?page=N&start=&stop=              JSON {"data": [[epoch_s...],
                                          [values...]]} — the plot feed;
                                          composite indexes aggregate
                                          (last value per time point),
                                          mirroring the reference's
                                          ``(last self.col)`` reduce

Paging goes through ``Series.df(limit=, offset=, select=)`` — the
interval-ordered segment scan serves each page in the server process,
without a global sort or a Spark job, so the UI stays responsive on
large series. Only the composite-index plot feed runs a Spark
aggregation. Read-only by construction: the
handler never mutates the repo; like the reference it is a deployment
building block (put it behind your gateway), not a multi-tenant
service.

Usage::

    from lakota_spark.web import serve_ui
    with serve_ui(repo, port=0) as url:
        ...  # drive with a browser / urllib

    python -m lakota_spark.web /path/to/repo --port 8080
"""

from __future__ import annotations

import contextlib
import json
import threading
from html import escape
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, quote, unquote, urlparse

PAGE_LEN = 10_000  # rows per table page / points per graph page

_STYLE = """<style>
body{font-family:system-ui,sans-serif;margin:2rem;color:#222}
table{border-collapse:collapse}td,th{border:1px solid #ccc;padding:2px 8px}
a{color:#06c;text-decoration:none}a:hover{text-decoration:underline}
nav{margin-bottom:1rem}input{padding:2px 6px}
svg{border:1px solid #ddd;background:#fafafa}
</style>"""


def _page(title: str, body: str) -> bytes:
    return (
        f"<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{escape(title)}</title>{_STYLE}</head>"
        f"<body><nav><a href='/'>lakota-spark</a></nav>{body}</body></html>"
    ).encode()


def _numeric_value_columns(schema) -> list[str]:
    """Value columns a graph can plot (reference keeps f8/i8 only,
    `lkweb/main.py:113-119`)."""
    return [
        c
        for c in schema.values
        if schema.columns[c] in ("float", "int")
    ]


def _time_dim(schema) -> str | None:
    """First timestamp index column (`lkweb/main.py:199-206`)."""
    for c in schema.idx:
        if schema.columns[c] == "timestamp":
            return c
    return None


def _page_rows(series, cols: list, page: int, start, stop) -> list[dict]:
    """Rows of one page of ``cols`` (`Series.df`, no Spark job) as the
    values a Spark row holds: a null is None, an int column holds ints."""
    pdf = series.df(
        start=start or None,
        stop=stop or None,
        limit=PAGE_LEN,
        offset=page * PAGE_LEN,
        select=cols,
    )
    rows = pdf.astype(object).where(pdf.notna(), None).to_dict("records")
    # pandas holds an int column with nulls as floats
    ints = [c for c in cols if series.schema.columns[c] == "int"]
    for r in rows:
        for c in ints:
            if r[c] is not None:
                r[c] = int(r[c])
    return rows


def _read_page(series, column: str, page: int, start, stop):
    """(epoch_seconds, values) for one page, last-aggregated per time
    point when the index is composite (the reference's ``(last
    self.col)`` reduce, a Spark ``groupBy``); a single-column index
    pages through `_page_rows`."""
    from pyspark.sql import functions as F

    schema = series.schema
    tdim = _time_dim(schema)
    if tdim is None or column not in schema.columns:
        return None
    select = list(dict.fromkeys([*schema.idx, column]))
    if len(schema.idx) == 1:
        rows = _page_rows(series, select, page, start, stop)
        return (
            [int(r[tdim].timestamp()) for r in rows],
            [r[column] for r in rows],
        )
    # ADVICE r9: aggregate per time point BEFORE paging — paging the
    # raw rows first would last-aggregate a boundary-straddling
    # timestamp from only the rows on that page. Page over the
    # DISTINCT time points instead: the agg is distributed (one
    # groupBy over the pruned range) and limit/offset slice its
    # ordered output, so every plotted 'last' equals the
    # whole-series answer.
    frm = (
        series.frame(start=start or None, stop=stop or None, select=select)
        .groupBy(tdim)
        .agg(
            F.expr(
                f"max_by({column}, struct({', '.join(schema.idx)}))"
            ).alias(column)
        )
        .orderBy(tdim)
    )
    if page:
        frm = frm.offset(page * PAGE_LEN)
    rows = frm.limit(PAGE_LEN).select(
        F.col(tdim).cast("timestamp").cast("long").alias("_t"),
        F.col(column).alias("_v"),
    ).collect()
    return [r["_t"] for r in rows], [r["_v"] for r in rows]


def _svg_polyline(ts: list, vs: list, w: int = 900, h: int = 300) -> str:
    pts = [(t, v) for t, v in zip(ts, vs) if t is not None and v is not None]
    if len(pts) < 2:
        return "<p>not enough points to plot</p>"
    xs, ys = zip(*pts)
    x0, x1 = min(xs), max(xs)
    y0, y1 = min(ys), max(ys)
    dx = (x1 - x0) or 1
    dy = (y1 - y0) or 1
    coords = " ".join(
        f"{(x - x0) / dx * (w - 20) + 10:.1f},"
        f"{h - 10 - (y - y0) / dy * (h - 20):.1f}"
        for x, y in pts
    )
    return (
        f"<svg width='{w}' height='{h}' viewBox='0 0 {w} {h}'>"
        f"<polyline fill='none' stroke='#c33' stroke-width='1' "
        f"points='{coords}'/></svg>"
        f"<p>y: [{y0:g}, {y1:g}]  points: {len(pts)}</p>"
    )


def _make_handler(repo):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):  # quiet
            pass

        # -- plumbing ------------------------------------------------------

        def _send(self, code: int, body: bytes, ctype="text/html"):
            self.send_response(code)
            self.send_header("Content-Type", f"{ctype}; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _html(self, title, body):
            self._send(200, _page(title, body))

        # -- routes --------------------------------------------------------

        def do_GET(self):  # noqa: N802 (stdlib naming)
            parsed = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
            parts = [unquote(p) for p in parsed.path.split("/") if p]
            try:
                if not parts:
                    return self._index()
                if parts[0] == "favicon.ico":
                    return self._send(200, b"", "image/x-icon")
                if parts[0] == "search":
                    return self._search(q.get("label", ""))
                if parts[0] == "series" and len(parts) == 3:
                    return self._series(parts[1], parts[2])
                if parts[0] == "view" and len(parts) == 4:
                    return self._view(parts[1], parts[2], parts[3], q)
                if parts[0] == "read" and len(parts) == 4:
                    col = parts[3]
                    if col.endswith(".json"):
                        col = col[: -len(".json")]
                    return self._read(parts[1], parts[2], col, q)
            except KeyError:
                return self._send(404, b"not found", "text/plain")
            except (ValueError, TypeError) as exc:
                # input-shaped failures: malformed page numbers, garbage
                # start/stop bounds, unknown columns -> the client's fault
                return self._send(
                    400,
                    f"bad request: {type(exc).__name__}".encode(),
                    "text/plain",
                )
            except Exception as exc:  # noqa: BLE001 — a handler thread
                # must always answer; genuine server-side faults (Spark
                # job errors, backend IO) are 500s WITH a logged
                # traceback, not mislabeled client errors (ADVICE r9)
                import logging
                import traceback

                logging.getLogger("lakota_spark.web").error(
                    "GET %s failed:\n%s", self.path,
                    traceback.format_exc(),
                )
                return self._send(
                    500,
                    f"internal error: {type(exc).__name__}".encode(),
                    "text/plain",
                )
            return self._send(404, b"not found", "text/plain")

        def _index(self):
            items = "".join(
                f"<li><a href='/search?label=&collection={quote(n)}'>"
                f"{escape(n)}</a> — "
                + ", ".join(
                    f"<a href='/series/{quote(n)}/{quote(s)}'>"
                    f"{escape(s)}</a>"
                    for s in (repo / n).ls()[:20]
                )
                + "</li>"
                for n in repo.ls()
            )
            body = (
                "<h1>Collections</h1>"
                "<form action='/search'><input name='label' "
                "placeholder='label search'/>"
                "<button>search</button></form>"
                f"<ul>{items}</ul>"
            )
            self._html("lakota-spark", body)

        def _search(self, label: str):
            # reference semantics (`lkweb/main.py:90-105`): each
            # whitespace-separated pattern contributes its
            # case-insensitive substring matches
            patterns = [p.lower() for p in label.split()] or [""]
            hits = []
            for name in repo.ls():
                labels = (repo / name).ls()
                for pat in patterns:
                    hits.extend(
                        (name, lab)
                        for lab in labels
                        if pat in lab.lower()
                    )
            rows = "".join(
                f"<li><a href='/series/{quote(c)}/{quote(s)}'>"
                f"{escape(c)} / {escape(s)}</a></li>"
                for c, s in hits
            )
            self._html(
                "search", f"<h1>Search {escape(label)!s}</h1><ul>{rows}</ul>"
            )

        def _series(self, collection: str, label: str):
            coll = repo / collection
            if label not in coll.ls():
                raise KeyError(label)
            cols = _numeric_value_columns(coll.schema)
            rows = "".join(
                f"<li>{escape(c)} — "
                f"<a href='/view/{quote(collection)}/{quote(label)}/"
                f"{quote(c)}?view=graph'>graph</a> | "
                f"<a href='/view/{quote(collection)}/{quote(label)}/"
                f"{quote(c)}?view=table'>table</a></li>"
                for c in cols
            )
            self._html(
                f"{collection}/{label}",
                f"<h1>{escape(collection)} / {escape(label)}</h1>"
                f"<p>index: {', '.join(map(escape, coll.schema.idx))}</p>"
                f"<ul>{rows}</ul>",
            )

        def _nav_links(self, collection, label, column, q, page):
            base = (
                f"/view/{quote(collection)}/{quote(label)}/{quote(column)}"
            )

            def href(params):
                pairs = [f"page={params.pop('page')}"] + [
                    f"{k}={quote(v)}"
                    for k, v in params.items()
                    if k in ("start", "stop", "view") and v
                ]
                return base + "?" + "&".join(pairs)

            other = "table" if q.get("view") != "table" else "graph"
            return (
                f"<p><a href='{href({**q, 'page': max(page - 1, 0)})}'>"
                "prev</a> "
                f"page {page} "
                f"<a href='{href({**q, 'page': page + 1})}'>next</a> | "
                f"<a href='{href({**q, 'page': page, 'view': other})}'>"
                f"switch to {other}</a></p>"
            )

        def _view(self, collection, label, column, q):
            coll = repo / collection
            if label not in coll.ls():
                raise KeyError(label)
            page = max(int(q.get("page", 0) or 0), 0)
            start, stop = q.get("start"), q.get("stop")
            nav = self._nav_links(collection, label, column, q, page)
            if q.get("view") == "table":
                cols = list(
                    dict.fromkeys([*coll.schema.idx, column])
                )
                rows = _page_rows(
                    coll.series(label), cols, page, start, stop
                )
                head = "".join(f"<th>{escape(c)}</th>" for c in cols)
                body = "".join(
                    "<tr>"
                    + "".join(f"<td>{escape(str(r[c]))}</td>" for c in cols)
                    + "</tr>"
                    for r in rows
                )
                self._html(
                    column,
                    f"<h1>{escape(collection)}/{escape(label)}/"
                    f"{escape(column)}</h1>{nav}"
                    f"<table><tr>{head}</tr>{body}</table>",
                )
                return
            data = _read_page(
                coll.series(label), column, page, start, stop
            )
            plot = (
                "<p>series has no timestamp index — table view only</p>"
                if data is None
                else _svg_polyline(*data)
            )
            self._html(
                column,
                f"<h1>{escape(collection)}/{escape(label)}/"
                f"{escape(column)}</h1>{nav}{plot}",
            )

        def _read(self, collection, label, column, q):
            coll = repo / collection
            if label not in coll.ls():
                raise KeyError(label)
            page = max(int(q.get("page", 0) or 0), 0)
            data = _read_page(
                coll.series(label), column, page,
                q.get("start"), q.get("stop"),
            )
            if data is None:
                return self._send(200, b'{"data": []}', "application/json")
            body = json.dumps({"data": [data[0], data[1]]}).encode()
            self._send(200, body, "application/json")

    return Handler


@contextlib.contextmanager
def serve_ui(repo, host: str = "127.0.0.1", port: int = 0):
    """Serve the browse UI for ``repo``; yields the base URL."""
    httpd = ThreadingHTTPServer((host, port), _make_handler(repo))
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://{host}:{httpd.server_address[1]}"
    finally:
        httpd.shutdown()
        httpd.server_close()
        thread.join(timeout=5)


def main() -> None:
    import argparse

    from lakota_spark.repo import Repo
    from lakota_spark.session import get_spark

    ap = argparse.ArgumentParser(description="lakota-spark browse UI")
    ap.add_argument("root")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args()
    repo = Repo(args.root, get_spark("lakota-web"))
    httpd = ThreadingHTTPServer(
        (args.host, args.port), _make_handler(repo)
    )
    print(f"serving {args.root} on http://{args.host}:{args.port}")
    httpd.serve_forever()


if __name__ == "__main__":
    main()
