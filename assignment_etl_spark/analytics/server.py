"""Interactive dashboard serving: the reference's Streamlit app
(/root/reference/interactive_dashboard.py:37-194) as a dependency-free
stdlib ``http.server`` endpoint over the engine's pushdown widget queries.

Widget-for-widget parity, but with the serving model inverted for scale:
Streamlit loads ENTIRE tables into pandas per rerun (`pd.read_sql_table`,
interactive_dashboard.py:25-27) and lets plotly aggregate in the browser;
here every widget change is a fresh HTTP request whose handler re-runs
the corresponding *pushed-down* Spark query (analytics/dashboard.py) and
returns a render-sized HTML fragment from analytics/render.py's SVG
helpers. A 100 TB table costs one aggregation per interaction, never a
table download.

Routes → reference widgets:
  /                         table selectbox (dashboard.py:37)
  /table?name=T             preview + dtype-driven pickers (41-49)
  /histogram?table&column&bins      numeric tab, 30-bin histogram (67-70)
  /scatter?table&x&y[&color]       scatter with category color (72-93)
  /timeline?table&column&bins      records-over-time, 50 bins (98-110)
  /categories?table&column&k       categorical top-N, slider 5-50 (114-121)
  /quality                   Data Quality tab (134-177)
  /drilldown?reason=R        reason drilldown table (180-186)
  /download?reason=R         filtered-log CSV download (189-194)

Concurrency note: handlers run on the server thread pool but all Spark
work happens through the one driver session — fine for a dashboard's
request rates; put a real ASGI front and a query cache in front for
multi-user production.
"""

from __future__ import annotations

import csv
import io
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, quote, urlencode, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from assignment_etl_spark.analytics.dashboard import (
    classify_columns,
    numeric_histogram,
    quality_drilldown,
    quality_report,
    records_over_time,
    scatter_sample,
    top_categories,
)
from assignment_etl_spark.analytics.render import _esc, _html_table, _svg_bars, _svg_scatter

DRILLDOWN_COLS = ["patient_id", "filename", "original_value", "cleaned_value", "reason"]
_STYLE = (
    "<style>body{font-family:sans-serif;max-width:820px;margin:auto}"
    "table{border-collapse:collapse;font-size:12px}"
    "td,th{border:1px solid #ccc;padding:2px 6px}svg{display:block;margin:12px 0}"
    "</style>"
)


def _link(route: str, **params) -> str:
    """``/route?k=v&…`` with percent-encoded values: a raw ``+`` or space
    in a value (``duplicate encounter_id + code``) would reach the
    handler as a different string. The result has no HTML-special
    characters left to escape."""
    return f"/{route}?{urlencode(params, quote_via=quote)}"


def _page(title: str, body: str) -> bytes:
    return (
        f"<!doctype html><html><head><meta charset='utf-8'><title>{_esc(title)}"
        f"</title>{_STYLE}</head><body><h1>{_esc(title)}</h1>{body}"
        "<p><a href='/'>⌂ tables</a></p></body></html>"
    ).encode()


class DashboardApp:
    """Routes widget requests onto pushdown queries. Split from the HTTP
    handler so tests can drive it directly and any front end can reuse it."""

    def __init__(
        self,
        tables: dict[str, DataFrame],
        *,
        logs_table: str = "logs",
        id_cols: dict[str, str] | None = None,
    ) -> None:
        self.tables = tables
        self.logs_table = logs_table
        self.id_cols = id_cols or {}

    def _df(self, params: dict, key: str = "table") -> DataFrame:
        name = params.get(key, [""])[0]
        if name not in self.tables:
            raise KeyError(f"unknown table {name!r}")
        return self.tables[name]

    # ------------------------------------------------------------ routes

    def index(self, params: dict) -> bytes:
        links = "".join(
            f"<li><a href='{_link('table', name=n)}'>{_esc(n)}</a></li>"
            for n in self.tables
        )
        return _page("ETL Data Distribution Dashboard", f"<ul>{links}</ul>")

    def table(self, params: dict) -> bytes:
        name = params.get("name", [""])[0]
        df = self._df({"table": [name]})
        kinds = classify_columns(df)
        preview = _html_table([r.asDict() for r in df.limit(5).collect()])
        pickers = []
        for c in kinds["numeric"]:
            pickers.append(
                f"<li><a href='{_link('histogram', table=name, column=c, bins=30)}'>"
                f"histogram of {_esc(c)}</a></li>"
            )
        for c in kinds["datetime"]:
            pickers.append(
                f"<li><a href='{_link('timeline', table=name, column=c, bins=50)}'>"
                f"records over time by {_esc(c)}</a></li>"
            )
        for c in kinds["categorical"]:
            pickers.append(
                f"<li><a href='{_link('categories', table=name, column=c, k=10)}'>"
                f"top values of {_esc(c)}</a></li>"
            )
        if len(kinds["numeric"]) >= 2:
            x, y = kinds["numeric"][:2]
            pickers.append(
                f"<li><a href='{_link('scatter', table=name, x=x, y=y)}'>"
                f"scatter {_esc(y)} vs {_esc(x)}</a></li>"
            )
        body = f"<h3>Preview of {_esc(name)}</h3>{preview}<ul>{''.join(pickers)}</ul>"
        if name == self.logs_table:
            body += "<p><a href='/quality'>🧹 Data Quality tab</a></p>"
        return _page(f"Table {name}", body)

    def histogram(self, params: dict) -> bytes:
        df = self._df(params)
        col = params["column"][0]
        bins = int(params.get("bins", ["30"])[0])
        rows = numeric_histogram(df, col, nbins=bins).collect()
        svg = _svg_bars(
            [r["bucket"] for r in rows], [r["count"] for r in rows],
            f"Distribution of {col}",
        )
        return _page(f"Distribution of {col}", svg)

    def timeline(self, params: dict) -> bytes:
        df = self._df(params)
        col = params["column"][0]
        bins = int(params.get("bins", ["50"])[0])
        rows = records_over_time(df, col, nbins=bins).collect()
        svg = _svg_bars(
            [r["bucket"] for r in rows], [r["count"] for r in rows],
            f"Records over time by {col}",
        )
        return _page(f"Records over time by {col}", svg)

    def categories(self, params: dict) -> bytes:
        df = self._df(params)
        col = params["column"][0]
        k = int(params.get("k", ["10"])[0])  # slider 5..50, validated below
        rows = top_categories(df, col, k=k).collect()
        svg = _svg_bars(
            [r[col] for r in rows], [r["count"] for r in rows],
            f"Top {k} values of {col}",
        )
        return _page(f"Top {k} values of {col}", svg)

    def scatter(self, params: dict) -> bytes:
        name = params.get("table", [""])[0]
        df = self._df(params)
        x, y = params["x"][0], params["y"][0]
        color = params.get("color", [None])[0]
        pts = scatter_sample(
            df, x, y, color, max_points=1000, id_col=self.id_cols.get(name)
        ).collect()
        svg = _svg_scatter(
            [r[x] for r in pts], [r[y] for r in pts],
            [r[color] if color else "all" for r in pts],
            f"{y} vs {x}" + (f" colored by {color}" if color else ""),
        )
        return _page(f"{y} vs {x}", svg)

    def quality(self, params: dict) -> bytes:
        logs = self.tables[self.logs_table]
        rep = quality_report(logs)
        reasons = rep["reason_counts"].collect()
        drill = "".join(
            f"<li><a href='{_link('drilldown', reason=r['reason'])}'>{_esc(r['reason'])}"
            f"</a> (<a href='{_link('download', reason=r['reason'])}'>csv</a>)</li>"
            for r in reasons
        )
        body = "\n".join(
            [
                _svg_bars(
                    [r["reason"] for r in reasons], [r["count"] for r in reasons],
                    "Frequency of Data Quality Issues",
                ),
                "<h3>Issues per source file</h3>",
                _html_table([r.asDict() for r in rep["file_reason_counts"].collect()]),
                "<h3>Affected patients</h3>",
                _html_table([r.asDict() for r in rep["affected_entities"].collect()]),
                "<h3>Inspect specific issue type</h3>",
                f"<ul>{drill}</ul>",
            ]
        )
        return _page("Data Quality Overview", body)

    def _drill_rows(self, params: dict, limit: int = 1000) -> list[dict]:
        reason = params.get("reason", [""])[0]
        logs = self.tables[self.logs_table]
        cols = [c for c in DRILLDOWN_COLS if c in logs.columns]
        rows = (
            quality_drilldown(logs, reason)
            .select(*cols)
            .orderBy(*[F.col(c) for c in cols])
            .limit(limit)
            .collect()
        )
        return [r.asDict() for r in rows]

    def drilldown(self, params: dict) -> bytes:
        reason = params.get("reason", [""])[0]
        return _page(
            f"Issue type: {reason}", _html_table(self._drill_rows(params), max_rows=1000)
        )

    def download(self, params: dict) -> tuple[bytes, str, str]:
        """CSV export of the drilldown — body, content type, filename."""
        reason = params.get("reason", [""])[0]
        rows = self._drill_rows(params)
        buf = io.StringIO()
        if rows:
            w = csv.DictWriter(buf, fieldnames=list(rows[0].keys()))
            w.writeheader()
            w.writerows(rows)
        return buf.getvalue().encode(), "text/csv", f"log_{reason}.csv"


def serve_dashboard(
    tables: dict[str, DataFrame],
    *,
    port: int = 0,
    logs_table: str = "logs",
    id_cols: dict[str, str] | None = None,
) -> ThreadingHTTPServer:
    """Start the dashboard server on ``port`` (0 = ephemeral) in a daemon
    thread and return the server (``.server_address[1]`` is the bound
    port; ``.shutdown()`` stops it)."""
    app = DashboardApp(tables, logs_table=logs_table, id_cols=id_cols)
    routes = {
        "/": app.index,
        "/table": app.table,
        "/histogram": app.histogram,
        "/timeline": app.timeline,
        "/categories": app.categories,
        "/scatter": app.scatter,
        "/quality": app.quality,
        "/drilldown": app.drilldown,
    }

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test output
            pass

        def do_GET(self):  # noqa: N802 (stdlib API name)
            u = urlparse(self.path)
            params = parse_qs(u.query)
            try:
                if u.path == "/download":
                    body, ctype, fname = app.download(params)
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header(
                        "Content-Disposition", f'attachment; filename="{fname}"'
                    )
                elif u.path in routes:
                    body = routes[u.path](params)
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                else:
                    body = b"not found"
                    self.send_response(404)
                    self.send_header("Content-Type", "text/plain")
            except (KeyError, ValueError) as e:
                body = str(e).encode()
                self.send_response(400)
                self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
