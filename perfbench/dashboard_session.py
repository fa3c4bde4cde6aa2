"""The ``dashboard_session`` workload: the analyst's interactive session.

Set-up runs one ETL operation of the same seed to write the store
(at ``STORE_SIZES``), reads the four tables back and starts
``serve_dashboard`` on a local port. The traffic follows the
dashboard's own page flow, read from its links at set-up: one analyst
session per table the index page lists, made of that table's page and
then every widget link the page offers, in page order (a histogram per
numeric column, a timeline per date column, a top-values chart per
categorical column, a scatter of the first two numeric columns, and for
the logs table the Data Quality tab). On the Data Quality tab the
session inspects the first issue type listed, the most frequent: its
drill-down and its CSV download. Set-up fetches every URL once; those
bodies are the reference.

Two client threads then run a closed loop: each deals the requests of
one pass over all sessions in a seeded shuffled order, sending each
after the previous answer. One operation is one HTTP request, timed at
the client.

A request fails on an exception, a non-200 status, or — on routes whose
output order is defined by the query — a body that differs from the one
set-up got for the same URL.
"""

from __future__ import annotations

import hashlib
import html
import http.client
import itertools
import random
import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote, urlparse

from etl_ingest import EtlIngest, release, storage_bytes
from inputs import EtlSizes

CLIENTS = 2
# The store the dashboard serves: small enough that driver planning and
# job scheduling, not executor throughput, dominate a request.
STORE_SIZES = EtlSizes(patients=3_000, encounters=6_000, diagnoses=6_000)
# Routes whose body order is fixed by the query; their bodies are
# compared byte for byte with the body set-up got. The others (table
# preview, scatter sample, quality tables) must answer 200.
ORDERED = {"histogram", "timeline", "categories", "drilldown", "download"}
ROUTES = ("categories", "download", "drilldown", "histogram", "quality",
          "scatter", "table", "timeline")
ID_COLS = {"patients": "patient_id", "encounters": "encounter_id", "logs": "patient_id"}
LINK = re.compile(r"href='([^']*)'")


def route_of(url: str) -> str:
    return urlparse(url).path.lstrip("/")


def page_links(body: bytes) -> list[str]:
    """The links a page offers, in page order, the link home left out,
    as a browser sends them: spaces and non-ASCII percent-encoded."""
    out = []
    for href in LINK.findall(body.decode("utf-8", "replace")):
        href = quote(html.unescape(href), safe="/?&=+%:,;")
        if href != "/" and href not in out:
            out.append(href)
    return out


def get(port: int, url: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class DashboardSession:
    def __init__(self, spark, work: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.etl = EtlIngest(spark, work, seed, sizes=STORE_SIZES)
        self.server = None
        self.reference: dict[str, str] = {}

    def setup(self) -> dict:
        """Write the store, serve it, and read the sessions off its
        pages. Returns the store-writing ETL operation's record."""
        from assignment_etl_spark.analytics.server import serve_dashboard

        rec = self.etl.run_once(0, keep=True)
        tables = {name: self.spark.read.parquet(f"{rec['store']}/{name}")
                  for name in ("patients", "encounters", "diagnoses", "logs")}
        self.server = serve_dashboard(tables, id_cols=ID_COLS)
        self.port = self.server.server_address[1]
        with ThreadPoolExecutor(CLIENTS) as pool:
            table_pages = self.links("/")
            widgets = dict(zip(table_pages, pool.map(self.links, table_pages)))
            pages = [w for t in table_pages for w in widgets[t]]
            offered = dict(zip(pages, pool.map(self.links, pages)))
            self.sessions = []
            for table in table_pages:
                session = [table]
                for widget in widgets[table]:
                    session.append(widget)
                    issues = offered[widget]  # only the Data Quality tab has any
                    if issues:
                        first = urlparse(issues[0]).query
                        session += [u for u in issues if urlparse(u).query == first]
                self.sessions.append(session)
            rest = [u for session in self.sessions for u in session if u not in self.reference]
            list(pool.map(self.links, rest))
        return rec

    def links(self, url: str) -> list[str]:
        """Fetch ``url``, keep its body's hash as the reference, and
        return the links it offers."""
        status, body = get(self.port, url)
        if status != 200:
            raise RuntimeError(f"set-up: {url} answered {status}: {body[:200]!r}")
        if url != "/" and route_of(url) not in ROUTES:
            raise RuntimeError(f"set-up: unexpected route in {url}")
        self.reference[url] = hashlib.sha256(body).hexdigest()
        return page_links(body)

    def ordered_reference(self) -> dict[str, str]:
        return {url: digest for url, digest in sorted(self.reference.items())
                if url != "/" and route_of(url) in ORDERED}

    def run(self, seconds: float) -> list[dict]:
        """Closed loop of CLIENTS threads for ``seconds``; every request
        started before the deadline is completed and recorded."""
        records: list[dict] = []
        lock = threading.Lock()
        ids = itertools.count()
        deadline = time.perf_counter() + seconds

        def client(c: int) -> None:
            # each client deals one pass over all sessions' requests at a
            # time, in a seeded shuffled order, so a window that ends
            # mid-pass still holds close to the pass's mix of routes
            rng = random.Random(f"client:{self.seed}:{c}")
            deck = [url for session in self.sessions for url in session]
            queue: list[str] = []
            sent = 0
            while time.perf_counter() < deadline:
                if not queue:
                    queue = rng.sample(deck, len(deck))
                url = queue.pop()
                with lock:
                    op = next(ids)
                traced = self.tracer is not None and sent % 2 == 0
                sent += 1
                rec = self.request(op, url, traced)
                with lock:
                    records.append(rec)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return records

    def request(self, op: int, url: str, traced: bool) -> dict:
        route = route_of(url)
        sep = "&" if "?" in url else "?"
        start = time.perf_counter()
        status, body = -1, b""
        try:
            if traced:
                with self.tracer.span("bench.request", op):
                    status, body = get(self.port, f"{url}{sep}_op={op}")
            else:
                status, body = get(self.port, url)
        except Exception:  # noqa: BLE001 — counted as a failed request
            status = -1
        end = time.perf_counter()
        ok = status == 200 and (
            route not in ORDERED or hashlib.sha256(body).hexdigest() == self.reference[url]
        )
        return {"op": op, "route": route, "url": url, "status": status, "ok": ok,
                "traced": traced, "start": start, "latency_s": end - start}

    def after_run(self) -> dict:
        sc = self.spark.sparkContext
        rec = {"persisted_rdds": sc._jsc.getPersistentRDDs().size(),
               "storage_bytes": storage_bytes(sc)}
        release(self.spark, [])
        return rec

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()

    def trace_internals(self, tracer) -> None:
        """Spans around the server's route handlers (linked to the
        client's request span through the ``_op`` query parameter) and
        around its calls into ``analytics.dashboard`` and the renderers."""
        from assignment_etl_spark.analytics import server

        def op_of(args, kwargs):
            params = args[1] if len(args) > 1 else kwargs.get("params", {})
            value = params.get("_op")
            return int(value[0]) if value else None

        for route in ROUTES:
            tracer.wrap(server.DashboardApp, route, f"analytics.server.{route}", op_of)
        for fn in ("classify_columns", "numeric_histogram", "records_over_time",
                   "scatter_sample", "top_categories", "quality_report", "quality_drilldown"):
            tracer.wrap(server, fn, f"analytics.dashboard.{fn}")
        for fn in ("_svg_bars", "_svg_scatter", "_html_table"):
            tracer.wrap(server, fn, f"analytics.render.{fn.lstrip('_')}")
