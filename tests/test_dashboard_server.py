"""Interactive dashboard HTTP serving (analytics/server.py): real HTTP
requests against a live server, asserting route-by-route parity with the
pushdown queries the widgets wrap."""

import csv
import html
import io
import re
import urllib.request
from urllib.parse import quote

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark.analytics.dashboard import top_categories
from assignment_etl_spark.analytics.server import serve_dashboard
from assignment_etl_spark.pipelines.runner import run_etl


@pytest.fixture(scope="module")
def etl(spark, fixture_dir):
    return run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / "diagnoses.xml"),
    )


@pytest.fixture(scope="module")
def server(etl):
    srv = serve_dashboard(
        {
            "patients": etl.patients,
            "encounters": etl.encounters,
            "diagnoses": etl.diagnoses,
            "logs": etl.logs,
        }
    )
    yield srv
    srv.shutdown()


def _get(server, path):
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.headers, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers, e.read().decode()


def test_index_lists_tables(server):
    status, _, body = _get(server, "/")
    assert status == 200
    for t in ("patients", "encounters", "diagnoses", "logs"):
        assert f"/table?name={t}" in body


def test_table_preview_and_pickers(server):
    status, _, body = _get(server, "/table?name=patients")
    assert status == 200
    assert "Preview of patients" in body
    # dtype-driven widget pickers (reference selectboxes)
    assert "/histogram?table=patients&column=height_cm" in body
    assert "/timeline?table=patients&column=dob_parsed" in body
    assert "/categories?table=patients&column=" in body
    assert "/scatter?table=patients&x=" in body


def test_histogram_route_runs_query(server):
    status, _, body = _get(server, "/histogram?table=patients&column=height_cm&bins=10")
    assert status == 200
    assert "<svg" in body and "Distribution of height_cm" in body


def test_categories_matches_pushdown(server, etl):
    status, _, body = _get(server, "/categories?table=logs&column=reason&k=5")
    assert status == 200
    for r in top_categories(etl.logs, "reason", 5).collect():
        assert f">{r['reason']}:" in body or r["reason"] in body


def test_categories_slider_bounds(server):
    status, _, body = _get(server, "/categories?table=logs&column=reason&k=99")
    assert status == 400  # reference slider bound is 5..50


def test_quality_tab(server):
    status, _, body = _get(server, "/quality")
    assert status == 200
    assert "Frequency of Data Quality Issues" in body
    assert "/drilldown?reason=" in body and "/download?reason=" in body


def test_drilldown_matches_filter(server, etl):
    reason = etl.logs.select("reason").first()["reason"]
    status, _, body = _get(server, f"/drilldown?reason={reason}")
    assert status == 200
    n = etl.logs.filter(F.col("reason") == reason).count()
    assert body.count("<tr>") == n + 1  # header row + data rows


def test_csv_download_matches_rows(server, etl):
    reason = etl.logs.select("reason").first()["reason"]
    status, headers, body = _get(server, f"/download?reason={reason}")
    assert status == 200
    assert headers["Content-Type"] == "text/csv"
    assert f'filename="log_{reason}.csv"' in headers["Content-Disposition"]
    rows = list(csv.DictReader(io.StringIO(body)))
    assert len(rows) == etl.logs.filter(F.col("reason") == reason).count()
    assert all(r["reason"] == reason for r in rows)


def test_quality_links_encode_reasons(server, etl):
    """A reason with '+' and spaces must survive the link round trip: a
    browser percent-encodes spaces but sends '+' as is, which a query
    string decodes as a space."""
    reason = "duplicate encounter_id + code"
    n = etl.logs.filter(F.col("reason") == reason).count()
    assert n >= 1
    _, _, body = _get(server, "/quality")
    links = [
        quote(html.unescape(h), safe="/?&=+%")
        for h in re.findall(r"href='([^']*)'", body)
        if h.startswith(("/drilldown?", "/download?"))
    ]
    drill = [h for h in links if h.startswith("/drilldown?")]
    download = [h for h in links if h.startswith("/download?")]
    assert len(drill) == len(download) == etl.logs.select("reason").distinct().count()
    got = {}
    for href in drill:
        status, _, page = _get(server, href)
        assert status == 200
        got[html.unescape(re.search(r"<title>Issue type: (.*?)</title>", page)[1])] = (
            page.count("<tr>") - 1
        )
    assert got[reason] == n
    (dl,) = [h for h in download if "%2B" in h]
    status, _, csv_body = _get(server, dl)
    assert status == 200
    assert len(list(csv.DictReader(io.StringIO(csv_body)))) == n


def test_unknown_table_is_400(server):
    status, _, _ = _get(server, "/histogram?table=nope&column=x")
    assert status == 400


def test_unknown_route_is_404(server):
    status, _, _ = _get(server, "/nope")
    assert status == 404
