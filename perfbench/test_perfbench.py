"""Checks of the benchmark's own machinery that need no Spark session.

Run: python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dashboard_session import page_links  # noqa: E402
from etl_ingest import TABLES, fingerprint  # noqa: E402
from inputs import EtlSizes, etl_sources  # noqa: E402
from spans import covered, metric_map, metric_value, plan_metric  # noqa: E402

SMALL = EtlSizes(patients=200, encounters=300, diagnoses=300)


def test_same_seed_gives_identical_inputs():
    assert etl_sources(7, SMALL) == etl_sources(7, SMALL)


def test_other_seed_gives_other_inputs_of_the_same_shape():
    a, b = etl_sources(7, SMALL), etl_sources(8, SMALL)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name] != b[name]
    assert a["diagnoses.xml"].count(b"<Diagnosis>") == b["diagnoses.xml"].count(b"<Diagnosis>")


def test_inputs_carry_the_messiness_taxonomy():
    src = etl_sources(3, SMALL)
    patients, encounters = src["patients.csv"].decode(), src["encounters.csv"].decode()
    assert patients.startswith("﻿ patient_id ,") and "\r\n" in patients
    assert ";EXTRA\n" in encounters and "\n\n" in encounters
    assert encounters.count("encounter_id,patient_id") >= 1
    assert b'xmlns="http://example.org/diagnosis"' in src["diagnoses.xml"]


def _store(path, logs_rows):
    for name in TABLES:
        rows = logs_rows if name == "logs" else [{"id": "a", "v": 1.5}, {"id": "b", "v": None}]
        os.makedirs(path / name, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows), path / name / "part-0.parquet")


def test_fingerprint_ignores_row_order_but_not_content(tmp_path):
    logs = [{"reason": "x", "patient_id": "p1"}, {"reason": "y", "patient_id": None}]
    _store(tmp_path / "a", logs)
    _store(tmp_path / "b", logs[::-1])
    _store(tmp_path / "c", [logs[0], {"reason": "y", "patient_id": "p2"}])
    fa, fb, fc = (fingerprint(str(tmp_path / d)) for d in "abc")
    assert fa == fb
    assert fa["reasons"] == {"x": 1, "y": 1}
    assert fc["rows"] == fa["rows"] and fc["reasons"] == fa["reasons"]
    assert fc["hash"] != fa["hash"]


def test_covered_merges_and_clips_intervals():
    assert covered([(0, 2), (1, 3), (5, 9)], 1, 6) == 3
    assert covered([], 0, 1) == 0


def test_metric_value_reads_spark_formats():
    assert metric_value("712.2 KiB") == 712.2 * 1024
    assert metric_value("2.5 s") == 2500
    assert metric_value("1,500") == 1500
    assert metric_value("1.5 m") == 90_000


def test_metric_value_reads_the_total_of_a_metric_summed_over_tasks():
    text = ("total (min, med, max (stageId: taskId))\n"
            "712.2 KiB (100.0 B, 200.0 KiB, 300.0 KiB (stage 3.0: task 5))")
    assert metric_value(text) == 712.2 * 1024
    timing = "total (min, med, max (stageId: taskId))\n2.5 s (0 ms, 1.1 s, 1.4 s (stage 7.0: task 31))"
    assert metric_value(timing) == 2500


def test_metric_map_and_plan_metric_read_the_scala_forms():
    text = "7 -> 1,500\x0112 -> total (min, med, max (stageId: taskId))\n1.0 KiB (1 B, 2 B, 3 B (stage 1.0: task 2))"
    values = metric_map(text)
    assert values[7] == "1,500" and metric_value(values[12]) == 1024
    assert plan_metric("SQLPlanMetric(data sent to Python workers,12,size)") == (
        "data sent to Python workers", 12)
    assert plan_metric("SQLPlanMetric(a, b,3,sum)") == ("a, b", 3)


def test_page_links_are_sent_as_a_browser_sends_them():
    body = ("<a href='/table?name=logs'>logs</a><a href='/'>home</a>"
            "<a href='/drilldown?reason=duplicate encounter_id + code'>d</a>"
            "<a href='/categories?table=p&amp;column=given_name&amp;k=10'>c</a>"
            "<a href='/table?name=logs'>again</a>").encode()
    assert page_links(body) == [
        "/table?name=logs",
        "/drilldown?reason=duplicate%20encounter_id%20+%20code",
        "/categories?table=p&column=given_name&k=10",
    ]
