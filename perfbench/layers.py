"""Per-layer metrics of a traced run, computed from its spans, the jobs
each span caused, and their SQL plan-node metrics.

Counts, bytes and times are means per traced operation (an ETL run or
an HTTP request) unless the name says otherwise, so they do not grow
with the number of operations a faster program fits in the window. A
layer the workload does not call reads 0.
"""

from __future__ import annotations

import statistics

from dashboard_session import ROUTES
from spans import Tracer, covered

UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "pipelines.build_s": "s",
    "pipelines.build_jobs": "count",
    "ops.shuffle_write_bytes": "bytes",
    "ops.spill_bytes": "bytes",
    "ops.python_bytes": "bytes",
    "io.write_s": "s",
    "io.write_bytes": "bytes",
    "io.write_files": "count",
    "io.scan_files": "count",
    "io.scan_bytes": "bytes",
    "io.python_bytes": "bytes",
    **{f"analytics.{r}.p50_ms": "ms" for r in ROUTES},
    "analytics.query_s": "s",
    "analytics.render_s": "s",
    "analytics.server_s": "s",
    "analytics.jobs_per_request": "count",
    "caching.persisted_rdds_after_run": "count",
    "caching.storage_bytes_peak": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.sched_wait_ms": "ms",
    "spark.driver_only_s": "s",
    "trace.overhead_pct": "%",
}

PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(tracer: Tracer, jobs: list[dict], nodes: list[dict], ops: list[dict],
              after: list[dict], session_start_s: float, peak_rss_mb: float) -> dict[str, float]:
    """``ops``: every measured operation (traced and untraced);
    ``after``: the end-of-operation cache records."""
    spans = tracer.by_id()
    kids = tracer.children()
    traced = [o for o in ops if o["traced"]]
    n = max(len(traced), 1)
    roots = [spans[tracer.roots[o["op"]]] for o in traced]

    def under(sid: int, prefix: str) -> bool:
        return any(s.name.startswith(prefix) for s in tracer.ancestors(sid, spans))

    def per_op(values) -> float:
        return sum(values) / n

    def span_total(prefix: str) -> float:
        return per_op(s.duration for s in tracer.spans if s.name.startswith(prefix))

    def node_sum(kind, keys) -> float:
        return per_op(
            v for nd in nodes if kind(nd["node"])
            for k, v in nd["metrics"].items() if k in keys
        )

    etl_jobs = [j for j in jobs if under(j["span"], "pipelines.") or under(j["span"], "io.store.")]
    m = {
        "session.start_s": session_start_s,
        "session.peak_rss_mb": peak_rss_mb,
        "pipelines.build_s": span_total("pipelines.run_etl"),
        "pipelines.build_jobs": per_op(1 for j in jobs if under(j["span"], "pipelines.")),
        "ops.shuffle_write_bytes": per_op(j["shuffle_write"] for j in etl_jobs),
        "ops.spill_bytes": per_op(j["spill"] for j in etl_jobs),
        "ops.python_bytes": node_sum(lambda x: x == "ArrowEvalPython", PYTHON_BYTES),
        "io.write_s": span_total("io.store."),
        "io.write_bytes": _median(o.get("write_bytes", 0) for o in traced),
        "io.write_files": _median(o.get("write_files", 0) for o in traced),
        "io.scan_files": node_sum(lambda x: x.startswith("Scan"), ("number of files read",)),
        "io.scan_bytes": node_sum(lambda x: x.startswith("Scan"), ("size of files read",)),
        "io.python_bytes": node_sum(lambda x: x == "MapInPandas", PYTHON_BYTES),
    }

    # analytics: request = server + route handler; handler = query + render
    route_spans = {s.parent: s for s in tracer.spans if s.name.startswith("analytics.server.")}
    render = [sum(c.duration for c in kids.get(rs.id, []) if c.name.startswith("analytics.render."))
              for rs in route_spans.values()]
    for route in ROUTES:
        m[f"analytics.{route}.p50_ms"] = 1000 * _median(
            r.duration for o, r in zip(traced, roots) if o.get("route") == route)
    requests = [r for r in roots if r.name == "bench.request"]
    m["analytics.render_s"] = _mean(render)
    m["analytics.query_s"] = _mean(rs.duration for rs in route_spans.values()) - m["analytics.render_s"]
    m["analytics.server_s"] = _mean(
        r.duration - route_spans[r.id].duration for r in requests if r.id in route_spans)
    m["analytics.jobs_per_request"] = (
        sum(1 for j in jobs if under(j["span"], "analytics.")) / max(len(requests), 1))

    m["caching.persisted_rdds_after_run"] = _median(a["persisted_rdds"] for a in after)
    m["caching.storage_bytes_peak"] = max((a["storage_bytes"] for a in after), default=0)

    m["spark.jobs"] = per_op(1 for _ in jobs)
    for key, src in (("stages", "stages"), ("tasks", "tasks"), ("executor_run_ms", "run_ms"),
                     ("executor_cpu_ms", "cpu_ms"), ("gc_ms", "gc_ms"),
                     ("shuffle_read_bytes", "shuffle_read"),
                     ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        m[f"spark.{key}"] = per_op(j[src] for j in jobs)
    m["spark.sched_wait_ms"] = per_op(
        1000 * (j["first_launch"] - j["submitted"]) for j in jobs
        if j["first_launch"] is not None and j["submitted"] is not None)
    by_op: dict[int, list[tuple[float, float]]] = {}
    for j in jobs:
        if j["submitted"] is not None and j["completed"] is not None:
            by_op.setdefault(spans[j["span"]].op, []).append((j["submitted"], j["completed"]))
    m["spark.driver_only_s"] = _mean(
        r.duration - covered(by_op.get(r.op, []), r.start, r.end) for r in roots)

    m["trace.overhead_pct"] = 100 * (_median(overhead_ratios(ops)) - 1) if ops else 0.0
    return m


def overhead_ratios(ops: list[dict]) -> list[float]:
    """Per route (one for ETL runs): median traced latency over median
    plain latency, among the operations of the same run."""
    out = []
    for route in {o.get("route") for o in ops}:
        same = [o for o in ops if o.get("route") == route]
        traced = [o["latency_s"] for o in same if o["traced"]]
        plain = [o["latency_s"] for o in same if not o["traced"]]
        if traced and plain:
            out.append(_median(traced) / _median(plain))
    return out or [1.0]
