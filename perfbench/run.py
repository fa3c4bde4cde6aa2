#!/usr/bin/env python3
"""Benchmark of the engine's two user-facing paths.

    python3 perfbench/run.py --workload etl_ingest --seed 0 --seconds 15 --trace 0

Workloads: ``etl_ingest`` (batch ETL into the parquet store) and
``dashboard_session`` (two closed-loop clients on the dashboard server
over that store); see ``perfbench/METRICS.md``. Run from the repository
root; the engine is imported from the checkout this file sits in, and
every file the run writes stays under ``.perfbench/`` there.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, measured with tracing off; ``--trace 1`` the
per-layer metrics, from spans around the calls into each layer, and
writes the spans to ``.perfbench/traces/``. ``--record-expected``
stores this seed's output fingerprints in ``perfbench/expected.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
# Driver heap: fits a 15 GiB host, and stays >= 6.4 g so the broadcast
# threshold keeps its 64 MB cap (plans match the default configuration).
DRIVER_HEAP = "7g"
WORKLOADS = ("etl_ingest", "dashboard_session")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-expected", action="store_true")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the run starts (launcher and driver): temp files here, no
    # perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: str, traced: bool):
    from assignment_etl_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:  # keep every job, stage and execution of the run readable
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000",
                     "spark.sql.ui.retainedExecutions": "1000000"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a stuck JVM must still go
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb(jvm) + hwm_kb("self")) / 1024.0


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def load_expected() -> dict:
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh)


def run_workload(args, spark, work: str, tracer) -> dict:
    """Set up, warm up, measure. Returns the measured operations, the
    set-up time, cache records and the checks made."""
    from dashboard_session import DashboardSession
    from etl_ingest import EtlIngest, release

    expected = load_expected().get(args.workload, {}).get(str(args.seed))
    out = {"checks": []}
    if args.workload == "etl_ingest":
        wl = EtlIngest(spark, work, args.seed, tracer)
        if tracer:
            wl.trace_internals(tracer)
        t0 = time.perf_counter()
        reference = wl.run_once(-1)["fingerprint"]
        out["setup_s"] = time.perf_counter() - t0
        if expected is not None:
            out["checks"].append(expected == reference)
        # as many whole runs as fit the window, judged by the last one; a
        # traced run alternates traced and plain runs, so it makes two
        ops, elapsed = [], 0.0
        while (not ops or elapsed + ops[-1]["latency_s"] <= args.seconds
               or (tracer is not None and len(ops) < 2)):
            i = len(ops)
            traced = tracer is not None and i % 2 == 0
            t0 = time.perf_counter()
            try:
                rec = wl.run_once(i, traced=traced)
                rec["ok"] = rec["fingerprint"] == reference
            except Exception:  # noqa: BLE001 — a failed operation, not a failed run
                log(f"op {i} raised:\n{traceback.format_exc()}")
                release(spark, [])
                rec = {"op": i, "latency_s": time.perf_counter() - t0, "traced": traced,
                       "ok": False}
            ops.append(rec)
            elapsed += rec["latency_s"]
            log(f"op {i}: {rec['latency_s']:.3f}s ok={rec['ok']}")
        walls = [o["latency_s"] for o in ops]
        out.update(ops=ops, after=[o for o in ops if "persisted_rdds" in o],
                   work=wl.records / statistics.median(walls), fingerprint=reference)
        return out

    wl = DashboardSession(spark, work, args.seed, tracer)
    if tracer:
        wl.trace_internals(tracer)
    try:
        t0 = time.perf_counter()
        store_rec = wl.setup()
        out["setup_s"] = time.perf_counter() - t0
        log(f"set-up {out['setup_s']:.1f}s; sessions of "
            f"{[len(session) for session in wl.sessions]} requests")
        fingerprint = {"store": store_rec["fingerprint"], "bodies": wl.ordered_reference()}
        if expected is not None:
            out["checks"].append(expected == fingerprint)
        t1 = time.perf_counter()
        ops = wl.run(args.seconds)
        window = max(o["start"] + o["latency_s"] for o in ops) - t1
        out.update(ops=ops, after=[wl.after_run()], work=len(ops) / window,
                   fingerprint=fingerprint)
        log(f"{len(ops)} requests in {window:.1f}s, "
            f"{sum(not o['ok'] for o in ops)} failed")
        return out
    finally:
        wl.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "assignment_etl_spark", "__init__.py")):
        log(f"engine package not found under {ROOT}; run from a full checkout")
        return 2
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    import assignment_etl_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(assignment_etl_spark.__file__))) != ROOT:
        log(f"engine imported from {assignment_etl_spark.__file__}, not this checkout")
        return 2

    from layers import UNITS, per_layer
    from spans import Tracer, collect_jobs, collect_sql

    spark = None
    try:
        spark, session_s = start_session(work, traced=bool(args.trace))
        tracer = Tracer(spark.sparkContext) if args.trace else None
        try:
            res = run_workload(args, spark, work, tracer)
        except Exception:  # noqa: BLE001 — set-up failed: one failed operation
            log(f"set-up raised:\n{traceback.format_exc()}")
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        setup_s = session_s + res["setup_s"]
        ops = res["ops"]
        checks = res["checks"] + [o["ok"] for o in ops]
        if args.trace:
            t0 = time.perf_counter()
            tracer.restore()
            jobs = collect_jobs(spark.sparkContext)
            nodes = collect_sql(spark, {j["id"]: j["span"] for j in jobs})
            values = per_layer(tracer, jobs, nodes, ops, res["after"], session_s,
                               peak_rss_mb(spark))
            metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in UNITS}
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            with open(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({**tracer.dump(jobs), "nodes": nodes, "metrics": values}, fh)
            log(f"{len(jobs)} jobs, {len(nodes)} plan nodes read in {time.perf_counter() - t0:.1f}s")
        else:
            lat_ms = [1000 * o["latency_s"] for o in ops]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "throughput_per_s": {"value": res["work"], "unit": "1/s"},
                "latency_p50_ms": {"value": statistics.median(lat_ms), "unit": "ms"},
                "latency_p90_ms": {"value": percentile(lat_ms, 90), "unit": "ms"},
            }
        if args.record_expected:
            data = load_expected()
            data.setdefault(args.workload, {})[str(args.seed)] = res["fingerprint"]
            with open(EXPECTED, "w") as fh:
                json.dump(data, fh, indent=1, sort_keys=True)
                fh.write("\n")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not ok for ok in checks)
    print(json.dumps({"correct": failed == 0, "attempted": len(checks), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
