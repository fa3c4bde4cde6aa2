"""The ``etl_ingest`` workload: the data engineer's batch job.

One operation is one full ETL run over the three seeded sources:
``run_etl(..., ri_audit=True)`` and ``write_parquet_store`` into a fresh
directory, timed from the call to a complete store on disk. After each
operation, outside the timed window, the benchmark records how many
persisted RDDs the run left behind, releases what a long-lived caller
would release, and fingerprints the written store.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inputs import EtlSizes, etl_sources, write_files

# Measured on a 4-core host, a warm operation costs about 10 s whatever
# the input size plus about 70 us per record, so at 60k records about
# 30 % of it is per-record work (readers, cleaning, dedup, writes); more
# records would not fit a one-minute run next to the cold warm-up run.
SIZES = EtlSizes(patients=12_000, encounters=24_000, diagnoses=24_000)
TABLES = ("patients", "encounters", "diagnoses", "logs")


def fingerprint(store: str) -> dict:
    """Row counts per table, log counts per ``reason``, and a content
    hash that ignores row order, read from the store's parquet files
    without Spark."""
    rows, reasons, digest = {}, {}, hashlib.sha256()
    for name in TABLES:
        df = pq.read_table(os.path.join(store, name)).to_pandas()
        rows[name] = len(df)
        row_hashes = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
        digest.update(name.encode())
        digest.update(np.sort(row_hashes.to_numpy()).tobytes())
        if name == "logs":
            reasons = {str(k): int(v) for k, v in df["reason"].value_counts(dropna=False).items()}
    return {"rows": rows, "reasons": dict(sorted(reasons.items())),
            "hash": digest.hexdigest()[:32]}


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, bookkeeping files excluded."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


def release(spark, frames) -> None:
    """What a long-lived caller releases after a run."""
    from assignment_etl_spark.caching import release_scoped_caches

    for df in frames:
        df.unpersist()
    release_scoped_caches()
    spark.catalog.clearCache()


def storage_bytes(sc) -> int:
    """Memory plus disk held by cached RDD blocks right now."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


class EtlIngest:
    def __init__(self, spark, work: str, seed: int, tracer=None,
                 sizes: EtlSizes = SIZES) -> None:
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.records = sizes.records
        self.paths = write_files(os.path.join(work, "in"), etl_sources(seed, sizes))

    def span(self, traced: bool, name: str, op: int):
        return self.tracer.span(name, op) if traced else nullcontext()

    def run_once(self, op: int, traced: bool = False, keep: bool = False) -> dict:
        """One timed ETL run; ``keep`` leaves the store on disk and returns
        its path (the dashboard serves it)."""
        from assignment_etl_spark.pipelines.runner import run_etl, write_parquet_store

        store = os.path.join(self.work, f"store-{op}")
        t0 = time.perf_counter()
        with self.span(traced, "bench.etl_ingest", op):
            with self.span(traced, "pipelines.run_etl", op):
                result = run_etl(
                    self.spark, self.paths["patients.csv"], self.paths["encounters.csv"],
                    self.paths["diagnoses.xml"], ri_audit=True,
                )
            with self.span(traced, "io.store.write_parquet_store", op):
                write_parquet_store(result, store)
        latency = time.perf_counter() - t0
        sc = self.spark.sparkContext
        rec = {"op": op, "latency_s": latency, "traced": traced,
               "persisted_rdds": sc._jsc.getPersistentRDDs().size(),
               "storage_bytes": storage_bytes(sc)}
        release(self.spark, result.tables().values())
        rec["fingerprint"] = fingerprint(store)
        rec["write_files"], rec["write_bytes"] = dir_stats(store)
        if keep:
            rec["store"] = store
        else:
            shutil.rmtree(store)
        return rec

    def trace_internals(self, tracer) -> None:
        """Spans around the calls ``run_etl`` makes into the pipelines
        and their readers."""
        from assignment_etl_spark.ops import quality
        from assignment_etl_spark.pipelines import diagnoses, encounters, patients, runner

        for mod in (patients, encounters, diagnoses):
            tracer.wrap(mod, "run", f"pipelines.{mod.__name__.rsplit('.', 1)[1]}.run")
        tracer.wrap(patients, "read_csv", "io.csv.read_csv")
        tracer.wrap(encounters, "read_messy_csv", "io.messy_csv.read_messy_csv")
        tracer.wrap(diagnoses, "read_diagnoses_xml", "io.xml.read_diagnoses_xml")
        tracer.wrap(quality, "orphan_check", "ops.quality.orphan_check")
        tracer.wrap(runner, "union_logs", "ops.quality.union_logs")
