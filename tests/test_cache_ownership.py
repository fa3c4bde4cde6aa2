"""One owner for every cached intermediate (assignment_etl_spark/caching.py).

Every DataFrame cache the engine creates goes through
``caching.scoped_persist`` and is released by its owner: a
``caching.scope()`` on exit, or the root on ``release_scoped_caches()``.
These tests pin that contract on the ETL path, across threads, per
streaming micro-batch, and over the source tree.
"""

from __future__ import annotations

import ast
import pathlib
import threading

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from assignment_etl_spark.caching import (
    release,
    release_scoped_caches,
    scope,
    scoped_cache_count,
    scoped_persist,
)
from assignment_etl_spark.internals import cache_manager_is_empty, persistent_rdd_ids

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "assignment_etl_spark"
OWNERS = {"caching.py", "internals.py"}


def _clean_baseline(spark) -> set[int]:
    release_scoped_caches()
    spark.catalog.clearCache()
    assert cache_manager_is_empty(spark)
    return set(persistent_rdd_ids(spark))


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_etl_run_leaves_nothing_persisted_after_release(spark, fixture_dir, tmp_path):
    from assignment_etl_spark.pipelines.runner import run_etl, write_parquet_store

    base = _clean_baseline(spark)
    res = run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / "diagnoses.xml"),
        ri_audit=True,
    )
    write_parquet_store(res, str(tmp_path / "store"))
    assert set(persistent_rdd_ids(spark)) - base, "the ETL path cached nothing"
    release_scoped_caches()
    assert set(persistent_rdd_ids(spark)) - base == set(), (
        "an ETL cache has no owner: release_scoped_caches() left it persisted"
    )
    assert cache_manager_is_empty(spark)
    assert spark.read.parquet(str(tmp_path / "store" / "logs")).count() > 0


def test_scope_releases_on_exit_and_nests(spark):
    _clean_baseline(spark)
    with scope():
        outer = scoped_persist(spark.range(3))
        with scope():
            inner = scoped_persist(spark.range(5))
            assert inner.count() == 5
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)
    assert scoped_cache_count() == 0
    assert cache_manager_is_empty(spark)


def test_release_only_touches_owned_frames(spark):
    _clean_baseline(spark)
    owned = scoped_persist(spark.range(4))
    assert release(owned)
    assert not _cached(owned)
    assert not release(spark.range(4)), "released a frame no scope owns"


def test_threads_own_their_scopes(spark):
    """B opens a scope, then A opens one (innermost in time), then B
    persists and A exits: B's cache must stay B's, survive A's exit, and
    be freed by B's own exit."""
    _clean_baseline(spark)
    b_open, a_open, b_persisted, a_exited = (threading.Event() for _ in range(4))
    frames, errors = {}, []

    def thread_a():
        try:
            b_open.wait(60)
            with scope():
                frames["a"] = scoped_persist(spark.range(7))
                assert frames["a"].count() == 7
                a_open.set()
                b_persisted.wait(60)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            a_open.set()
            a_exited.set()

    def thread_b():
        try:
            with scope():
                b_open.set()
                a_open.wait(60)
                frames["b"] = scoped_persist(spark.range(11))
                assert frames["b"].count() == 11
                b_persisted.set()
                a_exited.wait(60)
                frames["b_alive_after_a"] = _cached(frames["b"])
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            b_open.set()
            b_persisted.set()

    threads = [threading.Thread(target=thread_a), threading.Thread(target=thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors
    assert frames["b_alive_after_a"], "thread A's scope exit released B's cache"
    assert not _cached(frames["a"]) and not _cached(frames["b"])
    assert cache_manager_is_empty(spark)


def test_streaming_batches_release_what_clean_fn_persists(spark, tmp_path):
    from assignment_etl_spark.ext.streaming import (
        read_events_stream,
        stream_clean_with_quality,
    )
    from assignment_etl_spark.ops.quality import log_frame

    src = str(tmp_path / "src")
    spark.range(1, 31).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        (F.col("id") % 3).alias("user_id"),
        F.lit("view").alias("event_type"),
        F.when(F.col("id") % 5 == 0, -F.col("id")).otherwise(F.col("id"))
        .cast("double").alias("value"),
    ).repartition(3).write.parquet(src)  # three files: three micro-batches

    def clean_fn(df):
        # a cleaner with a shared base, persisted the way engine builders do
        base = scoped_persist(df.withColumn("bad", F.col("value") < 0))
        logs = log_frame(
            base.filter("bad"),
            patient_id=F.col("event_id"),
            column_name=F.lit("value"),
            reason=F.lit("negative_value"),
        )
        return base.drop("bad"), logs

    base_ids = _clean_baseline(spark)
    q = stream_clean_with_quality(
        read_events_stream(spark, src),
        clean_fn,
        clean_path=str(tmp_path / "clean"),
        logs_path=str(tmp_path / "logs"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "logs")).count() == 6
    assert set(persistent_rdd_ids(spark)) - base_ids == set()
    assert cache_manager_is_empty(spark)
    assert scoped_cache_count() == 0


def _raw_cache_calls(path: pathlib.Path, names: set[str]) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        f"{path.relative_to(REPO)}:{node.lineno} .{node.func.attr}()"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
    ]


def test_no_raw_persist_outside_the_owner():
    """Every cache goes through caching.scoped_persist / scope / release;
    only caching.py (the owner) and internals.py (the py4j facade) call
    persist/unpersist themselves, and bench.py releases through caching."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name not in OWNERS:
            offenders += _raw_cache_calls(path, {"persist", "unpersist"})
    offenders += _raw_cache_calls(REPO / "bench.py", {"persist", "unpersist"})
    assert not offenders, "raw cache calls bypass caching.py:\n" + "\n".join(offenders)
