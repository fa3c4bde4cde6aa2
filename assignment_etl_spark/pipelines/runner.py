"""End-to-end batch run: all three pipelines + unioned logs table,
written to the native parquet store (and optionally JDBC — reference loads
Postgres, etl.py:711-719).

The shared intermediates behind each (clean, log) pair are persisted before
the double consumption so the scans and cleaning expressions run once
(SURVEY §4.3.2). Every such cache, and the four returned tables, is owned
by the caller's ``caching.scope()`` (or the root that
``release_scoped_caches()`` drains): the caller's actions consume them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from assignment_etl_spark.caching import scoped_persist
from assignment_etl_spark.ops.quality import union_logs
from assignment_etl_spark.pipelines import diagnoses, encounters, patients


@dataclass
class EtlResult:
    patients: DataFrame
    encounters: DataFrame
    diagnoses: DataFrame
    logs: DataFrame

    def tables(self) -> dict[str, DataFrame]:
        return {
            "patients": self.patients,
            "encounters": self.encounters,
            "diagnoses": self.diagnoses,
            "logs": self.logs,
        }


def run_etl(
    spark: SparkSession,
    patients_path: str,
    encounters_path: str,
    diagnoses_path: str,
    *,
    ri_audit: bool = False,
) -> EtlResult:
    """Full batch run. ``ri_audit=True`` adds the referential-integrity
    audit the reference lacks (SURVEY §2.3): orphan encounters (patient_id
    not in patients) and orphan diagnoses (encounter_id not in encounters)
    are reported to the logs table — the data itself still flows through
    unchanged, matching reference behavior."""
    p_clean, p_logs = patients.run(spark, patients_path)
    e_clean, e_logs = encounters.run(spark, encounters_path)
    d_clean, d_logs = diagnoses.run(spark, diagnoses_path)
    log_parts = [p_logs, e_logs, d_logs]
    if ri_audit:
        from assignment_etl_spark.ops.quality import orphan_check

        log_parts.append(
            orphan_check(
                e_clean, p_clean, "patient_id", "patient_id",
                filename="encounters.csv",
            )
        )
        log_parts.append(
            orphan_check(
                d_clean, e_clean, "encounter_id", "encounter_id",
                filename="diagnoses.xml",
            )
        )
    logs = union_logs(*log_parts)
    result = EtlResult(p_clean, e_clean, d_clean, logs)
    for df in result.tables().values():
        scoped_persist(df, StorageLevel.MEMORY_AND_DISK)
    return result


def write_parquet_store(result: EtlResult, base_path: str) -> None:
    for name, df in result.tables().items():
        df.write.mode("overwrite").parquet(f"{base_path}/{name}")
