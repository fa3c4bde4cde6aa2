"""Diagnoses pipeline: S3 XML scan → drop missing-code → fill rules →
D3 dedup by (encounter_id, code) → F9/F10 typing → F3 normalize
(reference clean_diagnoses, etl.py:607-662, + clean_utf8 at etl.py:690).

Fill-rule semantics: the reference fills encounter_id *or* is_primary, never
both, via an if/elif chain (etl.py:632-640 — SURVEY §7.4.5). The engine
default fixes that to independent fills (strict_parity=False); pass
strict_parity=True for bit-parity with the quirk. The reference also never
logs the fills (it assigns ``reason`` without appending, etl.py:635,640);
the engine logs them — a documented improvement exercising the
FIXTURES.md §4 zero-coverage reasons.

Dedup runs AFTER the encounter_id fill, like the reference: two
missing-encounter_id rows with the same code collide on ("UNKNOWN", code).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.caching import scoped_persist
from assignment_etl_spark.io.xml import read_diagnoses_xml
from assignment_etl_spark.ops.codes import coerce_bool
from assignment_etl_spark.ops.dates import parse_iso_with_midnight_fallback
from assignment_etl_spark.ops.dedup import dedup_with_log
from assignment_etl_spark.ops.quality import log_frame, union_logs
from assignment_etl_spark.ops.strings import normalize_strings
from assignment_etl_spark.schemas import ROW_ID


def clean_diagnoses(
    raw: DataFrame, *, strict_parity: bool = False
) -> tuple[DataFrame, DataFrame]:
    df = raw.withColumn("is_primary", coerce_bool(F.col("is_primary_raw"))).drop(
        "is_primary_raw"
    )

    # Rule 1: drop rows with missing code (etl.py:618-630)
    row_json = F.to_json(F.struct("encounter_id", "code", "code_system"))
    drop_logs = log_frame(
        df.filter(F.col("code").isNull()),
        encounter_id=F.col("encounter_id"),
        code=F.col("code"),
        original_value=row_json,
        reason=F.lit("dropped for missing code"),
    )
    df = df.filter(F.col("code").isNotNull())

    # Rules 2/3: fills (if/elif quirk vs independent — see module docstring)
    fill_enc = F.col("encounter_id").isNull()
    fill_prim = F.col("is_primary").isNull() & (
        ~fill_enc if strict_parity else F.lit(True)
    )
    fill_logs = union_logs(
        log_frame(
            df.filter(fill_enc),
            encounter_id=F.col("encounter_id"),
            code=F.col("code"),
            column_name=F.lit("encounter_id"),
            cleaned_value=F.lit("UNKNOWN"),
            reason=F.lit("missing encounter_id"),
        ),
        log_frame(
            df.filter(fill_prim),
            encounter_id=F.col("encounter_id"),
            code=F.col("code"),
            column_name=F.lit("is_primary"),
            cleaned_value=F.lit("false"),
            reason=F.lit("filled missing is_primary"),
        ),
    )
    # is_primary first: fill_prim's strict-parity guard reads the ORIGINAL
    # encounter_id nullness, and Column exprs resolve against the frame
    # they're applied to — filling encounter_id first would flip the guard
    df = df.withColumn(
        "is_primary", F.when(fill_prim, F.lit(False)).otherwise(F.col("is_primary"))
    ).withColumn(
        "encounter_id",
        F.when(fill_enc, F.lit("UNKNOWN")).otherwise(F.col("encounter_id")),
    )

    # Rule 4: keep-first dedup on (encounter_id, code) in document order
    df, dup_logs = dedup_with_log(
        df,
        ["encounter_id", "code"],
        id_col="encounter_id",
        column_name="encounter_id,code",
        reason="duplicate encounter_id + code",
        original_value_col=F.to_json(F.struct("encounter_id", "code")),
    )
    # log_frame maps id_col → patient_id; diagnosis logs carry encounter_id
    dup_logs = dup_logs.withColumn("encounter_id", F.col("patient_id")).withColumn(
        "patient_id", F.lit(None).cast("string")
    )

    df = df.withColumn(
        "recorded_at", parse_iso_with_midnight_fallback(F.col("recorded_at_raw"))
    ).drop("recorded_at_raw")

    df = normalize_strings(df)
    logs = union_logs(drop_logs, fill_logs, dup_logs)
    return df.drop(ROW_ID), normalize_strings(logs)


def run(
    spark: SparkSession, path: str, *, strict_parity: bool = False
) -> tuple[DataFrame, DataFrame]:
    # the XML shred (mapInPandas) is the expensive shared base of the
    # clean output and every log stream (SURVEY §4.3.2)
    raw = scoped_persist(read_diagnoses_xml(spark, path))
    return clean_diagnoses(raw, strict_parity=strict_parity)
