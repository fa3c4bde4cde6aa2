"""Patients pipeline: S1 → P1 → F1 height → F2 weight → F4 sex → F5 dob →
D1 dedup → drop raw cols → F3 normalize (reference order, etl.py:664-678).

Ordering constraints preserved (SURVEY §3.1): height before weight (BMI
inference consumes height_cm); dedup after all value normalization (rounded
kg/cm are dedup keys); global lowercase last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.io.csv import read_csv
from assignment_etl_spark.ops.codes import map_sex
from assignment_etl_spark.ops.dates import parse_dob
from assignment_etl_spark.ops.dedup import patient_dedup
from assignment_etl_spark.ops.quality import union_logs
from assignment_etl_spark.ops.strings import normalize_strings
from assignment_etl_spark.ops.units import normalize_heights, normalize_weights
from assignment_etl_spark.schemas import PATIENTS_RAW, ROW_ID


def clean_patients(
    raw: DataFrame,
    *,
    filename: str = "patients.csv",
) -> tuple[DataFrame, DataFrame]:
    """raw (string cols + _row_id) → (clean patients, log stream).

    normalize_weights caches the post-F2 struct stage — the shared base of
    the clean output and every log branch (SURVEY §4.3.2) — in the
    caller's ``caching`` scope."""
    df = normalize_heights(raw)
    df, w_logs = normalize_weights(df, filename=filename)
    df, s_logs = map_sex(df, filename=filename)
    df, d_logs = parse_dob(df, filename=filename)
    df, dup_logs = patient_dedup(df, filename=filename)
    df = df.drop("weight", "height")
    df = normalize_strings(df)
    clean = df.drop(ROW_ID)
    logs = union_logs(w_logs, s_logs, d_logs, dup_logs)
    return clean, normalize_strings(logs)


def run(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    raw = read_csv(spark, path, schema=PATIENTS_RAW)
    return clean_patients(raw)
