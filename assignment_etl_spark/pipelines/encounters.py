"""Encounters pipeline: S2 messy scan → F3 → F6 parse → D2 dedup →
P6 discharge<admit → missing-discharge audit → P5 type enum → F8 duration
(reference clean_encounters order, etl.py:493-604, then the final
clean_utf8 pass at etl.py:684 which lowercases the "UNKNOWN" fill).

Order matters and is reproduced exactly:
- dedup precedes the discharge checks (dup copies are not re-audited);
- the missing-discharge audit runs AFTER discharge_before_admit nulls out
  bad values, so those rows log BOTH reasons (verified golden: 1
  discharge_before_admit + 2 missing_discharge from the shipped data);
- enum validation sees lowercased values (clean_utf8 runs first,
  etl.py:509).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.caching import scoped_persist
from assignment_etl_spark.io.messy_csv import read_messy_csv
from assignment_etl_spark.ops.codes import validate_enum
from assignment_etl_spark.ops.dates import duration_hours, parse_datetime_columns
from assignment_etl_spark.ops.dedup import dedup_with_log
from assignment_etl_spark.ops.quality import log_frame, union_logs
from assignment_etl_spark.ops.strings import normalize_strings
from assignment_etl_spark.schemas import ENCOUNTER_COLUMNS, ROW_ID

VALID_ENCOUNTER_TYPES = ["inpatient", "outpatient", "ed"]


def clean_encounters(
    raw: DataFrame,
    *,
    filename: str = "encounters.csv",
) -> tuple[DataFrame, DataFrame]:
    """The post-parse frame is cached in the caller's ``caching`` scope —
    the shared base of the clean output and every log stream (SURVEY
    §4.3.2). Without it, materializing clean + logs re-runs the
    messy-CSV split and the 13-format timestamp lattice once per
    consumer branch."""
    df = normalize_strings(raw)

    df, dt_logs = parse_datetime_columns(
        df, ["admit_dt", "discharge_dt"], filename=filename
    )
    df = scoped_persist(df)

    # Reference quirk (etl.py:543,556,569,582): row.get("source_file",
    # default) returns NaN — NOT the default — when the column exists with a
    # missing value, because Series.get only falls back on an absent KEY. So
    # every encounter log stream carries the RAW source_file (NULL stays
    # NULL), consistent with validate_enum's behavior.
    df, dup_logs = dedup_with_log(
        df,
        ["encounter_id"],
        log_all_members=True,
        filename_col=F.col("source_file"),
        column_name="encounter_id",
        reason="duplicate_encounter_id",
    )
    # reference logs the encounter_id itself as original_value (etl.py:545)
    src_file = F.col("source_file")

    bad_order = F.col("discharge_dt") < F.col("admit_dt")  # NULL-safe: NULL→skip
    order_logs = log_frame(
        df.filter(bad_order),
        patient_id=F.col("patient_id"),
        filename=src_file,
        column_name=F.lit("discharge_dt"),
        original_value=F.col("discharge_dt"),
        reason=F.lit("discharge_before_admit"),
    )
    df = df.withColumn(
        "discharge_dt", F.when(bad_order, F.lit(None)).otherwise(F.col("discharge_dt"))
    )

    missing_logs = log_frame(
        df.filter(F.col("discharge_dt").isNull()),
        patient_id=F.col("patient_id"),
        filename=src_file,
        column_name=F.lit("discharge_dt"),
        reason=F.lit("missing_discharge"),
    )

    df, type_logs = validate_enum(
        df,
        "encounter_type",
        VALID_ENCOUNTER_TYPES,
        fill="UNKNOWN",
        filename_col="source_file",
    )

    df = df.withColumn(
        "length_of_stay_hours",
        duration_hours(F.col("admit_dt"), F.col("discharge_dt")),
    )
    # final clean_utf8 pass (etl.py:684) — lowercases the UNKNOWN fill
    df = normalize_strings(df)

    logs = union_logs(dt_logs, dup_logs, order_logs, missing_logs, type_logs)
    return df.drop(ROW_ID), normalize_strings(logs)


def run(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    raw = read_messy_csv(spark, path, ENCOUNTER_COLUMNS)
    return clean_encounters(raw)
