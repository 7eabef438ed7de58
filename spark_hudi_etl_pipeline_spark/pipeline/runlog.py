"""Audit/watermark log (reference R3/R4/R9).

Reproduces the reference's self-logging design (pipeline_architecture.py
:100-117 DDL, :150-199 create_log_entry, :128-148 get_last_run_timestamp,
:337-369 get_pipeline_status): every run writes one row — status, counts,
duration, error — into a keyed table that doubles as the watermark store.
Composite key (pipeline_name, created_at), precombine created_at, epoch-ms
BIGINT timestamps, exactly the reference's schema (FIXTURES.md §A2).

Differences from the reference (deliberate, SURVEY.md §3):
- single ``first()`` instead of ``count()`` + ``collect()`` (one job, not
  two) for the watermark lookup;
- bound Column predicates instead of f-string SQL interpolation;
- timestamps rendered with ``timestamp_millis`` (proper TimestampType)
  rather than FROM_UNIXTIME strings.

Scale: the log grows by one row per run — intrinsically tiny next to the
data; the watermark lookup is a filtered TakeOrderedAndProject.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.merge import read_indexed_table, upsert_parquet
from ..session import local_frame

#: Reference log schema (pipeline_architecture.py:166-175), verbatim.
LOG_SCHEMA = StructType(
    [
        StructField("pipeline_name", StringType(), nullable=False),
        StructField("last_run_timestamp", LongType(), nullable=True),
        StructField("current_run_timestamp", LongType(), nullable=False),
        StructField("status", StringType(), nullable=False),
        StructField("records_processed", IntegerType(), nullable=True),
        StructField("processing_time_seconds", DoubleType(), nullable=True),
        StructField("error_message", StringType(), nullable=True),
        StructField("created_at", LongType(), nullable=False),
    ]
)

STATUS_SUCCESS = "SUCCESS"
STATUS_FAILED = "FAILED"


def now_ms() -> int:
    return int(time.time() * 1000)


def write_log_entry(
    spark: SparkSession,
    log_path: str,
    *,
    pipeline_name: str,
    status: str,
    current_run_timestamp: int,
    last_run_timestamp: int | None = None,
    records_processed: int | None = None,
    processing_time_seconds: float | None = None,
    error_message: str | None = None,
) -> None:
    """Append one audit row (reference create_log_entry, :150-199) via
    the keyed upsert sink — same composite key + precombine semantics as
    the reference's Hudi log write (:179-194), committed by one manifest
    publish (read it back with ``read_indexed_table``)."""
    row = [
        (
            pipeline_name,
            last_run_timestamp,
            current_run_timestamp,
            status,
            records_processed,
            float(processing_time_seconds) if processing_time_seconds is not None else None,
            error_message,
            now_ms(),
        )
    ]
    batch = local_frame(spark, row, LOG_SCHEMA)
    upsert_parquet(
        spark,
        batch,
        log_path,
        keys=["pipeline_name", "created_at"],
        precombine="created_at",
    )


def get_last_run_timestamp(
    spark: SparkSession, log_path: str, pipeline_name: str
) -> int | None:
    """Watermark read (reference :128-148): most recent SUCCESS run's
    ``current_run_timestamp``; ``None`` on first run OR on any error —
    error ⇒ full reload is the reference's deliberate recovery semantic
    (:143-148)."""
    try:
        row = (
            read_indexed_table(spark, log_path)
            .filter(
                (F.col("pipeline_name") == pipeline_name)
                & (F.col("status") == STATUS_SUCCESS)
            )
            .orderBy(F.desc("current_run_timestamp"))
            .select("current_run_timestamp")
            .first()
        )
        return int(row[0]) if row is not None else None
    except Exception:
        return None


def get_pipeline_status(
    spark: SparkSession,
    log_path: str,
    *,
    pipeline_name: str | None = None,
    days: int = 7,
) -> DataFrame:
    """Status report (reference :337-369): runs in the lookback window,
    newest first, with epoch-ms columns rendered as timestamps."""
    cutoff_ms = now_ms() - days * 24 * 3600 * 1000
    log = read_indexed_table(spark, log_path)
    if pipeline_name is not None:
        log = log.filter(F.col("pipeline_name") == pipeline_name)
    return (
        log.filter(F.col("current_run_timestamp") >= F.lit(cutoff_ms))
        .select(
            "pipeline_name",
            F.timestamp_millis(F.col("current_run_timestamp")).alias("run_time"),
            F.timestamp_millis(F.col("last_run_timestamp")).alias("previous_watermark"),
            "status",
            "records_processed",
            "processing_time_seconds",
            "error_message",
            F.timestamp_millis(F.col("created_at")).alias("logged_at"),
        )
        .orderBy(F.desc("run_time"))
    )
