"""Reference-compatible entry points — the drop-in surface.

A user of the reference drives it through seven module-level functions
(`/root/reference/pipeline_architecture.py`): ``get_spark_session``
(:24-67), ``create_database_and_table`` (:69-122),
``get_last_run_timestamp`` (:128-148), ``run_pipeline`` (:262-335),
``daily_pipeline_run`` (:371-379), ``get_pipeline_status`` (:337-369),
``create_sample_data_for_testing`` (:398-420). This module exposes the
same names with the same call shapes, implemented on the engine's
modules — switching a reference deployment is an import change:

    from spark_hudi_etl_pipeline_spark import api as pipeline

The reference's self-managed-session semantic is kept: ``spark=None``
builds a session and stops it on exit (reference :264-268, :332-335);
passing a session leaves its lifecycle to the caller.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .pipeline import bootstrap, runlog
from .pipeline.runner import PipelineConfig, PipelineResult, run_pipeline as _run
from .session import get_spark_session  # noqa: F401  (re-export, reference R1)
from .session import local_frame


def create_database_and_table(spark: SparkSession) -> None:
    """Reference R2 (:69-122): idempotent DDL of the ``pipeline_layer``
    database and its ``pipeline_log`` audit table. The runs' audit log is
    the manifest-committed table at ``PipelineConfig.log_path``, not this
    catalog table (see ``pipeline/bootstrap.py``): read it with
    :func:`get_pipeline_status`."""
    bootstrap.create_pipeline_log_table(spark)


def get_last_run_timestamp(
    spark: SparkSession, log_path: str, pipeline_name: str
) -> int | None:
    """Reference R3 (:128-148): last SUCCESS watermark; None ⇒ full load
    (including on read error — the deliberate recovery semantic)."""
    return runlog.get_last_run_timestamp(spark, log_path, pipeline_name)


def run_pipeline(
    config: PipelineConfig, spark: SparkSession | None = None
) -> PipelineResult:
    """Reference R8 (:262-335) with the session-ownership contract:
    self-created sessions are stopped in the finally block."""
    own_session = spark is None
    if own_session:
        spark = get_spark_session(config.name)
    try:
        return _run(spark, config)
    finally:
        if own_session:
            spark.stop()


def daily_pipeline_run(
    config: PipelineConfig, spark: SparkSession | None = None
) -> bool:
    """Reference R10 (:371-379): bool-returning scheduler wrapper —
    True on SUCCESS, False on failure (exception swallowed for cron)."""
    try:
        return run_pipeline(config, spark).status == runlog.STATUS_SUCCESS
    except Exception:
        return False


def get_pipeline_status(
    spark: SparkSession,
    log_path: str,
    *,
    pipeline_name: str | None = None,
    days: int = 7,
    show: bool = True,
) -> DataFrame:
    """Reference R9 (:337-369): lookback status report over the audit
    log, the manifest-committed table at ``log_path`` (a run's
    ``PipelineConfig.log_path``) that ``run_pipeline`` appends to — the
    catalog table ``create_database_and_table`` makes is never written.
    ``show=True`` prints it like the reference's
    ``.show(truncate=False)`` (:362)."""
    report = runlog.get_pipeline_status(
        spark, log_path, pipeline_name=pipeline_name, days=days
    )
    if show:
        report.show(truncate=False)
    return report


#: Reference sample schema (:409-418) — verbatim field names/types.
SAMPLE_SCHEMA = StructType(
    [
        StructField("record_id", StringType(), False),
        StructField("entity_id", StringType(), False),
        StructField("event_timestamp", TimestampType(), False),
        StructField("event_type", StringType(), False),
        StructField("data_field_1", StringType(), True),
        StructField("data_field_2", StringType(), True),
        StructField("numeric_field_1", DoubleType(), True),
        StructField("numeric_field_2", IntegerType(), True),
    ]
)


def create_sample_data_for_testing(spark: SparkSession) -> DataFrame:
    """Reference R11 (:398-420): the 3-row smoke fixture
    (login/purchase/view), same schema and values."""
    from datetime import datetime

    now = datetime.now()
    rows = [
        ("1", "user_123", now, "login", "web", "chrome", 1.0, 100),
        ("2", "user_456", now, "purchase", "mobile", "app", 25.99, 200),
        ("3", "user_789", now, "view", "web", "firefox", 0.0, 150),
    ]
    return local_frame(spark, rows, SAMPLE_SCHEMA)


__all__ = [
    "PipelineConfig",
    "PipelineResult",
    "create_database_and_table",
    "create_sample_data_for_testing",
    "daily_pipeline_run",
    "get_last_run_timestamp",
    "get_pipeline_status",
    "get_spark_session",
    "run_pipeline",
]
