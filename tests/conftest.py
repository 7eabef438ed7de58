"""Shared test fixtures: one tuned SparkSession per test session."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def jobs_in(spark, fn):
    """(fn's result, Spark jobs fn ran), counted from the status tracker
    under a job group of its own."""
    import uuid

    from spark_hudi_etl_pipeline_spark.pipeline.costlog import job_footprint

    sc = spark.sparkContext
    group = f"jobs:{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, job_footprint(sc, group)[0]


@pytest.fixture(scope="session")
def spark():
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    s = get_spark_session(
        "spark-graft-tests",
        master="local[8]",
        extra_configs={
            # spark.default.parallelism is left to Spark: local[8] makes
            # it 8, one wave of tasks for createDataFrame(list) frames
            # and for session.fan_out.
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_table(tmp_path):
    """Per-test scratch dir for parquet table writes."""
    return str(tmp_path / "table")
