"""Shared test fixtures: one tuned SparkSession per test session."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    s = get_spark_session(
        "spark-graft-tests",
        master="local[8]",
        extra_configs={
            "spark.sql.shuffle.partitions": "8",
            # Match local[8]. Engine code builds its small frames with
            # session.local_frame (a LocalTableScan, no Python worker),
            # so it no longer depends on this pin. Frames the tests build
            # themselves with createDataFrame(list) still do: the 'local'
            # profile's 32 would parallelize each into 32 Python-backed
            # partitions, and every downstream task pays a Python-worker
            # round-trip (a 4-row crossJoin once took 33s that way).
            "spark.default.parallelism": "8",
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
