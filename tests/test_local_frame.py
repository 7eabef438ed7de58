"""session.local_frame: small frames of Python rows are one Arrow-built
LocalTableScan with the list path's schema, values, type checks and
naive-timestamp reading; no engine module builds a frame any other way."""

from __future__ import annotations

import ast
import calendar
import json
import os
import subprocess
import sys
import uuid
from datetime import date, datetime
from pathlib import Path

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import Row
from pyspark.sql.types import StructType

from spark_hudi_etl_pipeline_spark.pipeline.costlog import job_footprint
from spark_hudi_etl_pipeline_spark.pipeline.runlog import LOG_SCHEMA
from spark_hudi_etl_pipeline_spark.session import local_frame

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "spark_hudi_etl_pipeline_spark"

ALL_TYPES = "s string, i int, l long, d double, b boolean, t timestamp, dt date"

#: (schema, one row): every column type the engine's call sites build,
#: as DDL and as a StructType with non-nullable fields, tuples and Rows.
ONE_ROW_CASES = [
    ("s string", ("a b",)),
    ("i int", (-7,)),
    ("l long", (2**40 + 3,)),
    ("d double", (0.1,)),
    ("b boolean", (True,)),
    ("t timestamp", (datetime(2024, 1, 31, 23, 59, 59, 123456),)),
    ("dt date", (date(2024, 1, 31),)),
    (ALL_TYPES, (None,) * 7),
    (
        LOG_SCHEMA,
        Row(
            pipeline_name="p", last_run_timestamp=None,
            current_run_timestamp=1706745599123, status="SUCCESS",
            records_processed=12, processing_time_seconds=1.5,
            error_message=None, created_at=1706745599124,
        ),
    ),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_to_collect(spark, df) -> tuple[list, tuple[int, int]]:
    sc = spark.sparkContext
    group = f"local_frame:{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "local_frame collect")
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    return rows, job_footprint(sc, group)


@pytest.mark.parametrize("schema,row", ONE_ROW_CASES, ids=lambda v: str(v)[:24])
def test_one_row_frame_matches_list_path(spark, schema, row):
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    df = local_frame(spark, [row], schema)
    assert df.schema == struct  # names, types and nullability
    assert "LocalTableScan" in _plan(df)
    assert df.rdd.getNumPartitions() == 1
    got, footprint = _jobs_to_collect(spark, df)
    assert footprint == (0, 0)  # collected in the Spark driver: no job, no task
    assert got == spark.createDataFrame([row], schema).collect()


def test_multi_row_frame_matches_list_path(spark):
    rows = [
        (f"f{i}", i, i * 2**33, i / 3, i % 2 == 0,
         datetime(2024, 1, 1, i % 24, i), date(2024, 1, 1 + i % 28))
        for i in range(40)
    ] + [(None,) * 7]
    df = local_frame(spark, rows, ALL_TYPES)
    assert "LocalTableScan" in _plan(df)
    got, footprint = _jobs_to_collect(spark, df)
    assert footprint == (0, 0)
    assert got == spark.createDataFrame(rows, ALL_TYPES).collect()


def test_collected_rows_round_trip(spark):
    """The lifecycle site re-reads collected Rows under their own schema."""
    src = spark.createDataFrame(
        [("a", 1, 2.5), ("b", None, None)], "k string, n int, x double"
    )
    df = local_frame(spark, src.collect(), src.schema)
    assert df.schema == src.schema
    assert df.collect() == src.collect()


def test_empty_rows_give_empty_frame_with_schema(spark):
    for schema in (ALL_TYPES, LOG_SCHEMA):
        df = local_frame(spark, [], schema)
        struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
        assert df.schema == struct
        assert df.collect() == []
        assert "LocalTableScan" in _plan(df)


def test_bad_rows_raise_like_the_list_path(spark):
    row = ("p", None, 1, "SUCCESS", 1, 1.0, None, 2)
    null_in_required = (None,) + row[1:]
    with pytest.raises(PySparkValueError):
        local_frame(spark, [row, null_in_required], LOG_SCHEMA)
    with pytest.raises(PySparkTypeError):
        local_frame(spark, [("seven",)], "i int")
    with pytest.raises(PySparkTypeError):
        local_frame(spark, [(3,)], "d double")
    with pytest.raises(PySparkValueError):
        local_frame(spark, [(2**31,)], "i int")


# A naive datetime is process-local time on the list path; Arrow alone
# would read it as UTC. Run under a non-UTC TZ in a fresh process.
_TZ_PROBE = """
import json
from datetime import datetime
from spark_hudi_etl_pipeline_spark.session import get_spark_session, local_frame
spark = get_spark_session(
    "local-frame-tz", master="local[1]", extra_configs={"spark.ui.enabled": "false"}
)
rows = [(datetime(2024, 7, 1, 12, 30, 0, 250),), (datetime(2024, 1, 15, 8, 0),)]
def micros(df):
    return [r[0] for r in df.selectExpr("unix_micros(t)").collect()]
print(json.dumps({
    "arrow": micros(local_frame(spark, rows, "t timestamp")),
    "list": micros(spark.createDataFrame(rows, "t timestamp")),
}))
"""


def test_naive_timestamp_reads_as_process_local_time():
    env = {**os.environ, "TZ": "America/New_York", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _TZ_PROBE],
        capture_output=True, text=True, check=True, timeout=300, cwd=REPO, env=env,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["arrow"] == got["list"]
    as_utc = [
        calendar.timegm(datetime(2024, 7, 1, 12, 30).timetuple()) * 10**6 + 250,
        calendar.timegm(datetime(2024, 1, 15, 8, 0).timetuple()) * 10**6,
    ]
    # New York is UTC-4 in July and UTC-5 in January.
    hours = [(a - u) // (3600 * 10**6) for a, u in zip(got["arrow"], as_utc)]
    assert hours == [4, 5]


def test_create_dataframe_only_inside_local_frame():
    session = PKG / "session.py"
    fn = next(
        n for n in ast.parse(session.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    hits = [
        (str(p.relative_to(REPO)), i)
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame" in line
    ]
    assert hits  # the helper itself still calls it
    outside = [
        h for h in hits
        if not (h[0] == str(session.relative_to(REPO)) and fn.lineno <= h[1] <= fn.end_lineno)
    ]
    assert outside == []
