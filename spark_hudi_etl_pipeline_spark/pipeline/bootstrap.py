"""Idempotent schema bootstrap — reference R2 (`pipeline_architecture.py
:69-122`): `CREATE DATABASE IF NOT EXISTS` + keyed-table DDL.

The reference issues ``CREATE TABLE … USING HUDI TBLPROPERTIES
(type='cow', primaryKey=…, preCombineField=…)`` (:78-97, :100-117).
Without the Hudi bundle those TBLPROPERTIES are inert strings, so the
fallback DDL here uses ``USING PARQUET`` and records the key/precombine
contract in table properties anyway — `operators/merge.py` enforces the
semantics at write time, which is where they live in the fallback
architecture.

Everything is `IF NOT EXISTS`-idempotent: re-running bootstrap on a live
deployment is a no-op, the reference's operational contract.

The audit log itself is NOT this catalog table. ``run_pipeline`` appends
its rows to the manifest-committed table at ``PipelineConfig.log_path``,
and ``api.get_pipeline_status`` reads them from there. A plain
``USING parquet LOCATION <log_path>`` table would list every parquet
file in that directory, including the uncommitted files a crashed commit
leaves behind, so the catalog table stays an empty DDL stand-in for the
reference's ``SELECT … FROM pipeline_layer.pipeline_log``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .runlog import LOG_SCHEMA


def create_pipeline_log_table(spark: SparkSession) -> None:
    """Reference :73-74 and :100-117: the ``pipeline_layer`` database and
    its ``pipeline_log`` audit table, composite key (pipeline_name,
    created_at), precombine on created_at. Runs log to the
    manifest-committed table at ``PipelineConfig.log_path``, not to this
    one; read them with ``api.get_pipeline_status``."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {quoted('pipeline_layer')}")
    # The DDL columns are the audit log's write schema (reference
    # :100-117, FIXTURES.md §A2).
    columns = ", ".join(
        f"{f.name} {f.dataType.simpleString().upper()}" for f in LOG_SCHEMA
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {quoted('pipeline_layer.pipeline_log')} "
        f"({columns}) USING parquet "
        "TBLPROPERTIES (type = 'cow', primaryKey = 'pipeline_name,created_at', "
        "preCombineField = 'created_at')"
    )


def quoted(ident: str) -> str:
    """Backtick-quote each dot-separated part (bound identifiers, not
    string splicing — SURVEY.md §3 injection note)."""
    parts = ident.split(".")
    for p in parts:
        if not p or "`" in p:
            raise ValueError(f"invalid identifier part {p!r}")
    return ".".join(f"`{p}`" for p in parts)
